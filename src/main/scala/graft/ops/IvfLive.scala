package graft.ops

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType, StructType}
import graft.index.{Epochs, Fs, IndexBuilder, StateMemo}

/** Everything a session derives from one IVF index state — the IVF twin
  * of `graft.index.Live`. The state pins its root once; its fingerprint
  * covers the root, the content stamp of the root's `centroids` and the
  * committed `append-*` and `del-*` deltas, so any build, rebuild, fold,
  * append or delete commit — in any session — yields a new state. Each
  * part is resolved at most once, on first use: the centroids, the emb
  * files of the root and of every append delta by `list_id`, and the
  * sorted delete set with one broadcast of it.
  *
  * A state replacing one with the same root part of the fingerprint
  * starts with its centroids and listed emb dirs (a committed table never
  * changes), so an append re-lists only its own delta; with the same
  * `del-*` list too, it also takes over the delete broadcast.
  */
final class IvfLive private (spark: SparkSession, val root: String,
                             val appends: Seq[String], val dels: Seq[String],
                             val fingerprint: String, private val rootFingerprint: String,
                             prev: Option[IvfLive]) extends StateMemo.Held {
  import IvfLive._

  private var quantizer: Array[(Int, Array[Double])] = null
  // emb table dir → its files with their list ids
  private var listed = Map.empty[String, Seq[(Int, FileStatus)]]
  private var deleted: Option[Broadcast[Array[Long]]] = null
  private var deletedKept = false

  prev.filter(_.rootFingerprint == rootFingerprint).foreach { p =>
    p.synchronized {
      quantizer = p.quantizer
      listed = p.listed
      if (p.dels == dels && p.deleted != null) {
        deleted = p.deleted
        p.deletedKept = true
      }
    }
  }

  /** The coarse quantizer: (list_id, centroid) sorted by list_id. */
  def centroids: Array[(Int, Array[Double])] = synchronized {
    if (quantizer == null) {
      import spark.implicits._
      quantizer = IndexBuilder.readTable(spark, Centroids, Seq(s"$root/centroids"))
        .as[(Int, Array[Double])].collect().sortBy(_._1)
    }
    quantizer
  }

  /** Files of the root's and every append delta's emb, by list id. */
  private lazy val byList: Map[Int, Seq[FileStatus]] = {
    val tables = s"$root/emb" +: appends.map(_ + "/emb")
    listed = tables.map(t => t -> listed.getOrElse(t, listEmb(t))).toMap
    tables.flatMap(listed).groupMap(_._1)(_._2)
  }

  /** (vec_id, embedding, label) of the vectors in `lists`, deletes
    * included; reads only those lists' files.
    */
  def emb(lists: Seq[Int]): DataFrame =
    IndexBuilder.readFiles(spark, Emb, lists.flatMap(byList.getOrElse(_, Nil)))

  /** Every vector of this state, deletes included. */
  def embAll: DataFrame = emb(byList.keys.toSeq)

  /** `rows` without this state's deleted vectors (by their `vec_id`),
    * filtered through one broadcast of the sorted delete set; with no
    * deletes, unfiltered.
    */
  def live(rows: DataFrame): DataFrame = synchronized {
    if (deleted == null) deleted =
      if (dels.isEmpty) None
      else {
        import spark.implicits._
        Some(spark.sparkContext.broadcast(
          IndexBuilder.readTable(spark, Ids, dels.map(_ + "/ids"))
            .distinct().as[Long].collect().sorted))
      }
    deleted
  } match {
    case None => rows
    case Some(b) =>
      rows.filter(udf((id: Long) => java.util.Arrays.binarySearch(b.value, id) < 0)
        .apply(col("vec_id")))
  }

  private[graft] def release(): Unit = synchronized {
    // unpersist, not destroy: a probe still running on this state may use
    // the broadcast; executors re-fetch it from the driver if they must
    if (deleted != null && !deletedKept) deleted.foreach(_.unpersist(blocking = false))
  }
}

object IvfLive {
  /** Declared schemas of the IVF tables: an emb file (its `list_id` is the
    * directory name, not a column), the centroids and a delete delta.
    */
  val Emb: StructType = new StructType()
    .add("vec_id", LongType).add("embedding", ArrayType(FloatType)).add("label", IntegerType)
  val Centroids: StructType = new StructType()
    .add("list_id", IntegerType).add("centroid", ArrayType(DoubleType))
  val Ids: StructType = new StructType().add("vec_id", LongType)

  private val memo = new StateMemo[IvfLive]

  /** The state of the IVF index at `dir` in `spark`'s session. */
  def of(spark: SparkSession, dir: String): IvfLive = {
    val root = Epochs.root(dir)
    val rootFp = s"$root|${Fs.sourceStamp(s"$root/centroids")}"
    val appends = Epochs.committedDeltas(root, "append-")
    val dels = Epochs.committedDeltas(root, "del-")
    val fp = s"$rootFp|${appends.map(Fs.name).mkString(",")}|${dels.map(Fs.name).mkString(",")}"
    memo.of(spark, dir, fp)(new IvfLive(spark, root, appends, dels, fp, rootFp, _))
  }

  /** An emb table's data files, each with the list id its directory names. */
  private def listEmb(table: String): Seq[(Int, FileStatus)] =
    Fs.listLocatedFiles(table, recursive = true).map(f => f.getPath.getParent.getName.stripPrefix("list_id=").toInt -> f)
}
