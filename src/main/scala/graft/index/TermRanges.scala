package graft.index

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Term-range layout of the postings table (SURVEY M3's
  * `repartitionByRange(term)`; partition elimination over a globally
  * range-encoded key, as in "Global Range Encoding for Efficient Partition
  * Elimination", EDBT 2018).
  *
  * The build and the compaction fold write postings partitioned on
  * contiguous ranges of the (term, salt) key, so each file covers one term
  * range and a (term, salt) run never splits across files. A term probe
  * then reads only the files whose footer [min, max] term statistics can
  * hold one of its terms (`Snapshot.postingsOf`), and inside a file the
  * (term, salt, docId) sort lets row-group statistics prune further.
  *
  * Keys compare in unsigned UTF-8 byte order — Parquet's order for binary
  * statistics and `UTF8String.binaryCompare`'s, i.e. Unicode code-point
  * order. `String.compareTo` is UTF-16 code-unit order, which sorts
  * supplementary-plane characters BELOW U+E000–U+FFFF and would misplace
  * such terms against the footer ranges.
  *
  * Range bounds never need Spark's range-exchange sampler (which executes
  * the whole child plan once more just to sample it): the build derives
  * them from a small document sample, the fold from the folded sources'
  * termstats, and a hash-partitioned exchange on a routing key places each
  * range in its own partition.
  */
object TermRanges {

  def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** Unsigned lexicographic byte order (Parquet binary statistics order). */
  def compareBytes(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  private def compareKey(t1: Array[Byte], s1: Int, t2: Array[Byte], s2: Int): Int = {
    val c = compareBytes(t1, t2)
    if (c != 0) c else Integer.compare(s1, s2)
  }

  /** Sampled (term, salt) keys per output partition the bounds aim for. */
  private val SampleKeysPerPartition = 100

  /** Documents to tokenize for the build's bounds. Every sampled document
    * contributes its whole term set, spread over the entire key range, so
    * a few dozen per partition place the bounds well.
    */
  private[index] def sampleDocs(parts: Int): Long = math.max(64L, 8L * parts)

  /** Up to `parts - 1` inclusive upper bounds that cut the weighted keys
    * into contiguous ranges of about equal weight: range p holds the keys
    * in (bound(p-1), bound(p)]; the last range is open above.
    */
  private[graft] def boundsOf(sample: Seq[(Array[Byte], Int, Double)],
                              parts: Int): (Array[Array[Byte]], Array[Int]) = {
    val sorted = sample.sortWith((a, b) => compareKey(a._1, a._2, b._1, b._2) < 0).toIndexedSeq
    val step = sorted.iterator.map(_._3).sum / parts
    val terms = Array.newBuilder[Array[Byte]]
    val salts = Array.newBuilder[Int]
    var nb = 0
    var cum = 0.0
    var i = 0
    while (i < sorted.length && nb < parts - 1) {
      val (t, s, w) = sorted(i)
      cum += w
      val lastOfKey = i + 1 == sorted.length ||
        compareKey(sorted(i + 1)._1, sorted(i + 1)._2, t, s) != 0
      if (lastOfKey && cum >= step * (nb + 1)) {
        terms += t; salts += s; nb += 1
      }
      i += 1
    }
    (terms.result(), salts.result())
  }

  /** For each partition p an int whose hash partitioning over `parts`
    * partitions is p — Spark's own partition-id expression decides, so a
    * hash exchange on `keys(p)` places range p in partition p.
    */
  private[index] def hashKeys(parts: Int): Array[Int] = {
    val keys = Array.fill(parts)(-1)
    var found = 0
    var k = 0
    while (found < parts) {
      val p = HashPartitioning(Seq(Literal(k)), parts).partitionIdExpression
        .eval(InternalRow.empty).asInstanceOf[Int]
      if (keys(p) < 0) { keys(p) = k; found += 1 }
      k += 1
    }
    keys
  }

  /** The routing column for `repartition(parts, route(...))`: each
    * (term, salt) key lands in the partition of its range.
    */
  def route(spark: SparkSession, bounds: (Array[Array[Byte]], Array[Int]), parts: Int,
            term: Column, salt: Column): Column = {
    graft.functions.Registry.ensure(spark, "term_range_route")(exprs =>
      TermRangeRoute(exprs(0), exprs(1), new TermRangeRouter(
        exprs(2).eval(InternalRow.empty).asInstanceOf[ArrayData].toArray[Array[Byte]](BinaryType),
        exprs(3).eval(InternalRow.empty).asInstanceOf[ArrayData].toIntArray(),
        exprs(4).eval(InternalRow.empty).asInstanceOf[Int])))
    call_function("term_range_route", term, salt,
      typedLit(bounds._1.toSeq), typedLit(bounds._2.toSeq), lit(parts))
  }

  /** Bounds for a fold from the folded sources' termstats: each term's df
    * is already on disk, so no pass over the postings is needed. A
    * probability-proportional-to-size sample keeps the collect at about
    * `SampleKeysPerPartition · parts` rows at any vocabulary size: a row is
    * kept iff u(term)·τ < df (u a hash of the term in [0, 1), τ =
    * totalDf / K, where `totalDf` bounds Σdf from above — the fold passes
    * the sources' token count) and then weighs max(df, τ): every term at
    * least as heavy as τ is kept with its exact weight. A term's weight is spread evenly over its
    * salts (a fold re-salts docIds into equal-width ranges), in pieces of
    * about τ each.
    */
  def foldBounds(spark: SparkSession, termstats: Seq[String], totalDf: Double,
                 salts: Int, parts: Int): (Array[Array[Byte]], Array[Int]) = {
    val tau = math.max(1.0, totalDf / (SampleKeysPerPartition.toDouble * parts))
    val unit = xxhash64(col("term")).bitwiseAND(lit(Long.MaxValue)).cast("double") /
      lit(Long.MaxValue.toDouble)
    val rows = IndexBuilder.readTable(spark, IndexBuilder.Tables.Termstats, termstats)
      .filter(unit * lit(tau) < col("df"))
      .select(col("term"), col("df"))
      .collect()
    val sample = rows.toSeq.flatMap { r =>
      val w = math.max(r.getLong(1).toDouble, tau)
      val pieces = math.max(1, math.min(salts.toLong, math.round(w / tau)).toInt)
      val t = utf8(r.getString(0))
      (0 until pieces).map(j => (t, (j.toLong * salts / pieces).toInt, w / pieces))
    }
    boundsOf(sample, parts)
  }

  /** A postings file: its listed status, its footer (schema, row groups
    * and their column statistics) and the [min, max] of its `term` column
    * over all its row groups — None when any row group lacks term
    * statistics (such a file can hold any term). A term probe selects files
    * by the range and opens them with the footer (`PostingsReader`), so a
    * probe lists no directory and reads no footer again.
    */
  final case class FileRange(status: FileStatus, footer: ParquetMetadata,
                             range: Option[(Array[Byte], Array[Byte])]) {
    def path: String = status.getPath.toString
    def mayHold(term: Array[Byte]): Boolean = range.forall { case (lo, hi) =>
      compareBytes(lo, term) <= 0 && compareBytes(term, hi) <= 0
    }
  }

  /** Footer term ranges of a table's data files (driver-side: one footer
    * read per file; `Fs.listLocatedFiles` skips `_SUCCESS` and `.crc`).
    * Files without a row group (the writer's task 0 writes one even when
    * its partition is empty) are skipped: they hold no term.
    */
  def fileRanges(tableDir: String): Seq[FileRange] =
    Fs.listLocatedFiles(tableDir).flatMap { f =>
      import scala.jdk.CollectionConverters._
      val footer = Fs.parquetFooter(f)
      val groups = footer.getBlocks.asScala.toSeq
      val perGroup = groups.map { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == "term")
          .map(_.getStatistics)
          .filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
          .map(s => (s.getMinBytes, s.getMaxBytes))
      }
      def range =
        if (perGroup.exists(_.isEmpty)) None
        else Some((perGroup.flatten.map(_._1).reduce((a, b) => if (compareBytes(a, b) <= 0) a else b),
          perGroup.flatten.map(_._2).reduce((a, b) => if (compareBytes(a, b) >= 0) a else b)))
      if (groups.isEmpty) None else Some(FileRange(f, footer, range))
    }

  /** True when two files' term ranges overlap beyond a shared boundary
    * term — the layout of an index written before the range layout (every
    * hash-partitioned file spans the whole dictionary), which a `compact`
    * rewrites range-partitioned. Files without statistics prove nothing.
    */
  def overlapping(files: Seq[FileRange]): Boolean = {
    // by (min, max): a one-term file [t, t] sorts before its neighbor [t, u]
    val rs = files.flatMap(_.range).sortWith { (a, b) =>
      val c = compareBytes(a._1, b._1)
      c < 0 || (c == 0 && compareBytes(a._2, b._2) < 0)
    }
    rs.zip(rs.drop(1)).exists { case (a, b) => compareBytes(a._2, b._1) > 0 }
  }
}

/** Binary search of a (term, salt) key over the range bounds. */
final class TermRangeRouter(bounds: Array[Array[Byte]], salts: Array[Int], parts: Int)
    extends Serializable {
  require(bounds.length == salts.length && bounds.length < math.max(parts, 1),
    s"${bounds.length} range bounds for $parts partitions")
  private val terms: Array[UTF8String] = bounds.map(UTF8String.fromBytes)
  private val keys: Array[Int] = TermRanges.hashKeys(parts)

  /** Index of the first bound ≥ the key (bounds are inclusive uppers). */
  def partitionOf(term: UTF8String, salt: Int): Int = {
    var lo = 0
    var hi = terms.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val c = terms(mid).binaryCompare(term)
      if (c < 0 || (c == 0 && salts(mid) < salt)) lo = mid + 1 else hi = mid
    }
    lo
  }

  def route(term: UTF8String, salt: Int): Int = keys(partitionOf(term, salt))
}

/** `term_range_route(term, salt, bounds, salts, parts)` — the hash key that
  * sends a (term, salt) key to its range's partition (TermRanges.route).
  */
final case class TermRangeRoute(term: Expression, salt: Expression, router: TermRangeRouter)
    extends BinaryExpression {
  override def left: Expression = term
  override def right: Expression = salt
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(t: Any, s: Any): Any =
    router.route(t.asInstanceOf[UTF8String], s.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.addReferenceObj("router", router, classOf[TermRangeRouter].getName)
    defineCodeGen(ctx, ev, (t, s) => s"$r.route($t, $s)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): TermRangeRoute =
    copy(term = l, salt = r)

  override def prettyName: String = "term_range_route"
}
