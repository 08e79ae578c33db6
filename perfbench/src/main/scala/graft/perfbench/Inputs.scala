package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

import graft.index.{CorpusDoc, IndexBuilder}

/** Sizes of the generated inputs; the same for both workloads. */
object Sizes {
  val Cores = 4
  val Docs = 8000
  val WarmDocs = 2000
  val Batches = 5
  val BatchDocs = 500
  val MergeAt = 3
  val Vectors = 8000
  val Dim = 64
  val Centers = 64
  val Spread = 0.35
  val DedupDocs = 4000
  val DupClusters = 40
  val ClusterSize = 3
  val DupRate = 0.03
}

/** A workload: every run executes every phase on the same input sizes;
  * the workloads differ in the query stream the search phase sends.
  * The search phase times `queriesPerSecond × --seconds` queries, a fixed
  * set whatever their speed (the rates are sized so that the engine, as it
  * stood when this benchmark was written, needs about `--seconds` for them
  * on a 4-core host), and reports latency at `tailPercentile`.
  */
final case class Workload(name: String, repeatQueries: Boolean, queriesPerSecond: Int,
                          tailPercentile: Int)

object Workloads {
  /** 1,500 queries at 6 s: p99 has 15 samples beyond it. */
  val Cached = Workload("cached", repeatQueries = true, queriesPerSecond = 250,
    tailPercentile = 99)
  /** 42 queries at 6 s: p75 has 10 samples beyond it and sits 15 points
    * below p90, the line a one-in-ten hot share falls on.
    */
  val Uncached = Workload("uncached", repeatQueries = false, queriesPerSecond = 7,
    tailPercentile = 75)
  val all: Seq[Workload] = Seq(Cached, Uncached)
}

/** Where one run's generated inputs live, and what they hold. */
final case class Inputs(dir: String, seed: Long, contentBytes: Long) {
  def corpus: String = s"$dir/corpus"
  def warmCorpus: String = s"$dir/warm"
  /** Directory in the layout Dedup reads (`documents.parquet`). */
  def dedupDir: String = s"$dir/dedup"
  /** Directory in the layout Similarity reads (`embeddings.parquet`). */
  def annDir: String = s"$dir/ann"

  def batchDocs(b: Int): Seq[CorpusDoc] = Inputs.batchDocs(seed, b)
  def batch(spark: SparkSession, b: Int): Dataset[CorpusDoc] =
    spark.createDataset(batchDocs(b))(Inputs.DocEnc)
}

object Inputs {
  val DocEnc = Encoders.product[CorpusDoc]
  private val WarmSalt = 0x3a3aL

  def batchDocs(seed: Long, b: Int): Seq[CorpusDoc] =
    (0 until Sizes.BatchDocs).map(j => Gen.ingestDoc(seed, Sizes.Docs, b, Sizes.BatchDocs, j))

  /** SHA-256 over every generated row, in index order. Two generations
    * from one seed must give the same hex string.
    */
  def digest(seed: Long): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = { md.update(s.getBytes(UTF_8)); md.update(0.toByte) }
    def addDoc(d: CorpusDoc): Unit = Seq(d.repo, d.path, d.commit, d.lang, d.content).foreach(add)
    (0L until Sizes.Docs).foreach(i => addDoc(Gen.doc(seed, i)))
    (0L until Sizes.WarmDocs).foreach(i => addDoc(Gen.doc(seed ^ WarmSalt, i)))
    (0 until Sizes.Batches).foreach(b => batchDocs(seed, b).foreach(addDoc))
    (0L until Sizes.DedupDocs).foreach(i => add(dedupText(seed, i)))
    (0L until Sizes.Vectors).foreach(i => embedding(seed, i).foreach(x => add(x.toString)))
    md.digest().map("%02x".format(_)).mkString
  }

  def dedupText(seed: Long, id: Long): String =
    Gen.dedupText(seed, id, Sizes.DupClusters, Sizes.ClusterSize, Sizes.DupRate)

  def embedding(seed: Long, id: Long): Array[Float] =
    Gen.embedding(seed, id, Sizes.Dim, Sizes.Centers, Sizes.Spread)

  /** Write every table input under `dir`, generated on the executors;
    * the tables are written concurrently.
    */
  def write(spark: SparkSession, seed: Long, dir: String): Inputs = {
    import spark.implicits._
    val parts = Sizes.Cores
    val bytes = spark.sparkContext.longAccumulator("content-bytes")
    IndexBuilder.runConcurrently(Seq(
      () => spark.range(0, Sizes.Docs, 1, parts).map { i =>
        val d = Gen.doc(seed, i)
        bytes.add(d.content.getBytes(UTF_8).length.toLong)
        d
      }(DocEnc).write.parquet(s"$dir/corpus"),
      () => spark.range(0, Sizes.WarmDocs, 1, parts).map(i => Gen.doc(seed ^ WarmSalt, i))(DocEnc)
        .write.parquet(s"$dir/warm"),
      () => spark.range(0, Sizes.DedupDocs, 1, parts)
        .map(i => (i: Long, dedupText(seed, i))).toDF("doc_id", "text")
        .write.parquet(s"$dir/dedup/documents.parquet"),
      () => spark.range(0, Sizes.Vectors, 1, parts)
        .map(i => (i: Long, embedding(seed, i), (i % 10).toInt))
        .toDF("vec_id", "embedding", "label")
        .write.parquet(s"$dir/ann/embeddings.parquet")))
    Inputs(dir, seed, bytes.value)
  }

  /** Planted near-duplicate pairs whose exact 3-word-shingle Jaccard
    * reaches `threshold` — the pairs MinHash-LSH must find.
    */
  def plantedPairs(seed: Long, threshold: Double): Seq[(Long, Long)] = {
    def shingles(t: String): Set[String] = {
      val ws = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      ws.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    for {
      c <- 0 until Sizes.DupClusters
      base = c.toLong * Sizes.ClusterSize
      a <- base until base + Sizes.ClusterSize
      b <- a + 1 until base + Sizes.ClusterSize
      if jaccard(shingles(dedupText(seed, a)), shingles(dedupText(seed, b))) >= threshold
    } yield (a, b)
  }

  def jaccard(x: Set[String], y: Set[String]): Double =
    if (x.isEmpty && y.isEmpty) 1.0 else (x & y).size.toDouble / (x | y).size
}
