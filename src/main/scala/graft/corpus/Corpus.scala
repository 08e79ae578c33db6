package graft.corpus

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.CorpusDoc

/** Corpus readers + deterministic synthetic generator.
  *
  * The engine's input is the input_hint table
  * `(repo, path, commit, lang, content)` (BASELINE.json:15). Two ways to
  * get one:
  *  - [[Corpus.fromDocuments]]: map the driver-provided stand-in
  *    `documents.parquet` (doc_id, text, lang, source, n_chars) into the
  *    corpus shape (FIXTURES.md §2 mapping).
  *  - [[Corpus.synth]]: seeded generator producing code-looking content with
  *    camelCase/snake_case identifiers, a Zipf-skewed vocabulary (hot terms
  *    exercise salting) and unicode/control-char edge cases (mirrors the
  *    reference's utf8 scrub concern, db/main.go:14-37).
  */
object Corpus {

  /** Map the driver's documents.parquet to the corpus shape. Pure column
    * ops — stays in whole-stage codegen; parquet scan reads only the used
    * columns.
    */
  def fromDocuments(spark: SparkSession, sfDir: String): Dataset[CorpusDoc] =
    fromDocumentsDf(spark, spark.read.parquet(s"$sfDir/documents.parquet"))

  /** Same mapping over an arbitrary documents-shaped DataFrame (e.g. a
    * filtered split for the streamed-ingest fixture).
    */
  def fromDocumentsDf(spark: SparkSession, df: DataFrame): Dataset[CorpusDoc] = {
    import spark.implicits._
    df.select(
        col("source").as("repo"),
        concat(col("lang"), lit("/"), col("doc_id").cast("string")).as("path"),
        sha2(col("text"), 256).as("commit"),
        col("lang"),
        col("text").as("content"))
      .as[CorpusDoc]
  }

  /** Raw documents table (for queries that keep the original doc_id). */
  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  // ---- synthetic generator (FIXTURES.md §1) -------------------------------

  private val langs = Array("scala", "go", "java", "py", "js", "md")
  private val exts = Map("scala" -> "scala", "go" -> "go", "java" -> "java",
    "py" -> "py", "js" -> "js", "md" -> "md")
  // Controlled vocabulary with known df skew: first few terms are very hot.
  private val hotWords = Array("the", "import", "def", "return", "val")
  private val vocab = Array(
    "parser", "lexer", "tokenStream", "readParquet", "writeBuffer",
    "hash_join", "sort_merge", "block_max", "postingList", "docFreq",
    "sparkSession", "dataFrame", "catalystRule", "shuffleWrite",
    "HTTPServer", "parseJSON", "fooBar", "foo_bar", "baz", "qux", "quux",
    "varint", "delta_encode", "segmentMerge", "checkpointDir", "lineageRow")
  private val rareWords = Array("zzz_rare_token", "yyy_singleton", "xxq_unique")

  /** Deterministic per-index PRNG — no shared mutable state, so generation
    * is identical at any parallelism.
    */
  private def mix(seed: Long, i: Long, j: Long): Long = {
    var x = seed ^ (i * 0x9e3779b97f4a7c15L) ^ (j * 0xc2b2ae3d27d4eb4fL)
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def synthDoc(i: Long, seed: Long): CorpusDoc = {
    def r(j: Long): Long = mix(seed, i, j)
    def pos(j: Long, m: Int): Int = (((r(j) % m) + m) % m).toInt
    // Zipf-ish repo distribution: repo id = floor(sqrt(uniform)) squashes
    // toward 0 → a few hot repos.
    val repoId = math.sqrt(pos(0, 400).toDouble).toInt
    val repo = s"org${repoId % 7}/repo$repoId"
    val lang = langs(pos(1, langs.length))
    val depth = 1 + pos(2, 3)
    val dirs = (0 until depth).map(d => s"pkg${pos(3 + d, 9)}").mkString("/")
    val path = s"$dirs/File${pos(7, 5000)}_$i.${exts(lang)}"
    val nWords = 20 + pos(8, 180) // varied lengths so avgdl / b matters
    val sb = new StringBuilder
    var w = 0
    while (w < nWords) {
      val roll = pos(100 + w, 100)
      val word =
        if (roll < 35) hotWords(pos(200 + w, hotWords.length))
        else if (roll < 97) vocab(pos(300 + w, vocab.length))
        else if (roll < 99) rareWords(pos(400 + w, rareWords.length))
        else "caf\u00e9\u0000tok" // unicode + NUL edge case (utf8-scrub analog)
      sb.append(word)
      sb.append(if (pos(500 + w, 7) == 0) "(x_1);\n" else " ")
      w += 1
    }
    val content = sb.toString
    val commit =
      f"${mix(seed, i, 0xc0de) & Long.MaxValue}%016x${mix(seed, i, 0xfeed) & Long.MaxValue}%016x${i & 0xffffffffL}%08x"
    CorpusDoc(repo, path, commit, lang, content)
  }

  /** n deterministic docs; distributed via spark.range (no driver loop). */
  def synth(spark: SparkSession, n: Long, seed: Long = 42L,
            parallelism: Int = 0): Dataset[CorpusDoc] = {
    import spark.implicits._
    val parts = if (parallelism > 0) parallelism else spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, parts).map(i => synthDoc(i, seed))
  }
}
