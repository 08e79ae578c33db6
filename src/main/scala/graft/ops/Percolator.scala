package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.index.CorpusDoc

/** ES percolator (the `_percolate` API: reverse search — stored queries,
  * incoming documents) restated Spark-first. Queries are DATA:
  * `(query_id: string, terms: array<string>, min_match: int)` — min_match
  * = |terms| is `bool.must` (all clauses), 1 is the dis-max/should shape
  * (any clause), m-of-n in between (`minimum_should_match`). The result is
  * the matched `(query_id, doc_id)` pairs — the alerting / saved-search /
  * routing primitive over a document stream.
  *
  * Scale shape: the stored-query table is small by nature (saved searches
  * — thousands, not billions), so its exploded term list BROADCASTS to
  * every executor; the document side — the 100 TB side — never moves: one
  * narrow tokenize+explode map, a broadcast-hash join on `term`, and the
  * only shuffle is the partial-aggregated match count keyed on
  * `(query_id, doc_id)`, whose volume is bounded by matched pairs, not
  * corpus tokens. No index required — percolation scans the NEW docs, not
  * the corpus, so it composes with streaming ingest (run per micro-batch
  * on the batch's docs) exactly like the decontamination screen.
  */
object Percolator {

  /** Matched `(query_id, doc_id)` pairs: a query matches a doc when at
    * least `min_match` of its DISTINCT terms occur in the doc's analyzed
    * token set. Unsatisfiable or degenerate stored queries are refused
    * loudly rather than silently never/always matching: `min_match < 1`
    * would claim matches with zero overlapping terms (no such pair even
    * reaches the count), and `min_match > |distinct terms|` can never be
    * met. Validation cost is one job over the small query table.
    */
  def percolate(spark: SparkSession, queries: DataFrame,
                docs: DataFrame): DataFrame = {
    val qterms = queries
      .select(col("query_id"), explode(col("terms")).as("term"))
      .distinct()
    val bad = graft.Tuning.collectUpTo(queries
      .select(col("query_id"), col("min_match"),
        size(array_distinct(col("terms"))).as("nterms"))
      .filter(col("min_match") < 1 || col("min_match") > col("nterms"))
      .select(col("query_id")), 5)
    require(bad.isEmpty,
      s"degenerate stored queries (min_match < 1 or > |distinct terms|): " +
        bad.map(_.getString(0)).mkString(", "))
    val dx = docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z0-9]+")).as("term"))
      .filter(col("term") =!= "")
      .distinct()
    dx.join(broadcast(qterms), "term")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("matched"))
      .join(broadcast(queries.select(col("query_id"), col("min_match"))),
        "query_id")
      .filter(col("matched") >= col("min_match"))
      .select(col("query_id"), col("doc_id"))
  }

  /** One micro-batch of continuous percolation: the batch's matches land
    * in their own `batch=<id>` partition written with OVERWRITE, so an
    * at-least-once foreachBatch replay rewrites the identical partition
    * instead of duplicating alerts. Factored out so crash-replay is
    * directly testable.
    */
  def percolateBatch(spark: SparkSession, queries: DataFrame,
                     batch: Dataset[CorpusDoc], batchId: Long,
                     alertsDir: String): Unit = {
    val docs = batch.toDF()
      .select(col("path").as("doc_id"), col("content").as("text"))
    percolate(spark, queries, docs)
      .write.mode("overwrite").parquet(s"$alertsDir/batch=$batchId")
  }

  /** Continuous percolation — the alerting deployment: saved searches
    * evaluated against every ingested micro-batch, matched
    * `(query_id, doc_id)` pairs appended to a partitioned parquet alert
    * log (`doc_id` = corpus path here — percolate is key-type-agnostic).
    * Cost per batch is the batch's own tokenize map + broadcast joins
    * against the small query set; nothing scales with what was already
    * screened — the same shape as the ingest-time decontamination screen.
    */
  def percolateStream(spark: SparkSession, srcDir: String, queries: DataFrame,
                      alertsDir: String, checkpointDir: String): StreamingQuery =
    graft.streaming.StreamingIngest.source(spark, srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[CorpusDoc], batchId: Long) =>
        percolateBatch(spark, queries, batch, batchId, alertsDir)
      }
      .start()
}
