package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** Session-level execution tuning applied lazily from the engine's own
  * query paths (the bench/driver sessions are built by frozen harness code,
  * so the engine cannot rely on conf being set at session construction).
  */
object Tuning {

  private val applied = new SessionCache[java.lang.Boolean]

  /** Make guarded one-shot collects single-job.
    *
    * Every `limit(cap + 1).collect()` in the engine (Searcher.blocksProbe,
    * the LSH/MinHash candidate probes, tombstone/allowlist resolution) is an
    * OVERFLOW GUARD, not a row cut: the expected case is that everything
    * under the cap is collected, so the plan must scan every partition
    * anyway. Spark's CollectLimit executes incrementally —
    * `spark.sql.limit.initialNumPartitions` (default 1) partitions first,
    * growing by `spark.sql.limit.scaleUpFactor` (4) — which turns one
    * logical probe into up to ⌈log₄ P⌉ + 1 sequential job launches (guide
    * §1: measure where the time goes — for sub-second warm queries these
    * extra launches dominate). Raising the initial partition count to cover
    * the scan makes each probe exactly ONE job. Results are unchanged:
    * under the cap the full row set is collected either way; over the cap
    * both shapes return > cap rows and the caller takes its fallback.
    *
    * 512 covers every local layout (shuffle width = cores); on a cluster
    * with more scan partitions the first batch is 512 instead of 1 — still
    * bounded, and still the right trade for guard-style limits. Set
    * explicitly on the session to override; we only fill the default.
    */
  def ensureProbeConf(spark: SparkSession): Unit =
    applied(spark).getOrElseUpdate("probe", {
      val k = "spark.sql.limit.initialNumPartitions"
      // respect an explicit non-default user/session setting; note that
      // RuntimeConfig.get returns the registered default ("1") when unset,
      // so "still at the default" is the only observable "unset" signal
      if (spark.conf.get(k) == "1") spark.conf.set(k, "512")
      java.lang.Boolean.TRUE
    })

  /** Membership filter on a driver-resident id set. Small sets stay an
    * `isin` (a literal list Catalyst can fold and push as a min/max range);
    * large sets become a BROADCAST LEFT-SEMI join against a local relation
    * — an `isin` with tens of thousands of literals builds (and optimizes)
    * an expression tree of that size per query, which costs more
    * DRIVER-side planning time than the whole scan (parquet pushdown
    * ignores IN-lists past ~10 literals anyway, so nothing is lost at the
    * scan). Row set is identical either way (ids are distinct by
    * construction at every call site).
    */
  def idFilter(spark: SparkSession, df: DataFrame, colName: String,
               ids: Array[Long]): DataFrame =
    if (ids.length <= 1000) df.filter(col(colName).isin(ids.toSeq: _*))
    else {
      import spark.implicits._
      df.join(broadcast(spark.createDataset(ids.toSeq).toDF(colName)),
        Seq(colName), "left_semi")
    }
}
