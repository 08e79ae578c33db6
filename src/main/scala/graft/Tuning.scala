package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.execution.{LocalTableScanExec, SQLExecution}
import org.apache.spark.sql.functions.{broadcast, col}

/** Driver-side execution helpers shared by the engine's query paths. None
  * reads or writes session config: a bound is a parameter of the call.
  */
object Tuning {

  /** Bound on a driver-collected LSH / dedup candidate set (doc ids or id
    * pairs); past it the caller takes its distributed semi-join.
    */
  val MaxDriverCands: Int = 100000

  /** The rows `ds.limit(n).collect()` returns, in the same order, from ONE
    * Spark job. Every bounded driver fetch in the engine is an OVERFLOW
    * GUARD, not a row cut (`collectUpTo(ds, cap + 1)`, then `length > cap`
    * takes the caller's fallback or fails loudly): the expected case
    * collects everything under the cap, so every partition is scanned
    * anyway. `limit(n).collect()` plans a CollectLimit, which scans
    * `spark.sql.limit.initialNumPartitions` (default 1) partitions first
    * and grows by `scaleUpFactor` — up to ⌈log₄ P⌉ + 1 sequential jobs for
    * one logical probe. Here the Dataset's own physical plan runs as one
    * job in which each partition ships at most its first n rows, and the
    * driver keeps the first n in partition order — exactly CollectLimit's
    * rows, with the same driver-memory bound. Rows cross as UnsafeRows and
    * are decoded once on the driver, as in `collect()`: no per-row typed
    * round trip on the executors and no second plan. (A `LocalLimit` node
    * over the plan measured ~18 ms slower per cold probe in whole-stage
    * code.) Rows already on the driver (a local relation) run no job, as
    * under `limit`; over an AQE exchange (`distinct()`) both forms run the
    * exchange's job first.
    */
  def collectUpTo[T](ds: Dataset[T], n: Int): Array[T] = {
    val qe = ds.queryExecution
    val rows: Iterator[InternalRow] = qe.executedPlan match {
      case local: LocalTableScanExec => local.executeCollect().iterator
      case _ => SQLExecution.withNewExecutionId(qe, Some("collectUpTo")) {
        qe.sparkSession.sparkContext.runJob(qe.toRdd,
          (it: Iterator[InternalRow]) => it.take(n).map(_.copy()).toArray)
      }.iterator.flatten
    }
    val fromRow = encoderFor(ds.encoder)
      .resolveAndBind(qe.analyzed.output, qe.sparkSession.sessionState.analyzer)
      .createDeserializer()
    rows.take(n).map(fromRow).toArray(ds.encoder.clsTag)
  }

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
