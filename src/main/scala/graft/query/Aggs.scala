package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Engine.quantized

/** The analytical query surface (SURVEY.md §2 E/F + selected B/C/D
  * operators): every behavior the reference's Go client pushes to ES,
  * re-expressed as declarative DataFrame plans so Catalyst handles
  * pushdown/pruning/join strategy. Each function has a DuckDB oracle in
  * SparkEntry.oracleSql.
  */
object Aggs {

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  // Small intermediates that MUST be cached inside a returned lazy plan
  // (two consumers over one exchange) are registered here instead of bare
  // .cache(): one entry per (op, sfDir), reused across invocations and
  // swept with the session — bare .cache() leaked one cache-manager entry
  // per CALL (ADVICE r2).
  private val planCache = new graft.SessionCache[DataFrame]

  /** F2: date_histogram(day) + min/max sub-aggs over lineitem. Bucket key =
    * `date_trunc` (an 8-byte timestamp), string-formatted only AFTER the
    * aggregation: the per-row work drops from format-to-string (datetime
    * math + a string allocation per row, then string hashing in the agg) to
    * the truncation alone, and the exchanges (the agg's and the final
    * sort's, which orders on `day_ts` before formatting) carry 8-byte keys
    * instead of 10-byte strings. Identical output: truncation and
    * day-pattern formatting bucket identically in the session timezone,
    * timestamp order is the formatted strings' order for 4-digit years, and
    * the post-sort format renders the same string (A/B: 0.384 → 0.344 s
    * med, outputs asserted equal row-for-row).
    */
  def dateHistogram(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .groupBy(date_trunc("day", col("l_shipdate")).as("day_ts"))
      .agg(count(lit(1)).as("n"),
        min(col("l_orderkey")).as("min_key"), max(col("l_orderkey")).as("max_key"))
      .orderBy(col("day_ts"))
      .select(date_format(col("day_ts"), "yyyy-MM-dd").as("day"),
        col("n"), col("min_key"), col("max_key"))

  /** F3: date_histogram(day) + sum over orders — same truncate-then-format
    * bucket key as dateHistogram.
    */
  def sumByDay(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .groupBy(date_trunc("day", col("o_orderdate")).as("day_ts"))
      .agg(quantized(sum(col("o_totalprice"))).as("total_q"), count(lit(1)).as("n"))
      .orderBy(col("day_ts"))
      .select(date_format(col("day_ts"), "yyyy-MM-dd").as("day"),
        col("total_q"), col("n"))

  /** F4: exists + term filter (bool.must analog) with JSON field access
    * (the reference's memo.value exists-check, postman :119-138).
    */
  def existsFilter(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")
      .filter(col("props").isNotNull && col("event_type") === "click" &&
        get_json_object(col("props"), "$.k").cast("long") > 80)
      .select(col("event_id"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy(col("event_id"))

  /** F5: significant_terms (JLH score) — foreground = lang 'en' docs,
    * background = all docs. Single-pass: tokenize once, dedupe (doc, term)
    * inside the aggregation (`count(DISTINCT ...)` over a conditional), and
    * compute fg/bg as conditional counts in ONE groupBy — no self-join, no
    * second tokenize pass, no separate count() actions (doc totals ride
    * along as a 2-row broadcast-joined aggregate of the same token stream's
    * per-doc firsts — computed from `documents` directly, which is a
    * metadata-only count at scan level).
    */
  def significantTerms(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    // per-doc dedup BEFORE the explode (array_distinct over the token
    // array): (doc_id, term) pairs are already distinct when they leave the
    // projection — is_fg is a function of doc_id, so this emits exactly the
    // row set the old global `.distinct()` produced, without its full
    // (doc_id, is_fg, term) exchange (guide §2.4: remove shuffles outright;
    // plan: 3 Exchanges → 2). Filtering empties inside the array keeps the
    // "doc with zero tokens contributes nothing" behavior (explode of an
    // empty array emits no row).
    val toks = docs.select(col("doc_id"), (col("lang") === "en").as("is_fg"),
        explode(array_distinct(filter(split(lower(col("text")), "[^a-z0-9]+"),
          w => w =!= ""))).as("term"))
    val perTerm = toks.groupBy(col("term")).agg(
      count(lit(1)).cast("double").as("bg"),
      count(when(col("is_fg"), 1)).cast("double").as("fg"))
    val totals = docs.agg(
      count(lit(1)).cast("double").as("bg_total"),
      count(when(col("lang") === "en", 1)).cast("double").as("fg_total"))
    perTerm.filter(col("fg") > 0).crossJoin(broadcast(totals))
      .withColumn("fgp", col("fg") / col("fg_total"))
      .withColumn("bgp", col("bg") / col("bg_total"))
      .withColumn("jlh", (col("fgp") - col("bgp")) * (col("fgp") / col("bgp")))
      .select(col("term"), quantized(col("jlh") * 1000).as("jlh_q"))
      .orderBy(desc("jlh_q"), col("term"))
      .limit(10)
  }

  /** F6: terms agg — top-10 buckets by doc count. */
  def termsTop10(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("event_type"))
      .limit(10)

  /** F7: bool.must[term, exists] two-predicate filter. */
  def mustFilter(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .filter(col("l_returnflag") === "A" && col("l_discount") > 0.05)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** F8: term filter + date_histogram(hour) + avg — per-user hourly. Same
    * truncate-then-format bucket key as dateHistogram.
    */
  def hourlyAvg(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")
      .filter(col("user_id") < 10)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(quantized(avg(col("value"))).as("avg_q"), count(lit(1)).as("n"))
      .orderBy(col("user_id"), col("hour_ts"))
      .select(col("user_id"), date_format(col("hour_ts"), "yyyy-MM-dd HH").as("hour"),
        col("avg_q"), col("n"))

  /** F9: global top-10 by value desc — TakeOrderedAndProject path. */
  def top10Values(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")
      .select(col("event_id"), quantized(col("value")).as("value_q"))
      .orderBy(desc("value_q"), col("event_id"))
      .limit(10)

  /** E1: one-pass stats agg (min/max/count/sum/avg). */
  def statsAgg(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .agg(min(col("l_quantity")).cast("long").as("min_q"),
        max(col("l_quantity")).cast("long").as("max_q"),
        count(lit(1)).as("n"),
        quantized(sum(col("l_quantity"))).as("sum_q"),
        quantized(avg(col("l_quantity"))).as("avg_q"))

  /** E2: range agg — counts per explicit bucket. */
  def rangeAgg(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))

  /** E3/A4: count with range predicate — pushed to the parquet scan. */
  def countRange(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .filter(col("l_orderkey").between(1000, 2000))
      .agg(count(lit(1)).as("n"))

  /** ES `extended_stats` agg (E1's big sibling: stats + sum-of-squares,
    * variance, std-deviation). Variance is derived POPULATION-style (the ES
    * default) from one-pass sums — var = (Σx² − (Σx)²/n)/n — never a second
    * pass: one partial-aggregated hash exchange carrying (n, Σx, Σx²) per
    * group, constant state per group at any scale. Cross-engine exactness:
    * for integral x (l_quantity ∈ 1..50) n, Σx and Σx² are all
    * exactly-representable doubles, so summation ORDER cannot perturb them,
    * and both engines then evaluate the identical expression tree on
    * identical inputs — the derived doubles match bit-for-bit before
    * quantization.
    */
  def extendedStats(spark: SparkSession, sfDir: String): DataFrame = {
    val varExpr = (col("ss") - col("s") * col("s") / col("n")) / col("n")
    t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("l_quantity")).as("s"),
        sum(col("l_quantity") * col("l_quantity")).as("ss"),
        min(col("l_quantity")).cast("long").as("min_q"),
        max(col("l_quantity")).cast("long").as("max_q"))
      .select(col("l_returnflag"),
        col("n").cast("long").as("n"),
        quantized(col("s")).as("sum_q"),
        quantized(col("ss")).as("sumsq_q"),
        quantized(col("s") / col("n")).as("avg_q"),
        quantized(varExpr).as("var_q"),
        quantized(sqrt(varExpr)).as("std_q"),
        col("min_q"), col("max_q"))
      .orderBy(col("l_returnflag"))
  }

  /** ES `rare_terms` agg — the long-tail complement of F6's `terms` top-N:
    * buckets whose doc count is ≤ `maxDocCount`, ordered count ASC (the ES
    * bucket order; key breaks ties). ES needs a CuckooFilter-backed
    * streaming set for this because its per-shard top-N terms agg
    * structurally cannot see the tail; in Spark the tail is just the other
    * side of the SAME one partial-aggregated hash exchange (map-side combine
    * bounds the shuffle at distinct-keys volume) + a post-agg filter — exact,
    * no sketch, no false positives, no second pass.
    */
  def rareTerms(spark: SparkSession, sfDir: String, maxDocCount: Long = 2L): DataFrame =
    t(spark, sfDir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxDocCount)
      .orderBy(col("n"), col("o_custkey"))

  /** ES `percentiles` agg, EXACT-RANK semantics: the value at 0-indexed rank
    * floor((n-1)·p) of each group's ascending ordering — a discrete
    * quantile with integer-exact rank arithmetic, reproducible bit-for-bit
    * across engines (ES's own percentiles are t-digest APPROXIMATIONS with
    * no cross-engine oracle; the exact-rank form is the checkable
    * contract). Plan: one hash exchange on the group key, per-group sort
    * for row_number, conditional max per percentile — no second pass, no
    * driver collect. At 100 TB with few, huge groups the per-group sort is
    * the cost — there the approximate companion (`percentile_approx`, a
    * one-pass mergeable sketch; spec-tested against this exact form) is the
    * right tool, same as ES chose.
    */
  def percentiles(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    val wc = Window.partitionBy("l_returnflag")
    def at(pct: Int) = max(when(
      col("rn") === floor((col("cnt") - 1) * pct / lit(100.0)).cast("long"),
      quantized(col("l_extendedprice"))))
    t(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"))
      .withColumn("rn", row_number().over(w).cast("long") - 1)
      .withColumn("cnt", count(lit(1)).over(wc))
      .groupBy(col("l_returnflag"))
      .agg(at(25).as("p25"), at(50).as("p50"), at(75).as("p75"), at(95).as("p95"))
      .orderBy(col("l_returnflag"))
  }

  /** ES `cardinality` agg: distinct values per group. The oracle-checked
    * form is EXACT (count_distinct — one partial-aggregated exchange of
    * distinct pairs); ES's HLL++ approximation is `cardinalityApprox`
    * below, spec-tested against this within its rsd bound.
    */
  def cardinality(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count_distinct(col("l_partkey")).as("n_parts"))
      .orderBy(col("l_returnflag"))

  /** HLL++ cardinality (ES-faithful approximation): fixed-size sketch per
    * group, map-side mergeable — at 100 TB this never shuffles more than
    * groups × sketch bytes, vs count_distinct's distinct-pair exchange.
    */
  def cardinalityApprox(spark: SparkSession, sfDir: String, rsd: Double = 0.02): DataFrame =
    t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), rsd).as("n_parts"))
      .orderBy(col("l_returnflag"))

  /** ES `histogram` agg (the NUMERIC-interval sibling of F2's
    * date_histogram): bucket key = floor(value/interval)·interval, count +
    * avg sub-aggs. min_doc_count=1 form (empty buckets omitted — same
    * convention as the date histograms here; the dense-fill variant is a
    * driver-side sequence join over the tiny bucket list). Key arithmetic
    * is integer-exact (floor → long → ·interval) so both engines bucket
    * borderline doubles identically. ONE partial-aggregated hash exchange.
    */
  def histogram(spark: SparkSession, sfDir: String, interval: Long = 10L): DataFrame =
    t(spark, sfDir, "events")
      .groupBy((floor(col("value") / interval.toDouble).cast("long") * interval)
        .as("bucket"))
      .agg(count(lit(1)).as("n"), quantized(avg(col("value"))).as("avg_q"))
      .orderBy(col("bucket"))

  /** ES `top_hits` sub-agg under a terms bucket: the top-k documents of
    * EACH bucket by a sort (here value desc), the "show me examples per
    * group" request every search UI issues. Window row_number per group —
    * one hash exchange + per-group sort, never a global sort (the
    * per-bucket k cuts before any ordering across groups); ranks compare in
    * QUANTIZED score space with event_id the unique tiebreaker, the same
    * cross-engine total-order convention as every ranked surface here.
    */
  def topHits(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(desc("value_q"), col("event_id"))
    t(spark, sfDir, "events")
      .select(col("event_type"), col("event_id"), quantized(col("value")).as("value_q"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("event_type"), col("rank").cast("long").as("rank"),
        col("event_id"), col("value_q"))
      .orderBy(col("event_type"), col("rank"))
  }

  /** ES `composite` aggregation with `after` — the ONLY ES agg that pages:
    * deterministic keyset pagination over ALL buckets of a multi-source
    * group-by, `size` buckets per request, resumed from the last page's
    * key tuple (`after_key`). The page = buckets strictly after the cursor
    * in (event_type, day) lexicographic order.
    *
    * Scale shape: the group-by partial-aggregates map-side into ONE hash
    * exchange, the after-key tuple filter is a deterministic predicate on
    * grouping expressions (Catalyst pushes it below the Aggregate, so
    * pre-cursor groups aren't even aggregated), and orderBy+limit plans as
    * TakeOrderedAndProject — page 7 of a billion-bucket composite costs
    * one partial agg + a size-row merge, never a global bucket sort.
    */
  def compositePage(spark: SparkSession, sfDir: String, size: Int,
                    afterKey: Option[(String, String)] = None): DataFrame = {
    val g = t(spark, sfDir, "events")
      .groupBy(col("event_type"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"), quantized(sum(col("value"))).as("sum_q"))
    val paged = afterKey match {
      case Some((at, ad)) =>
        g.filter(col("event_type") > at ||
          (col("event_type") === at && col("day") > ad))
      case None => g
    }
    paged.orderBy(col("event_type"), col("day")).limit(size)
  }

  /** Shared shape of the NAMED-BUCKET aggs ([[filtersAgg]], [[dateRangeAgg]]):
    * every bucket aggregates conditionally inside ONE partial-aggregated
    * reduction to a single row (no per-bucket scans, no data shuffle — the
    * only exchange is the one-row final agg), then unpivots driver-cheap
    * via `stack`. At 100 TB this is one pass vs |buckets| passes.
    */
  private def namedBucketAgg(df: DataFrame,
                             buckets: Seq[(String, Column)],
                             value: Column): DataFrame = {
    val aggCols = buckets.flatMap { case (name, p) =>
      Seq(count(when(p, 1)).as(s"n@$name"),
        quantized(sum(when(p, value))).as(s"s@$name"))
    }
    val row = df.agg(aggCols.head, aggCols.tail: _*)
    val stackArgs = buckets.map { case (name, _) =>
      s"'$name', `n@$name`, `s@$name`" }.mkString(", ")
    row.selectExpr(s"stack(${buckets.size}, $stackArgs) AS (bucket, n, sum_q)")
      .orderBy(col("bucket"))
  }

  /** ES `filters` aggregation: named buckets from ARBITRARY predicates —
    * buckets may overlap (a doc lands in every filter it matches), and
    * ES's `other_bucket` catches docs matching none.
    */
  def filtersAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val preds: Seq[(String, Column)] = Seq(
      "clicks" -> (col("event_type") === "click"),
      "errors" -> (col("event_type") === "error"),
      "high_value" -> (col("value") > 90.0))
    val other = "_other" -> !preds.map(_._2).reduce(_ || _)
    namedBucketAgg(t(spark, sfDir, "events"), preds :+ other, col("value"))
  }

  /** ES `date_range` aggregation: named half-open [from, to) ranges (the
    * ES convention — from inclusive, to exclusive; either side open).
    */
  def dateRangeAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val d = col("o_orderdate")
    val ranges: Seq[(String, Option[String], Option[String])] = Seq(
      ("early", Some("1995-01-01"), Some("1997-01-01")),
      ("late", Some("1999-01-01"), None),
      ("mid", Some("1997-01-01"), Some("1999-01-01")))
    val buckets = ranges.map { case (name, from, to) =>
      name -> (from.map(f => d >= lit(f).cast("timestamp")).getOrElse(lit(true)) &&
        to.map(u => d < lit(u).cast("timestamp")).getOrElse(lit(true)))
    }
    namedBucketAgg(t(spark, sfDir, "orders"), buckets, col("o_totalprice"))
  }

  /** A2: first/last row (min/max of the ordering key). */
  def firstLast(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .agg(min(col("o_orderkey")).as("first_key"), max(col("o_orderkey")).as("last_key"))

  /** D6: gap detection over the key sequence (reference semantics:
    * db/ledger_header_row.go:111-126's lead-window SQL). Scale-safe
    * restatement — the naive `lead() OVER (ORDER BY seq)` plans a
    * single-partition global sort (every distinct key through one task).
    * Instead: ONE range shuffle, then
    *   1. per-partition streaming scan finds interior gaps (duplicates
    *      skipped inline — no separate distinct shuffle), and
    *   2. partition-boundary gaps come from a tiny (pid, min, max)
    *      aggregate (#partitions rows, map-side combined) joined on the
    *      driver — the same two-pass pattern as IndexBuilder.assignDocIds.
    * Range partitioning puts equal keys in one partition, so cross-boundary
    * duplicates cannot occur; the result is identical to the window form.
    */
  def gapDetect(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val scanned = graft.SessionCache.cachedPlan(planCache(spark), "gapscan", sfDir,
      graft.index.Fs.sourceStamp(s"$sfDir/lineitem.parquet"))(
      gapScan(spark, sfDir).cache())
    val interior = scanned.filter(!col("sentinel"))
      .select(col("a").as("gap_start"), col("b").as("gap_end"))
    // Cross-partition gaps from the sentinels: ≤ one row per partition —
    // metadata-sized, so the global window over them is a few-hundred-row
    // sort, not a data-sized single-partition exchange.
    val w = Window.orderBy(col("a"))
    val boundary = scanned.filter(col("sentinel"))
      .withColumn("nxt", lead(col("a"), 1).over(w))
      .filter(col("nxt").isNotNull && col("nxt") > col("b") + 1)
      .select((col("b") + 1).as("gap_start"), (col("nxt") - 1).as("gap_end"))
    interior.union(boundary).orderBy(col("gap_start"))
  }

  private def gapScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val parts = spark.sessionState.conf.numShufflePartitions
    val sorted = t(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("seq"))
      .repartitionByRange(parts, col("seq"))
      .sortWithinPartitions(col("seq"))
      .as[Long]
    // ONE pass per partition: interior gaps (duplicates skipped inline) plus
    // one SENTINEL row carrying the partition's (min, max). Both consumers
    // below read this same subplan; Catalyst's ReuseExchange dedupes the
    // range shuffle, so the data is shuffled once.
    sorted.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else new Iterator[(Long, Long, Boolean)] {
        private val firstKey = it.next()
        private var prevKey = firstKey
        private var pending: (Long, Long, Boolean) = null
        private var sentinelEmitted = false
        private def seek(): Unit = {
          while (pending == null && it.hasNext) {
            val k = it.next()
            if (k > prevKey + 1) pending = (prevKey + 1, k - 1, false)
            prevKey = k
          }
          if (pending == null && !it.hasNext && !sentinelEmitted) {
            pending = (firstKey, prevKey, true) // sentinel: (partition min, max)
            sentinelEmitted = true
          }
        }
        def hasNext: Boolean = { seek(); pending != null }
        def next(): (Long, Long, Boolean) = { seek(); val g = pending; pending = null; g }
      }
      // cached (at the planCache call site): interior and boundary both
      // consume this; without it the sort+scan over the full input would
      // execute twice (only the exchange is deduped by AQE reuse). The
      // cached rows are tiny — gaps + one sentinel per partition.
    }.toDF("a", "b", "sentinel")
  }

  /** D7: range reconciliation — counts per fixed-step key bucket
    * (commands/es-stats.go:42-57, step analog).
    */
  def rangeReconcile(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .groupBy(floor(col("doc_id") / 100).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))

  /** C1: parent⋈child join + enrich + aggregate (ledger⋈tx analog).
    * Join key is equi — Catalyst broadcast/shuffle-hash per AQE stats.
    */
  def joinRevenue(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem").join(t(spark, sfDir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      // truncate-then-format bucket key — see dateHistogram (A/B:
      // 0.701 → 0.609 s med, outputs asserted equal)
      .groupBy(date_trunc("day", col("o_orderdate")).as("day_ts"))
      .agg(quantized(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("rev_q"))
      .orderBy(col("day_ts"))
      .select(date_format(col("day_ts"), "yyyy-MM-dd").as("day"), col("rev_q"))

  /** A6: IN-list semi-join reduction. */
  def semiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val urgent = t(spark, sfDir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    t(spark, sfDir, "lineitem")
      .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .agg(count(lit(1)).as("n"))
  }

  /** C3: posexplode fan-out (tx→op analog) — token + 1-based position. */
  def explodeTokens(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .filter(col("doc_id") < 20)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), "[^a-z0-9]+")).as(Seq("pos", "term")))
      .filter(col("term") =!= "")
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("term"))
      .orderBy(col("doc_id"), col("pos"))

  /** C6: stateful diff-vs-previous with zero-diff suppression
    * (balance_extractor analog: window lag + filter diff ≠ 0).
    */
  def lagDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(spark, sfDir, "events")
      .withColumn("prev", lag(col("value"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("diff_q", quantized(col("value") - col("prev")))
      .filter(col("diff_q") =!= 0)
      .select(col("event_id"), col("diff_q"))
      .orderBy(col("event_id"))
  }

  /** D5: key-set pagination (paging_token cursor analog). */
  def pageAfterCursor(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")
      .filter(col("event_id") > 500)
      .select(col("event_id"), col("event_type"))
      .orderBy(col("event_id"))
      .limit(20)

  /** B6: enum prettify via regexp_replace. */
  def enumPrettify(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .groupBy(regexp_replace(col("o_orderpriority"), "^[0-9]-", "").as("priority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("priority"))

  /** B7: bitmask → flags (account_flags analog). */
  def bitmaskFlags(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")
      .groupBy(col("event_id").bitwiseAND(lit(3L)).as("flags"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("flags"))

  /** B10: composite zero-padded ordinal key (paging_token format,
    * es/paging_token.go:25-30).
    */
  def compositeToken(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .filter(col("l_orderkey") < 50)
      .select(format_string("%012d-%04d", col("l_orderkey"), col("l_linenumber")).as("token"))
      .orderBy(col("token"))

  /** B2: memo-normalization analog — type-switched when-chain with
    * format/base64 branches (db/tx_history_row.go:36-67).
    */
  def memoNormalize(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .select(col("doc_id"),
        when(col("n_chars") % 3 === 0, format_string("id:%d", col("doc_id")))
          .when(col("n_chars") % 3 === 1, base64(substring(col("text"), 1, 9).cast("binary")))
          .otherwise(lit(null)).as("memo_value"))
      .orderBy(col("doc_id"))
}
