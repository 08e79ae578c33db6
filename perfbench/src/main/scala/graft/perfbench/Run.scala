package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.analyze.Analyzer
import graft.index.{Compactor, CorpusDoc, Hit, IndexBuilder}
import graft.ops.{Dedup, Similarity}
import graft.query.{Oracle, Searcher}
import graft.streaming.StreamingIngest

/** Command-line settings of one run. */
final case class Settings(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
                          work: String)

/** One benchmark run: set-up, then the build, search, ingest, IVF, dedup
  * and single-core build phases over one set of seeded inputs; the
  * workload picks the query stream. Every call into the engine goes through a
  * public module function; outputs are checked and every failed or wrong
  * operation is counted.
  */
final class Run(cfg: Settings) {
  import Run._

  val tracer = new Tracer(cfg.trace)
  val log = new JobLog
  private val attempted = new AtomicLong
  private val failed = new AtomicLong
  val failures = mutable.ArrayBuffer.empty[String]
  /** End-to-end metrics: name → (value, unit). */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Facts about the run that are not metrics (sample counts, percentiles). */
  val notes = mutable.LinkedHashMap.empty[String, Any]
  /** Samples the per-layer metrics are computed from. */
  val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
  val origin: Long = System.nanoTime()
  private val phases = mutable.LinkedHashMap.empty[String, Double]
  private var spark: SparkSession = _

  def attemptedCount: Long = attempted.get
  def failedCount: Long = failed.get

  private def fail(what: String): Unit = {
    failed.incrementAndGet()
    failures.synchronized(failures += what)
    System.err.println(s"[perfbench] FAILED: $what")
  }

  /** One checked outcome: counts as attempted, and as failed unless ok. */
  def check(what: String, ok: Boolean): Unit = {
    attempted.incrementAndGet()
    if (!ok) fail(what)
  }

  /** One operation whose exception counts as a failure (and is rethrown:
    * the phases after it need its result).
    */
  def op[T](what: String)(f: => T): T = {
    attempted.incrementAndGet()
    try f
    catch { case NonFatal(e) => fail(s"$what: $e"); throw e }
  }

  private def phase[T](name: String)(f: => T): T = {
    val (r, s) = timed(tracer.span(s"phase.$name")(f))
    phases(name) = s
    r
  }

  private def startSession(cores: Int): Unit = {
    spark = Run.session(cores, cfg.work)
    tracer.sc = spark.sparkContext
    if (cfg.trace) spark.sparkContext.addSparkListener(log)
  }

  /** In traced runs, wait until the listener has seen every event posted so
    * far: events arrive in order, so the end of a marker job suffices.
    */
  private def drainListener(): Unit = if (cfg.trace) {
    tracer.span(FlushSpan)(spark.sparkContext.parallelize(Seq(1), 1).count())
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
      !log.all.reverseIterator.find(_.span == FlushSpan).exists(_.ended))
      Thread.sleep(10)
  }

  private def corpusAt(path: String): Dataset[CorpusDoc] =
    spark.read.parquet(path).as(Inputs.DocEnc)

  private def dictOf(h: IndexBuilder.Handle): Array[(String, Long)] =
    h.termstats(spark).select("term", "df").collect().map(r => (r.getString(0), r.getLong(1)))

  private def build(corpus: Dataset[CorpusDoc], dir: String, cores: Int): IndexBuilder.Handle =
    IndexBuilder.build(spark, corpus, dir,
      IndexBuilder.Config(salts = 8, partitions = cores * 2, mode = Analyzer.Code))

  def execute(): Unit = {
    notes("cpu_lap_before_s") = Calib.lap()

    // ---- set-up: session, inputs (several times, median), warm-up lap ----
    val sessionS = timeS(startSession(Sizes.Cores))
    val gens = (0 until SetupRepeats).map { i =>
      val dir = s"${cfg.work}/inputs$i"
      val (in, s) = timed(tracer.span("setup.inputs")(Inputs.write(spark, cfg.seed, dir)))
      if (i < SetupRepeats - 1) rmrf(dir)
      (in, s)
    }
    val inputs = gens.last._1
    val inputsS = Stats.median(gens.map(_._2))
    val (oracleS, warmAll) = timed(tracer.span("setup.warmup")(warmup(inputs)))
    val warmS = warmAll - oracleS
    notes("oracle_check_s") = oracleS

    val h = phase("build")(buildPhase(inputs))
    val dict = dictOf(h)
    samples("index.postings") = Seq(dict.map(_._2).sum.toDouble)
    val gen = new Queries(cfg.seed, dict, Sizes.Docs, distributedAt(Sizes.Docs))
    // a fixed number of timed queries, then the overhead probe's block
    val count = cfg.workload.queriesPerSecond * cfg.seconds
    // the cached workload's pool is sent once before timing, so its
    // queries start warm; that fill counts as set-up, and its cold answers
    // are what every timed repeat must return
    val (stream, want, fillS) =
      if (cfg.workload.repeatQueries) {
        val pool = gen.pool(QueryPool)
        val (want, fillS) = timed(tracer.span("setup.cache_fill")(fill(h, pool)))
        (gen.repeating(pool, count + OverheadBlock), want, fillS)
      } else (gen.distinct(count + OverheadBlock), Map.empty[Query, Seq[Hit]], 0.0)
    require(stream.size == count + OverheadBlock, s"query stream has ${stream.size} queries")
    metrics("setup_s") = (sessionS + inputsS + warmS + fillS, "s")
    notes("setup_parts_s") = Map("session" -> sessionS, "inputs_median" -> inputsS,
      "warmup" -> warmS, "cache_fill" -> fillS)
    phase("search")(searchPhase(h, stream.take(count), stream.drop(count), want))
    if (cfg.trace) phase("micro")(Micro.run(this, spark, h, dict, inputs))
    phase("ingest")(ingestPhase(h, inputs, dict))
    if (cfg.trace) {
      phase("dedup")(dedupPhase(inputs))
      phase("ann")(annPhase(inputs))
    }
    drainListener()
    spark.stop()
    if (cfg.trace) phase("build1")(singleCoreBuild(inputs))
    notes("cpu_lap_after_s") = Calib.lap()
    notes("phase_s") = phases.toMap
  }

  /** Discarded lap over a small corpus: build, the three oracle-pick
    * queries, one append and a query that finds it. Traced runs
    * also check oracle rank identity on this index; that check's time is
    * returned so set-up can leave it out.
    */
  private def warmup(inputs: Inputs): Double = {
    val dir = s"${cfg.work}/warm-idx"
    val h = build(corpusAt(inputs.warmCorpus), dir, Sizes.Cores)
    val dict = dictOf(h)
    val picks = oraclePicks(dict)
    picks.foreach(q =>
      Searcher.topK(spark, h, q.text, K, q.conj, distributedAt(Sizes.WarmDocs)).collect())
    val oracleS =
      if (cfg.trace) timeS(oracleChecks(h, corpusAt(inputs.warmCorpus), picks)) else 0.0
    StreamingIngest.appendSegment(spark, inputs.batch(spark, 0), 0, dir,
      h.stats(spark).avgdl, IngestSalts, IngestBase, Analyzer.Code)
    Searcher.topK(spark, h, Gen.marker(cfg.seed, 0), K).collect()
    oracleS
  }

  /** A hot 4-term OR query (distributed path), a multi-term OR query on
    * the coordinator path and a conjunctive query over the warm-up index.
    */
  private def oraclePicks(dict: Array[(String, Long)]): Seq[Query] = {
    val qs = new Queries(cfg.seed ^ 0x0c0cL, dict, Sizes.WarmDocs, distributedAt(Sizes.WarmDocs))
      .distinct(400)
    Seq(qs.find(_.hot), qs.find(q => !q.hot && !q.conj && q.terms.size >= 2),
      qs.find(_.conj)).flatten
  }

  /** Rank identity (docId and score) with Oracle.topK on the warm-up index. */
  private def oracleChecks(h: IndexBuilder.Handle, corpus: Dataset[CorpusDoc],
                           picks: Seq[Query]): Unit = {
    picks.foreach { q =>
      val got = Searcher.topK(spark, h, q.text, K, q.conj, distributedAt(Sizes.WarmDocs))
        .collect().toSeq
      val want = Oracle.topK(spark, corpus, q.text, K, Analyzer.Code, q.conj).collect().toSeq
      check(s"oracle rank identity for '${q.text}' (conj=${q.conj})", got == want)
    }
    notes("oracle_checked_queries") = picks.map(q => s"${q.text} (conj=${q.conj})")
  }

  // ---- build -------------------------------------------------------------

  private def buildPhase(inputs: Inputs): IndexBuilder.Handle = {
    val dir = s"${cfg.work}/idx4"
    val (h, s) = timed(op("build at local[4]")(tracer.span("build.local4")(
      build(corpusAt(inputs.corpus), dir, Sizes.Cores))))
    check("doc count after build", h.stats(spark).n == Sizes.Docs)
    metrics("build_docs_per_s") = (Sizes.Docs / s, "1/s")
    metrics("index_bytes_per_input_byte") = (du(dir).toDouble / inputs.contentBytes, "ratio")
    notes("index_bytes") = du(dir)
    notes("content_bytes") = inputs.contentBytes
    samples("index.postings_bytes") = Seq(du(s"$dir/postings").toDouble)
    samples("index.docmeta_bytes") = Seq(du(s"$dir/docmeta").toDouble)
    h
  }

  /** The same corpus at local[1], in a session of its own. */
  private def singleCoreBuild(inputs: Inputs): Unit = {
    startSession(1)
    val dir = s"${cfg.work}/idx1"
    val s1 = timeS(op("build at local[1]")(tracer.span("build.local1")(
      build(corpusAt(inputs.corpus), dir, 1))))
    check("doc count after local[1] build", IndexBuilder.openHandle(dir).stats(spark).n == Sizes.Docs)
    val s4 = Sizes.Docs / metrics("build_docs_per_s")._1
    samples("index.build.eff_1_4") = Seq(s1 / s4 / 4.0)
    drainListener()
    spark.stop()
  }

  // ---- search ------------------------------------------------------------

  /** One timed query. Fails unless the hits come back in rank order, no
    * more than k, at least one for an OR query (every query term comes
    * from the index dictionary, so its df is at least 1), and equal to
    * `want` when that is given.
    */
  private def query(h: IndexBuilder.Handle, q: Query, req: String,
                    want: Option[Seq[Hit]] = None): Answer =
    op(s"query '${q.text}'")(tracer.span("search.query", req) {
      val t0 = System.nanoTime()
      val ds = tracer.span("Searcher.topK")(Searcher.topK(spark, h, q.text, K, q.conj,
        distributedAt(Sizes.Docs)))
      val t1 = System.nanoTime()
      val hits = tracer.span("Dataset.collect")(ds.collect()).toSeq
      val t2 = System.nanoTime()
      val ranked = hits.length <= K && hits.sliding(2).forall {
        case Seq(a, b) => a.score > b.score || (a.score == b.score && a.docId < b.docId)
        case _ => true
      }
      val wrong =
        if (!ranked) Some("hits out of rank order")
        else if (!q.conj && hits.isEmpty) Some("no hits for an OR query")
        else if (want.exists(_ != hits)) Some("hits differ from the first answer")
        else None
      wrong.foreach(w => fail(s"$w: query '${q.text}' (conj=${q.conj})"))
      Answer((t2 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6, hits)
    })

  /** Send every query of `qs` from `clients` threads; each client sends
    * its next query when the last returns. `want` holds the answers the
    * queries must give. Returns (index in `qs`, answer) in `qs` order and
    * the wall time.
    */
  private def closedLoop(h: IndexBuilder.Handle, qs: IndexedSeq[Query], clients: Int,
                         reqPrefix: String,
                         want: Map[Query, Seq[Hit]]): (Seq[(Int, Answer)], Double) = {
    val next = new AtomicInteger(0)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Answer)]()
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < qs.size) {
          try out.add((i, query(h, qs(i), s"$reqPrefix$i", want.get(qs(i)))))
          catch { case NonFatal(_) => () } // counted by query()
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    import scala.jdk.CollectionConverters._
    (out.asScala.toSeq.sortBy(_._1), wall)
  }

  /** Send every query of `qs` once, from one thread per core; returns
    * each query's answer.
    */
  private def fill(h: IndexBuilder.Handle, qs: IndexedSeq[Query]): Map[Query, Seq[Hit]] =
    closedLoop(h, qs, Sizes.Cores, "f", Map.empty)._1.map { case (i, a) => qs(i) -> a.hits }.toMap

  /** The timed closed loop over `timedQs` at `Clients` clients. The
    * uncached workload then sends each of its non-hot queries again, now
    * served from the term caches, and checks it gets the first answer;
    * hot queries are left out, as the distributed path caches nothing.
    */
  private def searchPhase(h: IndexBuilder.Handle, timedQs: IndexedSeq[Query],
                          probe: IndexedSeq[Query], want: Map[Query, Seq[Hit]]): Unit = {
    if (cfg.trace) overheadProbe(h, probe)
    val (answers, wall) = closedLoop(h, timedQs, Clients, "q", want)
    val ms = answers.map(_._2.ms)
    metrics("query_p50_ms") = (Stats.median(ms), "ms")
    val tail = cfg.workload.tailPercentile
    metrics("query_tail_ms") = (Stats.quantile(ms, tail / 100.0), "ms")
    metrics("query_qps") = (ms.size / wall, "1/s")
    notes("query_count") = ms.size
    notes("query_tail_percentile") = tail
    samples("query.plan_ms") = answers.map(_._2.planMs)
    samples("query.exec_ms") = answers.map(_._2.execMs)
    if (!cfg.workload.repeatQueries) {
      val again = answers.filterNot { case (i, _) => timedQs(i).hot }
      closedLoop(h, again.map { case (i, _) => timedQs(i) }.toIndexedSeq, 1, "r",
        again.map { case (i, a) => timedQs(i) -> a.hits }.toMap)
      notes("query_rechecked") = again.size
    }
  }

  /** Traced runs only: the same warm queries alternately with tracing off
    * and on; the ratio of the two wall times is the tracing overhead. The
    * block's queries are not among the timed ones.
    */
  private def overheadProbe(h: IndexBuilder.Handle, block: IndexedSeq[Query]): Unit = {
    block.foreach(q => Searcher.topK(spark, h, q.text, K, q.conj, distributedAt(Sizes.Docs)).collect())
    var on = 0.0
    var off = 0.0
    (0 until 6).foreach { r =>
      val traced = r % 2 == 1
      tracer.active = traced
      if (!traced) spark.sparkContext.removeSparkListener(log)
      val s = timeS(block.zipWithIndex.foreach { case (q, i) => query(h, q, s"probe$r-$i") })
      if (!traced) spark.sparkContext.addSparkListener(log)
      if (traced) on += s else off += s
    }
    tracer.active = true
    samples("trace.overhead") = Seq(on / off - 1.0)
  }

  // ---- ingest ------------------------------------------------------------

  private def ingestPhase(h: IndexBuilder.Handle, inputs: Inputs,
                          dict: Array[(String, Long)]): Unit = {
    val dir = h.dir
    val avgdl = h.stats(spark).avgdl
    // second conjunct of each batch's cold query: a term of df in [N/32, N/4)
    val mids = dict.filter { case (_, df) => df * 4 < Sizes.Docs && df * 32 >= Sizes.Docs }
      .map(_._1).sorted
    val appendMs = mutable.ArrayBuffer.empty[Double]
    val queryMs = mutable.ArrayBuffer.empty[Double]
    val liveSegs = mutable.ArrayBuffer.empty[Double]
    val snapMs = mutable.ArrayBuffer.empty[Double]
    val mergeS = mutable.ArrayBuffer.empty[Double]
    (0 until Sizes.Batches).foreach { b =>
      val batch = inputs.batch(spark, b)
      tracer.span("ingest.batch", s"b$b") {
        // the append, plus the minor merge the ingest loop runs once
        // MergeAt segments are live; the batch is searchable on return
        appendMs += 1e3 * timeS {
          op(s"append batch $b")(tracer.span("StreamingIngest.appendSegment")(
            StreamingIngest.appendSegment(spark, batch, b, dir, avgdl, IngestSalts, IngestBase,
              Analyzer.Code)))
          val (v, snap) = timed(tracer.span("Handle.snapshot")(h.snapshot))
          snapMs += snap * 1e3
          if (v.segmentDirs.size >= Sizes.MergeAt)
            mergeS += timeS(op(s"merge after batch $b")(tracer.span("Compactor.mergeSegments")(
              Compactor.mergeSegments(spark, dir))))
        }
        liveSegs += h.snapshot.segmentDirs.size
        // one cold query (each commit evicts the per-index caches): the
        // batch's marker AND a mid-df term, which must return exactly the
        // batch's documents holding that term
        val mid = mids(Gen.below(cfg.seed, b, 0x1d, mids.length))
        val expected = inputs.batchDocs(b).count(d =>
          Analyzer.tokens(d.content, Analyzer.Code).contains(mid))
        val lo = IngestBase + b.toLong * (1L << 20)
        val ans = query(h, Query(Seq(Gen.marker(cfg.seed, b), mid), conj = true), s"i$b")
        queryMs += ans.ms
        val hits = ans.hits
        check(s"batch $b marker searchable after append",
          hits.length == math.min(K, expected) &&
            hits.forall(x => x.docId >= lo && x.docId < lo + Sizes.BatchDocs))
      }
    }
    metrics("append_p50_ms") = (Stats.median(appendMs.toSeq), "ms")
    metrics("append_tail_ms") =
      (Stats.quantile(appendMs.toSeq, AppendTailPercentile / 100.0), "ms")
    notes("append_count") = appendMs.size
    notes("append_tail_percentile") = AppendTailPercentile
    samples("ingest.query_ms") = queryMs.toSeq
    samples("ingest.live_segments") = liveSegs.toSeq
    samples("catalog.snapshot_ms") = snapMs.toSeq
    samples("index.merge_s") = mergeS.toSeq
    samples("ingest.appended_bytes") = Seq((0 until Sizes.Batches).flatMap(inputs.batchDocs)
      .map(_.content.getBytes(UTF_8).length.toDouble).sum)

    val foldS = timeS(op("fold")(tracer.span("Compactor.compact")(Compactor.compact(spark, dir))))
    metrics("fold_s") = (foldS, "s")
    check("doc count after fold", h.stats(spark).n == Sizes.Docs + Sizes.Batches * Sizes.BatchDocs)
    // every marker document is still found after the fold
    val markers = (0 until Sizes.Batches).map(Gen.marker(cfg.seed, _)).mkString(" ")
    val n = Searcher.countMatching(spark, h, markers).collect().head.getLong(0)
    check("every marker searchable after fold", n == Sizes.Batches.toLong * Sizes.BatchDocs)
  }

  // ---- ann + dedup ---------------------------------------------------------

  private def annPhase(inputs: Inputs): Unit = {
    val dir = inputs.annDir
    samples("ivf.build_s") = Seq(timeS(op("ivf build")(tracer.span("Similarity.buildIvf")(
      Similarity.buildIvf(spark, dir, IvfLists)))))
    val qIds = (0 until AnnQueries).map(i => Gen.below(cfg.seed, i, 0xa11, Sizes.Vectors).toLong)
    val probes = qIds.zipWithIndex.map { case (q, i) =>
      tracer.span("Similarity.ivfTopK", s"a$i") {
        val (rows, s) = timed(op(s"ivf probe $q")(Similarity.ivfTopK(spark, dir, q, K,
          IvfLists, NProbe).collect()))
        (q, rows.map(_.getLong(0)).toSet, s * 1e3)
      }
    }
    samples("ann.query_ms") = probes.map(_._3)
    notes("ann_query_count") = probes.size
    // top-k overlap with brute-force cosine, outside the timed window
    val overlap = probes.take(AnnChecked).map { case (q, got, _) =>
      val want = Similarity.cosineTopK(spark, dir, q, K).collect().map(_.getLong(0)).toSet
      (got & want).size.toDouble / want.size
    }
    val recall = overlap.sum / overlap.size
    notes("ivf_recall_at_10") = recall
    check(s"IVF recall@$K $recall ≥ $IvfRecallFloor", recall >= IvfRecallFloor)
    samples("ann.source_bytes") = Seq(du(s"$dir/embeddings.parquet").toDouble)
  }

  private def dedupPhase(inputs: Inputs): Unit = {
    val (pairs, s) = timed(op("minhash-lsh dedup")(tracer.span("Dedup.minhashLshPairs")(
      Dedup.minhashLshPairs(spark, inputs.dedupDir, DedupThreshold).collect())))
    samples("dedup.minhash_s") = Seq(s)
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = Inputs.plantedPairs(cfg.seed, DedupThreshold)
    val recall = planted.count(found.contains).toDouble / math.max(1, planted.size)
    notes("dedup_planted_pairs") = planted.size
    notes("dedup_found_pairs") = found.size
    notes("dedup_recall") = recall
    check(s"dedup recall $recall ≥ $DedupRecallFloor", planted.nonEmpty && recall >= DedupRecallFloor)
    samples("dedup.candidate_pairs") = Seq(candidatePairs().toDouble)
  }

  /** Rows out of the LSH band self-join: the output-row count of the first
    * join in the dedup call's SQL executions, read from Spark's SQL
    * metrics once the execution has finished.
    */
  private def candidatePairs(): Long = {
    drainListener()
    val store = spark.sharedState.statusStore
    val execIds = log.all.filter(_.span == "Dedup.minhashLshPairs").map(_.execId)
      .filter(_ >= 0).distinct.sorted
    def rows(id: Long): Option[Long] = {
      val join = store.planGraph(id).allNodes.find(_.name.contains("Join"))
      join.flatMap(_.metrics.find(_.name == "number of output rows")).flatMap { m =>
        store.executionMetrics(id).get(m.accumulatorId).map(_.filter(_.isDigit).toLong)
      }
    }
    val deadline = System.currentTimeMillis() + 5000
    var found: Option[Long] = None
    while (found.isEmpty && System.currentTimeMillis() < deadline) {
      found = execIds.iterator.flatMap(rows).nextOption()
      if (found.isEmpty) Thread.sleep(50)
    }
    found.getOrElse(0L)
  }
}

object Run {
  val K = 10
  val Clients = 2
  val QueryPool = 32
  /** Of the 5 appends, p75 has one beyond it (and 2 of the 5 carry a merge). */
  val AppendTailPercentile = 75
  val SetupRepeats = 3
  val OverheadBlock = 10
  val IngestSalts = 4
  val IngestBase: Long = 1L << 40
  val AnnQueries = 8
  val AnnChecked = 1
  val IvfLists = 256
  val NProbe = 8
  val IvfRecallFloor = 0.8
  val DedupThreshold = 0.6
  val DedupRecallFloor = 0.95
  val FlushSpan = "perfbench.flush"

  /** Coordinator-path limit scaled to the corpus: the share of the index a
    * 250k-doc corpus gives Searcher.DriverPathMaxPostings, so hot
    * multi-term queries take the distributed per-salt path here too.
    */
  def distributedAt(docs: Long): Long = Searcher.DriverPathMaxPostings * docs / 250000L

  /** A query's latency, time inside the `topK` call and collect time, in
    * ms, and its hits.
    */
  final case class Answer(ms: Double, planMs: Double, execMs: Double, hits: Seq[Hit])

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def timeS(f: => Any): Double = timed(f)._2

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def du(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles().map(c => du(c.getPath)).sum else f.length()
  }

  def rmrf(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles().foreach(c => rmrf(c.getPath))
    f.delete()
  }
}

/** Fixed single-thread pure-CPU lap (xorshift steps, no allocation, best of
  * two): its time moves only with host speed, so a run whose laps differ
  * from the usual was disturbed.
  */
object Calib {
  def lap(): Double = {
    def one(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L
      var i = 0L
      while (i < 50000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) System.err.print("")
      (System.nanoTime() - t0) / 1e9
    }
    math.min(one(), one())
  }
}
