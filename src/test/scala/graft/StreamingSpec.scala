package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.index.IndexBuilder
import graft.query.Searcher
import graft.streaming.StreamingIngest

/** Streaming ingest (SURVEY.md §2 G): file-source micro-batches append
  * posting SEGMENTS that are immediately searchable alongside the batch
  * index (the reference's whole point: ingested ledgers are visible to
  * `_search`, commands/ingest.go + es/adapter.go), with checkpointed
  * restart and idempotent per-batch replay.
  */
class StreamingSpec extends AnyFunSuite with SparkSuite {

  private def writeBatch(dir: String, docs: Seq[graft.index.CorpusDoc]): Unit = {
    import spark.implicits._
    docs.toDS().coalesce(1).write.mode("append").parquet(dir)
  }

  test("micro-batches append queryable posting segments; checkpoint resumes without duplicates") {
    import spark.implicits._
    val src = tmpDir("graft-stream-src")
    val idx = tmpDir("graft-stream-idx")
    val ckp = tmpDir("graft-stream-ckp")
    val docs = (0 until 60).map(i => Corpus.synthDoc(i, 7L))

    writeBatch(src, docs.slice(0, 30))
    val q1 = StreamingIngest.startIndexAppend(spark, src, idx, ckp, avgdl = 80.0)
    q1.processAllAvailable()
    q1.stop()
    val h = IndexBuilder.Handle(idx, graft.analyze.Analyzer.Simple)
    assert(h.segmentDirs.nonEmpty)

    // restart with one more file: only the new file is processed
    writeBatch(src, docs.slice(30, 60))
    val q2 = StreamingIngest.startIndexAppend(spark, src, idx, ckp, avgdl = 80.0)
    q2.processAllAvailable()
    q2.stop()

    def streamedDocIds(): Map[Long, Int] = {
      val segs = spark.read.parquet(h.segmentDirs.map(_ + "/blocks"): _*)
      segs.as[graft.index.PostingBlock].collect()
        .flatMap(b => graft.index.Codec.decodeDeltas(b.docDeltas, b.n, b.firstDocId))
        .groupBy(identity).map { case (d, xs) => (d, xs.length) }
    }
    // every streamed doc appears in the postings exactly once
    assert(streamedDocIds().size == 60,
      s"expected 60 distinct streamed docs, got ${streamedDocIds().size}")
    // restart without new data: nothing reprocessed
    val before = h.segmentDirs.size
    val q3 = StreamingIngest.startIndexAppend(spark, src, idx, ckp, avgdl = 80.0)
    q3.processAllAvailable()
    q3.stop()
    assert(h.segmentDirs.size == before)
  }

  test("ingest-time decontamination screen drops exact and near-dup eval docs before indexing") {
    import spark.implicits._
    import graft.index.CorpusDoc
    val src = tmpDir("graft-screen-src")
    val idx = tmpDir("graft-screen-idx")
    val ckp = tmpDir("graft-screen-ckp")
    val clean = (0 until 30).map(i => Corpus.synthDoc(i, 11L))
    // the "eval set": one doc; the stream carries a VERBATIM copy (exact
    // tier) and a one-word-mutated near-dup (MinHash tier, jaccard ≈ 0.9)
    val evalText = Corpus.synthDoc(500, 13L).content
    val ws = evalText.split(" ")
    val nearText = (ws.take(40) ++ Array("zzmutated") ++ ws.drop(41)).mkString(" ")
    val batch = clean ++ Seq(
      CorpusDoc("r", "contam/exact", "c", "en", evalText),
      CorpusDoc("r", "contam/near", "c", "en", nearText))
    val ref = Seq((0L, evalText)).toDF("doc_id", "text")
    val screen = new graft.ops.Dedup.DecontamScreen(spark, ref, 0.6)
    writeBatch(src, batch)
    val q = StreamingIngest.startIndexAppend(spark, src, idx, ckp,
      avgdl = 80.0, screen = Some(screen))
    q.processAllAvailable(); q.stop()
    val h = IndexBuilder.Handle(idx, graft.analyze.Analyzer.Simple)
    val paths = spark.read.parquet(h.segmentDirs.map(_ + "/docmeta"): _*)
      .select($"path").as[String].collect().toSet
    assert(paths.size == 30, s"expected the 30 clean docs, got ${paths.size}")
    assert(!paths.exists(_.contains("contam")), "contaminated docs were indexed")
    // control: the SAME batch without the screen indexes all 32
    val idx2 = tmpDir("graft-noscreen-idx")
    val ckp2 = tmpDir("graft-noscreen-ckp")
    val q2 = StreamingIngest.startIndexAppend(spark, src, idx2, ckp2, avgdl = 80.0)
    q2.processAllAvailable(); q2.stop()
    val n2 = spark.read.parquet(
        IndexBuilder.Handle(idx2, graft.analyze.Analyzer.Simple)
          .segmentDirs.map(_ + "/docmeta"): _*).count()
    assert(n2 == 32)
    screen.close()
  }

  test("continuous ANN ingest: streamed IVF appends are probe-visible, checkpointed, replay-idempotent") {
    import spark.implicits._
    import graft.ops.Similarity
    val base = tmpDir("graft-ivfstream-base")
    val src = tmpDir("graft-ivfstream-src")
    val ckp = tmpDir("graft-ivfstream-ckp")
    Similarity.synthEmbeddings(spark, base, 800L, 16, centers = 20)
    val e = spark.read.parquet(s"$base/embeddings.parquet")
    val ivf = s"$base/ivf"
    Similarity.buildIvfFrom(spark, e.filter($"vec_id" < 600), ivf, 8)
    def writeVecs(lo: Long, hi: Long): Unit =
      e.filter($"vec_id" >= lo && $"vec_id" < hi).coalesce(1)
        .write.mode("append").parquet(src)
    writeVecs(600, 700)
    val q1 = StreamingIngest.startIvfAppend(spark, src, ivf, ckp)
    q1.processAllAvailable(); q1.stop()
    val q = e.filter($"vec_id" === 0L).select($"embedding").as[Array[Float]].head()
    def probeIds() = Similarity.ivfProbe(spark, ivf, q, 0L, 1000, 8).collect()
      .map(_.getLong(0)).toSet
    assert(probeIds() == (1L until 700L).toSet,
      "streamed batch must be probe-visible immediately")
    // restart with one more file: only the new file is processed, no dups
    writeVecs(700, 800)
    val q2 = StreamingIngest.startIvfAppend(spark, src, ivf, ckp)
    q2.processAllAvailable(); q2.stop()
    val stored = (Seq(s"$ivf/emb") ++ graft.index.Fs.listDirs(ivf)
        .filter(d => graft.index.Fs.name(d).startsWith("append-"))
        .map(_ + "/emb"))
      .map(p => spark.read.parquet(p).select($"vec_id"))
      .reduce(_ unionByName _).as[Long].collect()
    assert(stored.length == 800 && stored.distinct.length == 800,
      "replayed/resumed stream must not duplicate vectors")
    // a direct same-tag replay (at-least-once) is a committed no-op
    val tag0 = StreamingIngest.ivfBatchTag(ckp, 0L)
    Similarity.ivfAppend(spark, ivf, e.filter($"vec_id" >= 600 && $"vec_id" < 700),
      batchTag = Some(tag0))
    assert(probeIds() == (1L until 800L).toSet)
    // ...and a tag replayed AFTER its fold is ALSO a no-op: the crash
    // window between a delta commit and the checkpoint commit, followed by
    // a fold and a restart, is legitimate at-least-once — the batch's
    // vectors are provably in the folded epoch (folded_appends), so the
    // replay must neither duplicate them nor wedge the stream
    Similarity.ivfCompact(spark, ivf)
    Similarity.ivfAppend(spark, ivf, e.filter($"vec_id" >= 600 && $"vec_id" < 700),
      batchTag = Some(tag0))
    assert(probeIds() == (1L until 800L).toSet)
    // a different stream (different checkpoint) never collides on tags
    assert(StreamingIngest.ivfBatchTag(s"$ckp-other", 0L) != tag0)
  }

  test("replayed micro-batch (at-least-once foreachBatch) is idempotent by batchId") {
    import spark.implicits._
    val idx = tmpDir("graft-replay-idx")
    val docs = (0 until 20).map(i => Corpus.synthDoc(i, 11L)).toDS()
    StreamingIngest.appendSegment(spark, docs, batchId = 3L, indexDir = idx,
      avgdl = 80.0, salts = 4, baseDocId = 1L << 40)
    val h = IndexBuilder.Handle(idx, graft.analyze.Analyzer.Simple)
    val once = spark.read.parquet(h.segmentDirs.map(_ + "/blocks"): _*).count()
    // crash-replay of the SAME batch id: marker present → skipped
    StreamingIngest.appendSegment(spark, docs, batchId = 3L, indexDir = idx,
      avgdl = 80.0, salts = 4, baseDocId = 1L << 40)
    assert(spark.read.parquet(h.segmentDirs.map(_ + "/blocks"): _*).count() == once)
    assert(h.segmentDirs.size == 1)
  }

  test("continuous percolation: saved-search alerts per micro-batch, crash-replay idempotent") {
    import spark.implicits._
    val src = tmpDir("graft-perc-src")
    val alerts = tmpDir("graft-perc-alerts")
    val ckp = tmpDir("graft-perc-ckp")
    val qs = Seq( // terms from the synth generator's vocabulary
      ("q_all", Seq("import", "def"), 2),
      ("q_any", Seq("parser", "lexer"), 1))
    val queries = qs.toDF("query_id", "terms", "min_match")
    val docs1 = (0 until 10).map(i => Corpus.synthDoc(i, 21L))
    val docs2 = (10 until 20).map(i => Corpus.synthDoc(i, 22L))
    writeBatch(src, docs1)
    val q = graft.ops.Percolator.percolateStream(spark, src, queries, alerts, ckp)
    q.processAllAvailable()
    writeBatch(src, docs2)
    q.processAllAvailable(); q.stop()
    def readAlerts() = spark.read.parquet(alerts)
      .select("query_id", "doc_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val got = readAlerts()
    val want = (docs1 ++ docs2).flatMap { d =>
      val toks = d.content.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSet
      qs.collect { case (qid, ts, mm)
        if ts.distinct.count(toks.contains) >= mm => (qid, d.path) }
    }.toSet
    assert(got == want && got.nonEmpty)
    // crash-replay of a batch (at-least-once foreachBatch): the batch
    // partition is overwritten identically, never duplicated
    graft.ops.Percolator.percolateBatch(spark, queries, docs1.toDS(), 0L, alerts)
    assert(readAlerts() == want)
    assert(spark.read.parquet(alerts).count() == want.size)
  }

  test("streamed segments are SEARCHABLE: union query == single index over the full corpus") {
    import spark.implicits._
    val all = (0 until 80).map(i => Corpus.synthDoc(i, 13L))
    val idx = tmpDir("graft-live-idx")
    val idxAll = tmpDir("graft-live-idx-all")
    val h = IndexBuilder.build(spark, all.take(50).toDS(), idx,
      IndexBuilder.Config(salts = 4))
    StreamingIngest.appendSegment(spark, all.drop(50).toDS(), batchId = 0L,
      indexDir = idx, avgdl = h.stats(spark).avgdl, salts = 4, baseDocId = 1L << 40)
    val hAll = IndexBuilder.build(spark, all.toDS(), idxAll,
      IndexBuilder.Config(salts = 4))

    def byCommit(hh: IndexBuilder.Handle, q: String): Set[(String, Double)] =
      Searcher.topK(spark, hh, q, Int.MaxValue).toDF()
        .join(hh.docmetaAll(spark).toDF(), "docId")
        .select(col("commit"), col("score"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSet

    for (q <- Seq("the", "import def", "postinglist docfreq", "zzz_rare_token")) {
      assert(byCommit(h, q) == byCommit(hAll, q),
        s"union search for '$q' differs from the all-in-one index")
      // pruned path (finite k): boundFactor must keep WAND admissible over
      // the stale stored bounds — top-10 score multisets must agree
      def top10(hh: IndexBuilder.Handle) =
        Searcher.topK(spark, hh, q, 10).collect().map(_.score).sorted.toSeq
      assert(top10(h) == top10(hAll), s"pruned top-10 for '$q' differs")
    }
    // live stats reflect the union exactly
    val (st, factor) = h.liveStats(spark)
    val stAll = hAll.stats(spark)
    assert(st.n == stAll.n && st.totalTokens == stAll.totalTokens)
    assert(st.avgdl == stAll.avgdl && factor >= 1.0)

    // phrase search sees streamed docs too: segments carry positional
    // postings; after building the batch positions stage, phrase results
    // over the union equal the all-in-one index's
    IndexBuilder.buildPositions(spark, all.take(50).toDS(), idx, h.mode)
    IndexBuilder.buildPositions(spark, all.toDS(), idxAll, hAll.mode)
    def phraseByCommit(hh: IndexBuilder.Handle, q: String): Set[(String, Double)] =
      graft.query.Phrase.search(spark, hh, q)
        .join(hh.docmetaAll(spark).toDF(), "docId")
        .select(col("commit"), col("score"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val p = phraseByCommit(h, "the import")
    assert(p == phraseByCommit(hAll, "the import"))
    // at least one phrase match must come from the STREAMED half
    val streamedCommits = all.drop(50).map(_.commit).toSet
    assert(p.exists { case (c, _) => streamedCommits(c) },
      "expected a phrase hit from the live-ingested segment")
  }

  test("the first query after a commit runs as many jobs with 3 live segments as with 1") {
    import spark.implicits._
    val all = (0 until 80).map(i => Corpus.synthDoc(i, 19L))
    val idx = tmpDir("graft-jobs-seg-idx")
    val h = IndexBuilder.build(spark, all.take(50).toDS(), idx, IndexBuilder.Config(salts = 4))
    val avgdl = h.stats(spark).avgdl
    def append(batch: Long, docs: Seq[graft.index.CorpusDoc]): Unit =
      StreamingIngest.appendSegment(spark, docs.toDS(), batch, idx, avgdl, 4, 1L << 40)
    // jobs of the first (cold) query on the index state the last commit made
    def firstQueryJobs(group: String): Int =
      jobsOf(group)(Searcher.topK(spark, h, "import def", 10).collect())
    append(0L, all.slice(50, 60))
    val oneSeg = firstQueryJobs("graft-first-q-1seg")
    append(1L, all.slice(60, 70))
    append(2L, all.slice(70, 80))
    assert(h.segmentDirs.size == 3)
    val threeSegs = firstQueryJobs("graft-first-q-3seg")
    // one stats read over every source, whatever the segment count; the
    // probe reads the root and segment files on the driver
    assert(oneSeg == 1 && threeSegs == oneSeg,
      s"first query after a commit: $oneSeg jobs at 1 segment, $threeSegs at 3 (want 1 and 1)")
  }

  test("pre-v3 stats (no buildAvgdl) beside v3 segment stats: liveStats and the WAND bound factor") {
    import spark.implicits._
    val all = (0 until 70).map(i => Corpus.synthDoc(i, 23L))
    val idx = tmpDir("graft-prev3-idx")
    val h = IndexBuilder.build(spark, all.take(50).toDS(), idx, IndexBuilder.Config(salts = 4))
    // rewrite the batch stats as a pre-v3 build left them: no buildAvgdl
    // column (block maxima were computed at the exact avgdl)
    val base = h.stats(spark)
    Seq((base.n, base.avgdl, base.totalTokens)).toDF("n", "avgdl", "totalTokens")
      .coalesce(1).write.mode("overwrite").parquet(s"$idx/stats")
    assert(!spark.read.parquet(s"$idx/stats").columns.contains("buildAvgdl"))
    // the per-path reference computation: each source read on its own,
    // a missing buildAvgdl taken as that source's avgdl
    def expected(): (graft.index.IndexStats, Double) = {
      val rows = (s"$idx/stats" +: h.segmentDirs.map(_ + "/stats")).map { p =>
        val r = spark.read.parquet(p).head()
        val b = if (r.schema.fieldNames.contains("buildAvgdl"))
          r.getAs[Double]("buildAvgdl") else r.getAs[Double]("avgdl")
        (r.getAs[Long]("n"), r.getAs[Long]("totalTokens"), b)
      }
      val n = rows.map(_._1).sum
      val tok = rows.map(_._2).sum
      val avgdl = tok.toDouble / n.toDouble
      val minB = rows.map(_._3).min
      (graft.index.IndexStats(n, avgdl, tok, minB), math.max(1.0, avgdl / minB))
    }
    // segment built against a LARGE avgdl: the minimum is the pre-v3
    // source's avgdl, which must stand in for its missing buildAvgdl
    StreamingIngest.appendSegment(spark, all.slice(50, 60).toDS(), 0L, idx,
      base.avgdl * 4, 4, 1L << 40)
    val (st1, f1) = h.liveStats(spark)
    assert((st1, f1) == expected())
    assert(st1.buildAvgdl == base.avgdl)
    // segment built against a SMALL avgdl: its real buildAvgdl is the
    // minimum and must survive the mixed v2/v3 read (never overwritten
    // by its avgdl, which would under-scale the bound)
    StreamingIngest.appendSegment(spark, all.slice(60, 70).toDS(), 1L, idx,
      base.avgdl / 4, 4, 1L << 40)
    val (st2, f2) = h.liveStats(spark)
    assert((st2, f2) == expected())
    assert(st2.buildAvgdl == base.avgdl / 4 && f2 > 1.0)
    // and the mixed index answers: ranked, non-empty
    val hits = Searcher.topK(spark, h, "import def", 10).collect()
    assert(hits.nonEmpty && hits.toSeq == hits.toSeq.sortBy(x => (-x.score, x.docId)))
  }

  test("pathological huge-vocabulary batch fails LOUDLY instead of bloating the driver") {
    import spark.implicits._
    val idx = tmpDir("graft-vocab-idx")
    // every doc contributes many unique terms — with the cap lowered, the
    // per-partition termstats tally must trip the guard inside the task
    val docs = (0 until 8).map { i =>
      val d = Corpus.synthDoc(i, 19L)
      d.copy(content = (0 until 200).map(j => s"uniqterm${i}x$j").mkString(" "))
    }.toDS()
    sys.props("graft.ingest.maxTermsPerPartition") = "50"
    try {
      val ex = intercept[Throwable] {
        StreamingIngest.appendSegment(spark, docs, batchId = 0L, indexDir = idx,
          avgdl = 80.0, salts = 2, baseDocId = 1L << 40)
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).exists(_.contains("distinct-term tally")),
        s"expected the vocabulary guard to trip, got: ${messages(ex)}")
      // the failed batch must not have committed a visible segment
      assert(IndexBuilder.Handle(idx, graft.analyze.Analyzer.Simple).segmentDirs.isEmpty)
    } finally sys.props.remove("graft.ingest.maxTermsPerPartition")
  }

  test("live windowed metrics stream with watermark produces per-lang counts") {
    val src = tmpDir("graft-stream-src2")
    writeBatch(src, (0 until 40).map(i => Corpus.synthDoc(i, 9L)))
    val q = StreamingIngest.liveMetrics(spark, src).writeStream
      .outputMode("update").format("memory").queryName("live_metrics").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT lang, sum(docs) AS docs FROM live_metrics GROUP BY lang")
      .collect()
    assert(rows.map(_.getLong(1)).sum == 40)
  }
}
