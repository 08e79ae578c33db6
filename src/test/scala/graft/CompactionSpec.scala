package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.index.{Catalog, Compactor, Epochs, Fs, IndexBuilder, PostingBlock, TermRangeRouter, TermRanges}
import graft.query.Searcher
import graft.streaming.StreamingIngest

/** Segment compaction (Compactor.scala): folding streamed segments into a
  * new epoch must be invisible to queries (bit-identical results), restore
  * the WAND bound factor to the fresh-build value (≈1), shrink the live
  * segment set to zero, and produce tables equal to a fresh build over the
  * union corpus — the strongest possible "merge happened correctly" check.
  */
class CompactionSpec extends AnyFunSuite with SparkSuite {

  private val queries = Seq("the", "import def", "postinglist docfreq", "zzz_rare_token")

  private def byCommit(h: IndexBuilder.Handle, q: String): Set[(String, Double)] =
    Searcher.topK(spark, h, q, Int.MaxValue).toDF()
      .join(h.docmetaAll(spark).toDF(), "docId")
      .select(col("commit"), col("score"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet

  private def rowsOf(root: String, table: String): Seq[String] =
    spark.read.parquet(s"$root/$table").collect()
      .map(_.toSeq.map { case x: Array[Byte] => x.toSeq; case x => x }.mkString("|")).sorted.toSeq

  /** termstats rows, lineage rows and (when given) positions rows equal
    * between two roots. A fold takes its postings term ranges from the
    * sources' termstats and a build from a doc sample, so their postings
    * files split the same blocks at different terms: the postings lineage
    * is compared as its per-table totals.
    */
  private def sameTailTables(a: IndexBuilder.Handle, b: IndexBuilder.Handle,
                             positions: Boolean = false): Unit = {
    for (t <- Seq("termstats", "lineage/docmeta", "lineage/stats", "lineage/termstats") ++
           (if (positions) Seq("positions") else Nil)) {
      val ra = rowsOf(a.root, t)
      assert(ra.nonEmpty && ra == rowsOf(b.root, t), s"$t rows differ")
    }
    def postingsTotals(h: IndexBuilder.Handle) = {
      val l = h.lineage(spark).collect().filter(_.stage == "postings")
      (l.map(_.docIdMin).min, l.map(_.docIdMax).max, l.map(_.termCount).sum,
        l.map(_.rows).sum, l.map(_.bytes).sum, l.map(_.contentHash).reduce(_ ^ _))
    }
    assert(postingsTotals(a) == postingsTotals(b), "postings lineage totals differ")
  }

  test("compact folds all segments: results bit-identical, boundFactor 1.0, epoch == fresh build") {
    import spark.implicits._
    val all = (0 until 90).map(i => Corpus.synthDoc(i, 17L))
    val idx = tmpDir("graft-compact-idx")
    val idxAll = tmpDir("graft-compact-all")
    val cfg = IndexBuilder.Config(salts = 4)
    val h = IndexBuilder.build(spark, all.take(50).toDS(), idx, cfg)
    val avgdl = h.stats(spark).avgdl
    StreamingIngest.appendSegment(spark, all.slice(50, 65).toDS(), 0L, idx, avgdl, 4, 1L << 40)
    StreamingIngest.appendSegment(spark, all.slice(65, 80).toDS(), 1L, idx, avgdl, 4, 1L << 40)
    StreamingIngest.appendSegment(spark, all.slice(80, 90).toDS(), 2L, idx, avgdl, 4, 1L << 40)
    assert(h.segmentDirs.size == 3)
    val before = queries.map(q => q -> byCommit(h, q)).toMap // collected PRE-fold

    val hc = Compactor.compact(spark, idx, cfg)
    assert(hc.segmentDirs.isEmpty, "all segments must be folded")
    assert(hc.root != idx, "compaction must flip to an epoch root")
    val (stAfter, factorAfter) = hc.liveStats(spark)
    for (q <- queries)
      assert(byCommit(hc, q) == before(q), s"results changed across compaction for '$q'")

    // the folded epoch equals a FRESH build over the union corpus —
    // bit-identical docmeta (incl. re-ranked dense docIds), stats, postings,
    // and therefore the identical (near-1, sampled-buildAvgdl) bound factor
    val hAll = IndexBuilder.build(spark, all.toDS(), idxAll, cfg)
    assert(stAfter == hAll.stats(spark))
    assert(factorAfter == hAll.liveStats(spark)._2 && factorAfter < 1.1,
      s"bound factor must return to the fresh-build value, got $factorAfter")
    assert(hc.docmeta(spark).collect().sortBy(_.docId).toSeq ==
      hAll.docmeta(spark).collect().sortBy(_.docId).toSeq)
    def blockKey(b: graft.index.PostingBlock) =
      (b.term, b.salt, b.blockIdx, b.firstDocId, b.lastDocId, b.n, b.maxImpact,
        b.docDeltas.toSeq, b.tfs.toSeq, b.dls.toSeq)
    assert(hc.postings(spark).collect().map(blockKey).sortBy(_.toString).toSeq ==
      hAll.postings(spark).collect().map(blockKey).sortBy(_.toString).toSeq)
    sameTailTables(hc, hAll)
    // ...and searches over the two are bit-identical including docIds
    for (q <- queries)
      assert(Searcher.topK(spark, hc, q, Int.MaxValue).collect().toSeq ==
        Searcher.topK(spark, hAll, q, Int.MaxValue).collect().toSeq)

    // two-sided reconciliation over the epoch lineage passes
    Cli.run(spark, Seq("reconcile", idx))

    // idempotent: nothing left to fold
    assert(Compactor.compact(spark, idx, cfg).root == hc.root)
  }

  test("segments arriving AFTER a compaction fold into the next epoch") {
    import spark.implicits._
    val all = (0 until 60).map(i => Corpus.synthDoc(i, 23L))
    val idx = tmpDir("graft-compact2-idx")
    val idxAll = tmpDir("graft-compact2-all")
    val cfg = IndexBuilder.Config(salts = 4)
    val h = IndexBuilder.build(spark, all.take(40).toDS(), idx, cfg)
    val avgdl = h.stats(spark).avgdl
    StreamingIngest.appendSegment(spark, all.slice(40, 50).toDS(), 0L, idx, avgdl, 4, 1L << 40)
    val h1 = Compactor.compact(spark, idx, cfg)
    assert(h1.root.endsWith("epoch-000001"))
    // new micro-batch lands after the fold (checkpointed batchIds are
    // monotone, so the new batch id is fresh)
    StreamingIngest.appendSegment(spark, all.slice(50, 60).toDS(), 7L, idx,
      h1.stats(spark).avgdl, 4, 1L << 40)
    assert(h1.segmentDirs.size == 1)
    val h2 = Compactor.compact(spark, idx, cfg)
    assert(h2.root.endsWith("epoch-000002") && h2.segmentDirs.isEmpty)
    val hAll = IndexBuilder.build(spark, all.toDS(), idxAll, cfg)
    assert(h2.liveStats(spark)._2 == hAll.liveStats(spark)._2)
    for (q <- queries)
      assert(Searcher.topK(spark, h2, q, Int.MaxValue).collect().toSeq ==
        Searcher.topK(spark, hAll, q, Int.MaxValue).collect().toSeq)
  }

  test("positional tier survives compaction (phrase results == fresh build with positions)") {
    import spark.implicits._
    val all = (0 until 50).map(i => Corpus.synthDoc(i, 29L))
    val idx = tmpDir("graft-compact3-idx")
    val idxAll = tmpDir("graft-compact3-all")
    val cfg = IndexBuilder.Config(salts = 4)
    val h = IndexBuilder.build(spark, all.take(35).toDS(), idx, cfg)
    IndexBuilder.buildPositions(spark, all.take(35).toDS(), idx, h.mode)
    StreamingIngest.appendSegment(spark, all.drop(35).toDS(), 0L, idx,
      h.stats(spark).avgdl, 4, 1L << 40)
    val hc = Compactor.compact(spark, idx, cfg)
    val hAll = IndexBuilder.build(spark, all.toDS(), idxAll, cfg)
    IndexBuilder.buildPositions(spark, all.toDS(), idxAll, hAll.mode)
    assert(graft.query.Phrase.search(spark, hc, "the import").collect().toSeq ==
      graft.query.Phrase.search(spark, hAll, "the import").collect().toSeq)
    sameTailTables(hc, hAll, positions = true)
  }

  test("minor merge concatenates segments: one segment, identical results, same bound factor") {
    import spark.implicits._
    val all = (0 until 80).map(i => Corpus.synthDoc(i, 37L))
    val idx = tmpDir("graft-merge-idx")
    val cfg = IndexBuilder.Config(salts = 4)
    val h = IndexBuilder.build(spark, all.take(40).toDS(), idx, cfg)
    val avgdl = h.stats(spark).avgdl
    for (b <- 0 until 4)
      StreamingIngest.appendSegment(spark, all.slice(40 + b * 10, 50 + b * 10).toDS(),
        b.toLong, idx, avgdl, 4, 1L << 40)
    assert(h.segmentDirs.size == 4)
    val before = queries.map(q => q -> byCommit(h, q)).toMap
    val (stBefore, factorBefore) = h.liveStats(spark)

    val hm = Compactor.mergeSegments(spark, idx)
    assert(hm.segmentDirs.size == 1 && hm.segmentDirs.head.contains("merged="))
    val (stAfter, factorAfter) = hm.liveStats(spark)
    assert(stAfter == stBefore && factorAfter == factorBefore,
      "minor merge must not change live stats or the WAND bound factor")
    for (q <- queries)
      assert(byCommit(hm, q) == before(q), s"results changed across minor merge for '$q'")

    // tiered: another segment lands, second merge folds (merged=1 + batch=9)
    StreamingIngest.appendSegment(spark, all.slice(40, 45).toDS()
      .map(d => d.copy(commit = d.commit + "x")), 9L, idx, avgdl, 4, 1L << 40)
    val hm2 = Compactor.mergeSegments(spark, idx)
    assert(hm2.segmentDirs.size == 1 && hm2.segmentDirs.head.contains("merged=2"))
    // transitive replaces: the first merge's sources stay hidden even though
    // merged=1 (and its replaces file) is gone
    val rep = graft.index.Fs.readString(hm2.segmentDirs.head + "/replaces").get
    assert(rep.contains("merged=1") && rep.contains("batch=0"))

    // the full fold still works over a merged segment
    val hc = Compactor.compact(spark, idx, cfg)
    assert(hc.segmentDirs.isEmpty && hc.liveStats(spark)._2 < 1.1)

    // name-recycling guard: merged=1/2 were folded (their names live in
    // folded_segments forever) — a post-compaction merge must mint a FRESH
    // name, or the new segment would be permanently invisible
    StreamingIngest.appendSegment(spark, all.slice(45, 50).toDS()
      .map(d => d.copy(commit = d.commit + "y")), 20L, idx, avgdl, 4, 1L << 40)
    StreamingIngest.appendSegment(spark, all.slice(50, 55).toDS()
      .map(d => d.copy(commit = d.commit + "z")), 21L, idx, avgdl, 4, 1L << 40)
    val hm3 = Compactor.mergeSegments(spark, idx)
    assert(hm3.segmentDirs.size == 1 && hm3.segmentDirs.head.contains("merged=3"),
      s"post-compaction merge must not recycle a folded name: ${hm3.segmentDirs}")
    // ...and a replayed batch id that a compaction folded fails LOUDLY
    // instead of writing an invisible segment. While the folded dir still
    // exists (GC grace) the _DONE skip correctly treats the replay as
    // committed; once GC has removed it, only the hidden-name guard stands
    // between the replay and silent data loss — simulate the post-GC state.
    graft.index.Fs.delete(s"$idx/ingest_segments/batch=0")
    graft.index.Catalog.invalidate(idx)
    val ex = intercept[IllegalArgumentException] {
      StreamingIngest.appendSegment(spark, all.slice(40, 45).toDS(),
        0L, idx, avgdl, 4, 1L << 40)
    }
    assert(ex.getMessage.contains("folded"))
  }

  test("ingest stream with mergeAtSegments keeps the live segment count bounded") {
    import spark.implicits._
    val src = tmpDir("graft-automerge-src")
    val idx = tmpDir("graft-automerge-idx")
    val ckp = tmpDir("graft-automerge-ckp")
    val docs = (0 until 60).map(i => Corpus.synthDoc(i, 41L))
    for (g <- docs.grouped(10))
      g.toDS().coalesce(1).write.mode("append").parquet(src)
    val q = StreamingIngest.startIndexAppend(spark, src, idx, ckp, avgdl = 80.0,
      mergeAtSegments = 3)
    q.processAllAvailable()
    q.stop()
    val h = IndexBuilder.Handle(idx, graft.analyze.Analyzer.Simple)
    assert(h.segmentDirs.size <= 3,
      s"auto-merge should bound live segments at 3, got ${h.segmentDirs.size}")
    // every streamed doc searchable exactly once
    val ids = spark.read.parquet(h.segmentDirs.map(_ + "/docmeta"): _*)
      .select(col("docId")).collect().map(_.getLong(0))
    assert(ids.length == 60 && ids.distinct.length == 60)
  }

  test("queries stay correct while ingest and auto-merge run concurrently") {
    import spark.implicits._
    val src = tmpDir("graft-conc-src")
    val idx = tmpDir("graft-conc-idx")
    val ckp = tmpDir("graft-conc-ckp")
    val idxAll = tmpDir("graft-conc-all")
    val all = (0 until 100).map(i => Corpus.synthDoc(i, 47L))
    val h = IndexBuilder.build(spark, all.take(40).toDS(), idx,
      IndexBuilder.Config(salts = 4))
    for (g <- all.drop(40).grouped(10))
      g.toDS().coalesce(1).write.mode("append").parquet(src)
    val q = StreamingIngest.startIndexAppend(spark, src, idx, ckp,
      avgdl = h.stats(spark).avgdl, mergeAtSegments = 2)
    // hammer queries from this thread while micro-batches append and merges
    // flip segment visibility — every call must succeed (snapshot caches,
    // GC grace) and return a valid prefix of the growing corpus
    var queries = 0
    val deadline = System.currentTimeMillis() + 60000
    try {
      while (q.isActive && !q.recentProgress.exists(_.numInputRows == 0) &&
             System.currentTimeMillis() < deadline) {
        val hits = Searcher.topK(spark, IndexBuilder.openHandle(idx),
          "the import", 10).collect()
        assert(hits.nonEmpty)
        queries += 1
      }
      q.processAllAvailable()
    } finally q.stop()
    assert(queries > 3, s"expected several concurrent queries, ran $queries")
    // final state equals a fresh build over the full corpus
    val hAll = IndexBuilder.build(spark, all.toDS(), idxAll,
      IndexBuilder.Config(salts = 4))
    for (query <- queries0)
      assert(byCommit(IndexBuilder.openHandle(idx), query) == byCommit(hAll, query),
        s"post-ingest results differ for '$query'")
  }

  private val queries0 = Seq("the", "import def", "zzz_rare_token")

  test("delete+rebuild of the same dir invalidates query caches (fingerprint stamp)") {
    import spark.implicits._
    val idx = tmpDir("graft-rebuild-idx")
    val cfg = IndexBuilder.Config(salts = 2)
    val a = (0 until 30).map(i => Corpus.synthDoc(i, 43L))
    IndexBuilder.build(spark, a.toDS(), idx, cfg)
    val h = IndexBuilder.Handle(idx, graft.analyze.Analyzer.Simple)
    val before = Searcher.topK(spark, h, "the import", Int.MaxValue).collect().toSeq
    assert(before.nonEmpty)
    // rebuild the SAME dir over a disjoint half-corpus (create-index --force
    // + export pattern); cached blocks/df/stats must not survive
    Cli.run(spark, Seq("create-index", idx, "--force"))
    Thread.sleep(5) // marker mtime resolution
    IndexBuilder.build(spark, a.take(10).toDS(), idx, cfg)
    graft.index.Catalog.invalidate(idx)
    val after = Searcher.topK(spark, h, "the import", Int.MaxValue).collect().toSeq
    assert(after != before && after.nonEmpty,
      "query over the rebuilt index served the old corpus's cached postings")
    val fresh = IndexBuilder.build(spark, a.take(10).toDS(), tmpDir("graft-rebuild-b"), cfg)
    assert(after == Searcher.topK(spark, fresh, "the import", Int.MaxValue).collect().toSeq)
  }

  test("memoized union relations follow every index-state change (rebuild, append, merge, compact, tombstone)") {
    import spark.implicits._
    val idx = tmpDir("graft-rel-idx")
    val cfg = IndexBuilder.Config(salts = 2)
    val all = (0 until 60).map(i => Corpus.synthDoc(i, 71L))
    // every doc carries the probe term; paths identify docs
    def docs(from: Int, until: Int) =
      all.slice(from, until).map(d => d.copy(content = d.content + " zqprobe")).toDS()
    def paths(from: Int, until: Int) = all.slice(from, until).map(_.path).toSet
    val h = IndexBuilder.Handle(idx, graft.analyze.Analyzer.Simple)
    // the query must see exactly `want`, and each memoized union must list
    // exactly the live files of the snapshot's root and segments
    val lives = scala.collection.mutable.ArrayBuffer.empty[graft.index.Live]
    def check(step: String, want: Set[String]): Unit = {
      val v = h.snapshot
      lives += v.live(spark)
      val got = Searcher.topKSnap(spark, v, "zqprobe", Int.MaxValue).toDF()
        .join(v.docmetaAll(spark).toDF(), "docId").select("path").as[String]
        .collect().toSet
      assert(got == want, s"[$step] query served a stale index state")
      def pathOf(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
      for ((files, rootT, segT) <- Seq(
             (v.postingsAll(spark).inputFiles, "postings", "blocks"),
             (v.postingsOf(spark, Seq("zqprobe")).inputFiles, "postings", "blocks"),
             (v.docmetaAll(spark).inputFiles, "docmeta", "docmeta"),
             (v.termstatsAll(spark).inputFiles, "termstats", "termstats"))) {
        val dirs = s"${pathOf(v.root)}/$rootT/" +: v.segmentDirs.map(d => s"${pathOf(d)}/$segT/")
        assert(files.forall(f => dirs.exists(pathOf(f).startsWith) && Fs.exists(f)),
          s"[$step] $rootT relation lists files outside the live state: ${files.toSeq}")
        assert(dirs.forall(d => files.exists(f => pathOf(f).startsWith(d))),
          s"[$step] $rootT relation misses a live source")
      }
    }
    IndexBuilder.build(spark, docs(0, 20), idx, cfg)
    check("build", paths(0, 20))
    // same-dir rebuild over other docs: a new _STAGE_postings stamp
    Fs.delete(idx)
    Thread.sleep(5) // marker mtime resolution
    val avgdl = IndexBuilder.build(spark, docs(20, 40), idx, cfg).stats(spark).avgdl
    check("rebuild", paths(20, 40))
    StreamingIngest.appendSegment(spark, docs(40, 50), 0L, idx, avgdl, 2, 1L << 40)
    check("appendSegment", paths(20, 50))
    StreamingIngest.appendSegment(spark, docs(50, 60), 1L, idx, avgdl, 2, 1L << 40)
    check("appendSegment", paths(20, 60))
    assert(Compactor.mergeSegments(spark, idx).segmentDirs.size == 1)
    check("mergeSegments", paths(20, 60))
    assert(Compactor.compact(spark, idx, cfg).root != idx)
    check("compact", paths(20, 60))
    val dead = h.docmetaAll(spark).filter(col("path").isin(paths(20, 25).toSeq: _*))
      .select("docId")
    Compactor.tombstone(spark, idx, dead)
    check("tombstone", paths(25, 60))
    // seven index states later: the memo holds one state for the dir, the
    // current one — every older state was retired, not leaked
    assert(lives.init.forall(_.retired) && !lives.last.retired,
      s"stale states kept: ${lives.filterNot(_.retired).map(_.fingerprint)}")
    assert(h.snapshot.live(spark) eq lives.last)
    assert(lives.last.fingerprint == h.snapshot.fingerprint)
  }

  test("tombstones: live deletes vanish from every query path, scores unchanged (Lucene semantics)") {
    import spark.implicits._
    val all = (0 until 60).map(i => Corpus.synthDoc(i, 61L))
    val idx = tmpDir("graft-tomb-idx")
    val h = IndexBuilder.build(spark, all.toDS(), idx, IndexBuilder.Config(salts = 4))
    val preTop = Searcher.topK(spark, h, "the import", Int.MaxValue).collect()
      .map(x => (x.docId, x.score)).toMap
    // tombstone every docId % 3 == 0
    val deadIds = h.docmeta(spark).collect().map(_.docId).filter(_ % 3 == 0).toSet
    Compactor.tombstone(spark, idx, deadIds.toSeq.toDF("docId"))
    // exhaustive search: dead docs gone, surviving scores BIT-IDENTICAL
    val post = Searcher.topK(spark, h, "the import", Int.MaxValue).collect()
      .map(x => (x.docId, x.score)).toMap
    assert(post.keySet == preTop.keySet.filterNot(deadIds), "membership must drop exactly the tombstoned docs")
    post.foreach { case (d, s) => assert(s == preTop(d), s"score changed for live doc $d") }
    // finite k: dead docs' slots go to the next-best LIVE docs
    val top5 = Searcher.topK(spark, h, "the import", 5).collect().map(_.docId)
    val want5 = preTop.toSeq.filterNot { case (d, _) => deadIds(d) }
      .sortBy { case (d, s) => (-s, d) }.take(5).map(_._1)
    assert(top5.toSeq == want5, "finite-k must backfill deleted slots with live docs")
    // distributed path agrees
    val dist = Searcher.topK(spark, h, "the import", Int.MaxValue,
      driverPathMaxPostings = 0L).collect().map(x => (x.docId, x.score)).toMap
    assert(dist == post, "driver and distributed paths must agree under tombstones")
    // exact term lookup excludes dead docs too
    val lk = Searcher.termLookup(spark, h, "the").collect().map(_.getLong(0)).toSet
    assert(lk.intersect(deadIds).isEmpty && lk.nonEmpty)
    // _count excludes dead docs on BOTH paths — and the single-term form
    // must NOT take the df metadata shortcut while a delete set is live
    // (df counts tombstoned docs until a compact purges them)
    assert(Searcher.countMatching(spark, h, "the import")
      .collect().head.getLong(0) == post.size.toLong)
    assert(Searcher.countMatching(spark, h, "the import",
      driverPathMaxPostings = 0L).collect().head.getLong(0) == post.size.toLong)
    assert(Searcher.countMatching(spark, h, "the")
      .collect().head.getLong(0) == lk.size.toLong)
  }

  test("compact after tombstoning == fresh build over the surviving corpus (bit-identical)") {
    import spark.implicits._
    val all = (0 until 90).map(i => Corpus.synthDoc(i, 67L))
    val idx = tmpDir("graft-tombc-idx")
    val idxSurv = tmpDir("graft-tombc-surv")
    val cfg = IndexBuilder.Config(salts = 4)
    val h = IndexBuilder.build(spark, all.take(70).toDS(), idx, cfg)
    IndexBuilder.buildPositions(spark, all.take(70).toDS(), idx, h.mode)
    StreamingIngest.appendSegment(spark, all.drop(70).toDS(), 0L, idx,
      h.stats(spark).avgdl, 4, 1L << 40)
    // tombstone a batch-index subset AND a streamed subset (commit-keyed)
    val deadCommits = all.zipWithIndex.collect { case (d, i) if i % 5 == 2 => d.commit }.toSet
    val dead = h.docmetaAll(spark).toDF()
      .filter(col("commit").isin(deadCommits.toSeq: _*)).select(col("docId"))
    Compactor.tombstone(spark, idx, dead)
    val hc = Compactor.compact(spark, idx, cfg)
    assert(hc.segmentDirs.isEmpty && hc.snapshot.tombstoneDirs.isEmpty,
      "compaction must fold segments AND purge the delete set")
    // the epoch equals a FRESH build over the survivors — stats, docmeta
    // (re-ranked dense ids), postings blocks, searches
    val surv = all.filterNot(d => deadCommits(d.commit))
    val hS = IndexBuilder.build(spark, surv.toDS(), idxSurv, cfg)
    IndexBuilder.buildPositions(spark, surv.toDS(), idxSurv, hS.mode)
    assert(hc.stats(spark) == hS.stats(spark))
    assert(hc.docmeta(spark).collect().sortBy(_.docId).toSeq ==
      hS.docmeta(spark).collect().sortBy(_.docId).toSeq)
    def blockKey(b: graft.index.PostingBlock) =
      (b.term, b.salt, b.blockIdx, b.firstDocId, b.lastDocId, b.n, b.maxImpact,
        b.docDeltas.toSeq, b.tfs.toSeq, b.dls.toSeq)
    assert(hc.postings(spark).collect().map(blockKey).sortBy(_.toString).toSeq ==
      hS.postings(spark).collect().map(blockKey).sortBy(_.toString).toSeq)
    sameTailTables(hc, hS, positions = true)
    for (q <- queries)
      assert(Searcher.topK(spark, hc, q, Int.MaxValue).collect().toSeq ==
        Searcher.topK(spark, hS, q, Int.MaxValue).collect().toSeq)
    // tombstone-only compact (no live segments): deletes alone justify a
    // fold (Handle.root resolves the live catalog, so pin pre-fold values)
    val rootBefore = hc.root
    val nBefore = hc.docmeta(spark).count()
    val dead2 = hc.docmeta(spark).collect().map(_.docId).filter(_ % 7 == 1)
    Compactor.tombstone(spark, idx, dead2.toSeq.toDF("docId"))
    val hc2 = Compactor.compact(spark, idx, cfg)
    assert(hc2.root != rootBefore, "a delete-only compact must still fold a new epoch")
    assert(hc2.docmeta(spark).count() == nBefore - dead2.length)
  }

  test("maintenance lock: merge skips while held, compact fails loudly, stale locks break") {
    import spark.implicits._
    val idx = tmpDir("graft-lock-idx")
    val all = (0 until 40).map(i => Corpus.synthDoc(i, 53L))
    val h = IndexBuilder.build(spark, all.take(20).toDS(), idx, IndexBuilder.Config(salts = 2))
    val avgdl = h.stats(spark).avgdl
    StreamingIngest.appendSegment(spark, all.slice(20, 30).toDS(), 0L, idx, avgdl, 2, 1L << 40)
    StreamingIngest.appendSegment(spark, all.slice(30, 40).toDS(), 1L, idx, avgdl, 2, 1L << 40)
    // a peer holds the lock: opportunistic merge must SKIP (segments stay)
    assert(Epochs.tryMaintLock(idx).nonEmpty)
    assert(Compactor.mergeSegments(spark, idx).segmentDirs.size == 2)
    // ...and compact must fail loudly after its bounded wait
    sys.props("graft.maint.lock.wait.ms") = "300"
    try {
      val ex = intercept[IllegalArgumentException] { Compactor.compact(spark, idx) }
      assert(ex.getMessage.contains("_MAINT"))
    } finally sys.props.remove("graft.maint.lock.wait.ms")
    // a CRASHED holder's lock (stale mtime) is broken and the op proceeds
    val lock = new java.io.File(idx, "_MAINT")
    assert(lock.setLastModified(
      System.currentTimeMillis() - Epochs.maintLockStaleMs - 2000))
    val hm = Compactor.mergeSegments(spark, idx)
    assert(hm.segmentDirs.size == 1, "stale lock must be broken, merge must run")
    assert(!lock.exists, "lock must be released when the op completes")
  }

  test("a lock stolen mid-body aborts the op BEFORE its commit artifact exists") {
    import spark.implicits._
    val idx = tmpDir("graft-steal-idx")
    val all = (0 until 40).map(i => Corpus.synthDoc(i, 61L))
    val h = IndexBuilder.build(spark, all.take(30).toDS(), idx, IndexBuilder.Config(salts = 2))
    val avgdl = h.stats(spark).avgdl
    StreamingIngest.appendSegment(spark, all.drop(30).toDS(), 0L, idx, avgdl, 2, 1L << 40)
    // the thief takes the lock at the op's last filesystem step before its
    // commit point's ownership re-verification
    def steal(lastStep: (String, String) => Boolean)(op: => Unit): Unit = {
      Fs.beforeMutation = (o, p) => if (lastStep(o, p)) Fs.writeString(s"$idx/_MAINT", "thief")
      try {
        val ex = intercept[IllegalStateException](op)
        assert(ex.getMessage.contains("lost"))
      } finally {
        Fs.beforeMutation = (_, _) => ()
        Fs.delete(s"$idx/_MAINT") // evict the thief for the next phase
      }
    }
    // compact: the CURRENT flip must not have happened — the epoch pointer
    // (the commit artifact) must not exist and queries still see genesis+segment
    steal((_, p) => p.endsWith("/folded_segments")) { Compactor.compact(spark, idx) }
    assert(!graft.index.Fs.exists(s"$idx/CURRENT"),
      "stolen-lock compact must abort BEFORE the CURRENT flip")
    assert(IndexBuilder.openHandle(idx).segmentDirs.size == 1)
    // tombstone: no committed (_DONE'd) delete delta may exist
    steal((o, p) => o == "delete" && p.contains("/tombstones/del-")) {
      Compactor.tombstone(spark, idx, Seq(0L).toDF("docId"))
    }
    assert(IndexBuilder.openHandle(idx).snapshot.tombstoneDirs.isEmpty,
      "stolen-lock tombstone must abort BEFORE its _DONE marker")
    // merge: no committed merged=* segment may be visible
    steal((_, p) => p.endsWith("/replaces")) { Compactor.mergeSegments(spark, idx, minSegments = 1) }
    assert(!IndexBuilder.openHandle(idx).segmentDirs.exists(
      d => graft.index.Fs.name(d).startsWith("merged=")),
      "stolen-lock merge must abort BEFORE its _DONE marker")
    // after the steals, the index is fully operational
    assert(Compactor.compact(spark, idx).segmentDirs.isEmpty)
  }

  test("gc reconcile sweeps crash-leaked dirs (hidden-but-undeferred segments, dead half-merges)") {
    import spark.implicits._
    val idx = tmpDir("graft-gcrec-idx")
    val all = (0 until 40).map(i => Corpus.synthDoc(i, 59L))
    val h = IndexBuilder.build(spark, all.take(20).toDS(), idx, IndexBuilder.Config(salts = 2))
    val avgdl = h.stats(spark).avgdl
    StreamingIngest.appendSegment(spark, all.slice(20, 30).toDS(), 0L, idx, avgdl, 2, 1L << 40)
    StreamingIngest.appendSegment(spark, all.slice(30, 40).toDS(), 1L, idx, avgdl, 2, 1L << 40)
    Compactor.mergeSegments(spark, idx) // hides batch=0/1, defers them in _gc
    // simulate the crash window between commit and gcDefer: the ledger is gone
    graft.index.Fs.delete(s"$idx/_gc")
    // and a crashed half-merge: a merged=* dir that never got its _DONE
    graft.index.Fs.mkdirs(s"$idx/ingest_segments/merged=99")
    new java.io.File(s"$idx/ingest_segments/merged=99")
      .setLastModified(System.currentTimeMillis() - 60000)
    sys.props("graft.gc.grace.ms") = "150"
    try {
      Compactor.mergeSegments(spark, idx) // reconcile re-records the leaked dirs
      assert(!graft.index.Fs.exists(s"$idx/ingest_segments/merged=99"),
        "dead _DONE-less merge dir must be deleted")
      assert(graft.index.Fs.readString(s"$idx/_gc").exists(c =>
        c.contains("batch=0") && c.contains("batch=1")),
        "hidden-but-undeferred segments must re-enter the GC ledger")
      Thread.sleep(300) // past the grace period
      Compactor.mergeSegments(spark, idx) // next maintenance op sweeps them
      assert(!graft.index.Fs.exists(s"$idx/ingest_segments/batch=0") &&
        !graft.index.Fs.exists(s"$idx/ingest_segments/batch=1"),
        "leaked segment dirs must be physically deleted after the grace period")
    } finally sys.props.remove("graft.gc.grace.ms")
    // the index is still fully correct after the sweeps
    val hAll = IndexBuilder.build(spark, all.toDS(), tmpDir("graft-gcrec-all"),
      IndexBuilder.Config(salts = 2))
    for (q <- queries0)
      assert(byCommit(IndexBuilder.openHandle(idx), q) == byCommit(hAll, q))
  }

  /** A small genesis index with two live streamed segments. */
  private def twoSegmentIndex(prefix: String, seed: Long): String = {
    import spark.implicits._
    val idx = tmpDir(prefix)
    val all = (0 until 30).map(i => Corpus.synthDoc(i, seed))
    val h = IndexBuilder.build(spark, all.take(20).toDS(), idx, IndexBuilder.Config(salts = 2))
    val avgdl = h.stats(spark).avgdl
    StreamingIngest.appendSegment(spark, all.slice(20, 25).toDS(), 0L, idx, avgdl, 2, 1L << 40)
    StreamingIngest.appendSegment(spark, all.slice(25, 30).toDS(), 1L, idx, avgdl, 2, 1L << 40)
    idx
  }

  test("an epoch stranded by a compact that crashed before its CURRENT flip is removed by the next no-op maintenance op") {
    val idx = twoSegmentIndex("graft-strand-idx", 67L)
    var crashed = false
    Fs.beforeMutation = (_, p) => {
      // the process dies at its first step towards the pointer flip
      if (p.contains("/CURRENT")) crashed = true
      if (crashed) throw new IllegalStateException("crash")
    }
    try intercept[IllegalStateException](Compactor.compact(spark, idx))
    finally Fs.beforeMutation = (_, _) => ()
    assert(Fs.exists(s"$idx/epoch-000001") && !Fs.exists(s"$idx/CURRENT"))
    assert(new java.io.File(idx, "_MAINT").setLastModified(1000L)) // the dead holder's lock is stale
    sys.props("graft.gc.grace.ms") = "0"
    try Compactor.mergeSegments(spark, idx, minSegments = 99) // nothing to merge
    finally sys.props.remove("graft.gc.grace.ms")
    assert(!Fs.exists(s"$idx/epoch-000001"), "the never-visible epoch must be deleted")
    assert(IndexBuilder.openHandle(idx).segmentDirs.size == 2)
  }

  test("a holder resumed after a stale-lock break never deletes a peer's committed tombstone delta") {
    import spark.implicits._
    val idx = twoSegmentIndex("graft-peer-idx", 71L)
    val peerDelta = s"$idx/tombstones/del-000001"
    var peerCommitted = false
    val beaten = new java.util.concurrent.atomic.AtomicBoolean(false)
    Fs.beforeMutation = (_, p) =>
      if (Thread.currentThread.getName == "graft-maint-heartbeat") beaten.set(true)
      else if (!peerCommitted && p.contains(peerDelta)) {
        // the holder is about to reserve (or clear) del-000001; meanwhile
        // its lock was broken as stale and a peer committed that very name.
        // The holder's first heartbeat re-stamp must land before the steal:
        // one racing it would clobber the peer's lock (the file lock is
        // best-effort, its re-stamp a read-then-write)
        val until = System.currentTimeMillis() + 5000
        while (!beaten.get && System.currentTimeMillis() < until) Thread.sleep(10)
        Thread.sleep(200)
        peerCommitted = true
        Fs.writeString(s"$idx/_MAINT", "peer")
        Fs.tryCreateNew(s"$peerDelta.claim")
        Seq(3L).toDF("docId").write.parquet(s"$peerDelta/ids")
        Fs.touch(s"$peerDelta/_DONE")
      }
    try {
      val ex = intercept[IllegalStateException](
        Compactor.tombstone(spark, idx, Seq(7L).toDF("docId")))
      assert(ex.getMessage.contains("lost"), "the holder must abort")
    } finally Fs.beforeMutation = (_, _) => ()
    assert(peerCommitted && Fs.exists(s"$peerDelta/_DONE"), "the peer's delta must survive")
    Catalog.invalidate(idx)
    assert(IndexBuilder.openHandle(idx).snapshot.tombstoneIds(spark).toSeq == Seq(3L))
  }

  /** Rewrite the genesis postings of `dir` with the same `blocks` in another
    * file layout: "hash" is the layout indexes had before term ranges
    * (hash-partitioned on (term, salt): every file spans the dictionary);
    * "range" is the term-range layout, with the range partitions named in
    * `noStats` written without column statistics, and with small row groups
    * and pages if `small`.
    */
  private def rewritePostings(dir: String, blocks: Seq[PostingBlock], layout: String,
                              noStats: Set[Int] = Set.empty, small: Boolean = false): Unit = {
    import spark.implicits._
    val parts = 4
    val out = tmpDir("graft-relayout") + "/postings"
    // `small`: a row group per ~10 rows and a page per 4, so row-group
    // statistics and the column index both prune
    val sizes = if (small) Map("parquet.block.row.count.limit" -> "10", "parquet.page.row.count.limit" -> "4")
      else Map.empty[String, String]
    def write(bs: Seq[PostingBlock], key: Seq[org.apache.spark.sql.Column], stats: Boolean) =
      bs.toDS().repartition(parts, key: _*).sortWithinPartitions($"term", $"salt", $"blockIdx")
        .write.option("parquet.column.statistics.enabled", stats.toString).options(sizes)
        .mode("append").parquet(out)
    layout match {
      case "hash" => write(blocks, Seq($"term", $"salt"), stats = true)
      case "range" =>
        val bounds = TermRanges.boundsOf(
          blocks.map(b => (TermRanges.utf8(b.term), b.salt, b.n.toDouble)), parts)
        val router = new TermRangeRouter(bounds._1, bounds._2, parts)
        val (bare, kept) = blocks.partition(b => noStats(router.partitionOf(
          org.apache.spark.unsafe.types.UTF8String.fromString(b.term), b.salt)))
        for ((bs, stats) <- Seq(kept -> true, bare -> false) if bs.nonEmpty)
          write(bs, Seq(TermRanges.route(spark, bounds, parts, $"term", $"salt")), stats)
    }
    Fs.delete(s"$dir/postings")
    assert(Fs.tryRename(out, s"$dir/postings"))
    Fs.touch(s"$dir/_STAGE_postings") // new root fingerprint
    Catalog.invalidate(dir)
  }

  private def rootFiles(h: IndexBuilder.Handle): Seq[TermRanges.FileRange] = h.snapshot.rootRanges

  // `file:/x` and `file:///x` name the same file
  private def local(paths: Iterable[String]): Set[String] =
    paths.map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).toSet

  test("term-range layout after build and compact; postingsOf = covering root files + segment files") {
    import spark.implicits._
    val all = (0 until 90).map(i => Corpus.synthDoc(i, 41L))
    val idx = tmpDir("graft-ranges-idx")
    val cfg = IndexBuilder.Config(salts = 4)
    val h = IndexBuilder.build(spark, all.take(60).toDS(), idx, cfg)
    val built = rootFiles(h)
    assert(built.size > 1 && built.forall(_.range.isDefined) && !TermRanges.overlapping(built),
      "a build writes one term range per file; ranges meet at most at a boundary term")
    StreamingIngest.appendSegment(spark, all.slice(60, 90).toDS(), 0L, idx,
      h.stats(spark).avgdl, 4, 1L << 40)
    val v = h.snapshot
    assert(v.segmentDirs.size == 1)
    assert(v.rootRanges eq built, "a segment commit must not re-read the root's footers")
    val segFiles = TermRanges.fileRanges(v.segmentDirs.head + "/blocks")
    assert(segFiles.nonEmpty && segFiles.forall(_.range.isDefined))
    for (t <- Seq("the", "import", "def", "zzz_nothing_like_it") ++ h.termstats(spark).collect().map(_.term).take(3)) {
      val want = (built ++ segFiles).filter(_.mayHold(TermRanges.utf8(t))).map(_.path)
      assert(local(v.postingsOf(spark, Seq(t)).inputFiles) == local(want), s"files read for '$t'")
    }
    assert(v.postingsOf(spark, Seq("zzz_nothing_like_it")).inputFiles.isEmpty,
      "a term outside every root and segment range reads no file")
    val before = queries.map(q => q -> byCommit(h, q)).toMap
    val hc = Compactor.compact(spark, idx, cfg)
    val folded = rootFiles(hc)
    assert(folded.size > 1 && folded.forall(_.range.isDefined) && !TermRanges.overlapping(folded),
      "the fold writes one term range per file")
    for (q <- queries) assert(byCommit(hc, q) == before(q), s"results changed across the fold for '$q'")
  }

  test("postings in the older hash layout answer identically, select every file, and compact re-partitions them") {
    import spark.implicits._
    val idx = tmpDir("graft-hashlayout-idx")
    val cfg = IndexBuilder.Config(salts = 4)
    val h = IndexBuilder.build(spark, (0 until 80).map(i => Corpus.synthDoc(i, 43L)).toDS(), idx, cfg)
    val qs = queries :+ "merge buffer"
    def answers(h: IndexBuilder.Handle) = (qs.map(q => byCommit(h, q)),
      qs.map(q => Searcher.countMatching(spark, h, q).collect().head.getLong(0)),
      Searcher.termLookup(spark, h, "import").collect().map(_.getLong(0)).toSeq)
    val before = answers(h)
    rewritePostings(idx, h.postings(spark).collect().toSeq, "hash")
    val files = rootFiles(h)
    assert(files.size == 4 && TermRanges.overlapping(files), "hash files all span the dictionary")
    for (t <- Seq("the", "import", "def"))
      assert(h.snapshot.postingsOf(spark, Seq(t)).inputFiles.length == files.size, s"'$t' reads every file")
    assert(answers(h) == before, "the hash layout must answer identically")
    val hc = Compactor.compact(spark, idx, cfg)
    assert(hc.root != idx, "compact folds a hash-layout root into a range-layout epoch")
    assert(!TermRanges.overlapping(rootFiles(hc)))
    assert(answers(hc) == before)
    assert(Compactor.compact(spark, idx, cfg).root == hc.root, "nothing left to fold")
  }

  test("a postings file written without term statistics is always selected") {
    import spark.implicits._
    val idx = tmpDir("graft-nostats-idx")
    val h = IndexBuilder.build(spark, (0 until 80).map(i => Corpus.synthDoc(i, 47L)).toDS(),
      idx, IndexBuilder.Config(salts = 4))
    val before = queries.map(q => q -> byCommit(h, q)).toMap
    rewritePostings(idx, h.postings(spark).collect().toSeq, "range", noStats = Set(3))
    val files = rootFiles(h)
    val bare = files.filter(_.range.isEmpty).map(_.path)
    assert(bare.size == 1 && files.size > 2, s"files: $files")
    for (t <- h.termstats(spark).collect().map(_.term)) {
      val read = local(h.snapshot.postingsOf(spark, Seq(t)).inputFiles)
      assert(read.contains(local(bare).head) && read.size < files.size, s"files read for '$t': $read")
    }
    for (q <- queries) assert(byCommit(h, q) == before(q), s"results changed for '$q'")
  }

  // In UTF-16 code-unit order (String.compareTo) U+1D49C sorts BELOW
  // U+E000 and U+FFFD; in UTF-8 byte order, Parquet's, above them.
  private def exotic(t: String): String = t.head match {
    case c if c < 'h' => "\uE000" + t
    case c if c < 'p' => "\uFFFD" + t
    case c if c <= 'z' => "\uD835\uDC9C" + t
    case _ => t
  }

  test("terms with supplementary-plane and U+E000..U+FFFF characters are found") {
    import spark.implicits._
    val idx = tmpDir("graft-unicode-idx")
    val h = IndexBuilder.build(spark, (0 until 80).map(i => Corpus.synthDoc(i, 53L)).toDS(),
      idx, IndexBuilder.Config(salts = 4))
    val terms = h.termstats(spark).collect().map(_.term).sorted.grouped(6).map(_.head).toSeq
    val want = terms.map(t => Searcher.termLookup(spark, h, t).collect().map(_.getLong(0)).toSeq)
    val ranked = Seq("the import", "def merge").map(q =>
      Searcher.topK(spark, h, q, 10).collect().toSeq)
    rewritePostings(idx, h.postings(spark).collect().toSeq.map(b => b.copy(term = exotic(b.term))), "range")
    val files = rootFiles(h)
    assert(files.size > 1 && !TermRanges.overlapping(files), s"files: $files")
    for ((t, ids) <- terms.zip(want))
      assert(Searcher.termLookup(spark, h, exotic(t)).collect().map(_.getLong(0)).toSeq == ids,
        s"postings of '${exotic(t)}'")
    for ((q, hits) <- Seq("the import", "def merge").zip(ranked))
      assert(Searcher.topKTermsSnap(spark, h.snapshot,
        graft.analyze.Analyzer.tokens(q, h.mode).toSeq.map(exotic), 10).collect().toSeq == hits)
  }

  test("the driver probe reads exactly the blocks postingsOf collects") {
    import spark.implicits._
    val all = (0 until 110).map(i => Corpus.synthDoc(i, 59L))
    val idx = tmpDir("graft-probe-idx")
    val h = IndexBuilder.build(spark, all.take(80).toDS(), idx, IndexBuilder.Config(salts = 4))
    val vocab = h.termstats(spark).collect().map(_.term).sorted
    val rnd = new scala.util.Random(59L)
    // random sets of 1–4 terms, some with a term the index lacks
    val termSets = Seq.fill(16)(Seq.fill(1 + rnd.nextInt(4))(vocab(rnd.nextInt(vocab.length))) ++
      (if (rnd.nextBoolean()) Seq("zzz_absent") else Nil))
    def fields(b: PostingBlock) = (b.term, b.salt, b.blockIdx, b.firstDocId, b.lastDocId, b.n,
      Seq(b.docDeltas, b.tfs, b.dls).map(a => Option(a).map(_.toSeq)), b.maxImpact)
    def multiset(bs: Seq[PostingBlock]) = bs.groupBy(fields).map { case (k, xs) => k -> xs.size }
    def same(fixture: String, sets: Seq[Seq[String]] = termSets): Unit = {
      val v = h.snapshot
      var total = 0
      for (terms <- sets) {
        val driver = v.live(spark).readBlocks(terms, Int.MaxValue).toSeq
        val viaSpark = v.postingsOf(spark, terms).collect().toSeq
        assert(multiset(driver) == multiset(viaSpark), s"[$fixture] blocks of ${terms.mkString(" ")}")
        total += driver.size
      }
      assert(total > 0, s"[$fixture] the term sets must find blocks")
    }
    same("fresh build")
    // a term in no file's range opens no file
    val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    graft.index.PostingsReader.beforeOpen = p => opened.add(p)
    try assert(h.snapshot.live(spark).readBlocks(Seq("~"), Int.MaxValue).isEmpty)
    finally graft.index.PostingsReader.beforeOpen = _ => ()
    assert(opened.isEmpty, s"opened $opened")
    val avgdl = h.stats(spark).avgdl
    for (b <- 0 until 3)
      StreamingIngest.appendSegment(spark, all.slice(80 + 10 * b, 90 + 10 * b).toDS(), b.toLong,
        idx, avgdl, 4, 1L << 40)
    assert(h.segmentDirs.size == 3)
    same("3 live segments")
    val blocks = h.postings(spark).collect().toSeq
    rewritePostings(idx, blocks, "hash")
    assert(TermRanges.overlapping(rootFiles(h)))
    same("hash layout")
    rewritePostings(idx, blocks, "range", noStats = Set(3))
    assert(rootFiles(h).exists(_.range.isEmpty))
    same("a file without term statistics")
    rewritePostings(idx, blocks, "range", small = true)
    val groups = rootFiles(h).map(_.footer.getBlocks.size)
    assert(groups.sum > 2 * groups.size, s"fixture: row groups per file $groups")
    same("small row groups and pages")
    rewritePostings(idx, blocks.map(b => b.copy(term = exotic(b.term))), "range")
    same("supplementary-plane and U+E000 terms", termSets.map(ts => ts ++ ts.map(exotic)))
  }

  test("phrase query on an index without the positional tier fails loudly") {
    import spark.implicits._
    val idx = tmpDir("graft-nopos-idx")
    val h = IndexBuilder.build(spark, (0 until 20).map(i => Corpus.synthDoc(i, 31L)).toDS(),
      idx, IndexBuilder.Config(salts = 2))
    val ex = intercept[IllegalArgumentException] {
      graft.query.Phrase.search(spark, h, "the import").collect()
    }
    assert(ex.getMessage.contains("positional"))
  }

  test("a snapshot keeps its state's memo across a commit; the replaced state is retired") {
    import spark.implicits._
    val all = (0 until 50).map(i => Corpus.synthDoc(i, 53L))
    val idx = tmpDir("graft-handover-idx")
    val h = IndexBuilder.build(spark, all.take(40).toDS(), idx, IndexBuilder.Config(salts = 2))
    val dead = h.docmeta(spark).collect().map(_.docId).filter(_ % 4 == 0).toSeq
    Compactor.tombstone(spark, idx, dead.toDF("docId"))
    def hits(v: IndexBuilder.Snapshot, driverPath: Long) =
      Searcher.topKSnap(spark, v, "the import", Int.MaxValue,
        driverPathMaxPostings = driverPath).collect().toSeq
    val v = h.snapshot
    // the distributed path ships the delete set as the state's broadcast
    val pre = hits(v, 0L)
    assert(pre.nonEmpty && pre.forall(x => !dead.contains(x.docId)))
    val old = v.live(spark)
    StreamingIngest.appendSegment(spark, all.slice(40, 50).toDS(), 0L, idx,
      h.stats(spark).avgdl, 2, 1L << 40)
    val next = h.snapshot
    assert(next.fingerprint != v.fingerprint)
    val post = hits(next, 0L)
    assert(post.size > pre.size, "a query on the new snapshot must see the appended docs")
    assert(post == hits(next, Searcher.DriverPathMaxPostings))
    assert(next.live(spark) ne old)
    // the replaced state left the memo: retired, its delete-set broadcast
    // unpersisted — yet a query still holding the old snapshot answers from
    // the old state on both paths (unpersist, not destroy)
    assert(old.retired && !next.live(spark).retired)
    assert(v.live(spark) eq old)
    assert(hits(v, 0L) == pre && hits(v, Searcher.DriverPathMaxPostings) == pre)
  }
}
