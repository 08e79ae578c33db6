package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.analyze.Analyzer
import graft.corpus.Corpus
import graft.index.{Hit, IndexBuilder}
import graft.query.{Oracle, Searcher}

/** The rank-identity gate (FIXTURES.md §4, north rule): block-max WAND
  * top-k over the compressed index must equal the naive BM25 oracle exactly
  * — (docId, score) lists, score desc / docId asc — at a k small enough
  * that pruning actually fires, on a corpus with hot Zipfian terms.
  */
class EngineSpec extends AnyFunSuite with SparkSuite {

  private lazy val corpus = Corpus.synth(spark, 2000, seed = 42L).cache()
  private lazy val handle = IndexBuilder.build(spark, corpus, tmpDir("graft-idx"),
    IndexBuilder.Config(salts = 4, mode = Analyzer.Code))

  // FIXTURES.md §4 query set (q6 trigram mode handled separately)
  private val querySet = Seq(
    "sparkSession", // q1 single term
    "read parquet", // q2 two-term
    "foo_bar baz qux quux", // q3 multi-term, WAND pruning
    "the import def", // q4 hot terms (skew path)
    "zzz_rare_token", // q5 tail term
    "postingList delta_encode the", // q7 mixed hot+cold
    "catalystRule", "shuffle write buffer", "segment merge lineage", // q8-q10
  )

  private def assertRankIdentical(got: Array[Hit], want: Array[Hit], q: String): Unit = {
    assert(got.length == want.length, s"[$q] size: got ${got.length} want ${want.length}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g.docId == w.docId, s"[$q] rank $i docId: got $g want $w")
      assert(g.score == w.score, s"[$q] rank $i score bits: got $g want $w")
    }
  }

  test("WAND top-10 rank-identical to naive oracle on the full query set") {
    for (q <- querySet) {
      val got = Searcher.topK(spark, handle, q, 10).collect()
      val want = Oracle.topK(spark, corpus, q, 10, Analyzer.Code).collect()
      assertRankIdentical(got, want, q)
      assert(got.nonEmpty || Analyzer.tokens(q, Analyzer.Code).forall(_ => true))
    }
  }

  test("conjunctive (AND) intersection rank-identical to oracle") {
    for (q <- Seq("read parquet", "the import", "sparkSession dataFrame")) {
      val got = Searcher.topK(spark, handle, q, 10, conjunctive = true).collect()
      val want = Oracle.topK(spark, corpus, q, 10, Analyzer.Code, conjunctive = true).collect()
      assertRankIdentical(got, want, s"AND:$q")
    }
  }

  test("minimum_should_match: OR hits restricted to ≥m matched terms, bit-identical scores") {
    val q = "read parquet buffer"
    val terms = Analyzer.tokens(q, Analyzer.Code).toSeq
    val or = Searcher.topK(spark, handle, q, Int.MaxValue)
      .collect().map(h => h.docId -> h.score).toMap
    // ground truth matched-term counts from single-term postings membership
    val counts = terms
      .flatMap(t => Searcher.docsWithAnySnap(spark, handle.snapshot, Seq(t))
        .collect().map(_.getLong(0)))
      .groupBy(identity).map { case (d, xs) => d -> xs.length }
    for (m <- 2 to 3; driverMax <- Seq(Searcher.DriverPathMaxPostings, 0L)) {
      val got = Searcher.topK(spark, handle, q, Int.MaxValue,
        driverPathMaxPostings = driverMax, minMatch = m).collect()
      val wantIds = counts.filter(_._2 >= m).keySet
      assert(got.map(_.docId).toSet == wantIds, s"m=$m driverMax=$driverMax")
      got.foreach(h => assert(h.score == or(h.docId), s"m=$m doc=${h.docId}"))
      // ranked like every other surface
      assert(got.toSeq == got.toSeq.sortBy(h => (-h.score, h.docId)))
    }
    // m above the clause count can never be satisfied (ES semantics)
    assert(Searcher.topK(spark, handle, q, 10, minMatch = 4).collect().isEmpty)
  }

  test("filter context: membership restricted, scores untouched, k fills from allowed docs") {
    val q = "read parquet"
    val or = Searcher.topK(spark, handle, q, Int.MaxValue).collect()
    val pred = col("docId") % 3 === 0
    val full = Searcher.topKFiltered(spark, handle, q, Int.MaxValue, pred).collect()
    // membership = OR hits ∩ predicate; scores bit-identical (corpus-wide
    // stats — the ES non-scoring filter context)
    val want = or.filter(_.docId % 3 == 0)
    assert(full.map(h => (h.docId, h.score)).toSeq ==
      want.map(h => (h.docId, h.score)).toSeq)
    assert(full.length < or.length) // the filter actually restricted
    // finite k: top-k of the filtered ranking, never k minus filtered-out
    val top5 = Searcher.topKFiltered(spark, handle, q, 5, pred).collect()
    assert(top5.map(h => (h.docId, h.score)).toSeq ==
      want.take(5).map(h => (h.docId, h.score)).toSeq)
  }

  test("exhaustive mode (k=∞) matches oracle membership and order") {
    val got = Searcher.topK(spark, handle, "varint checkpointDir", Int.MaxValue).collect()
    val want = Oracle.topK(spark, corpus, "varint checkpointDir", Int.MaxValue, Analyzer.Code).collect()
    assertRankIdentical(got, want, "exhaustive")
    assert(got.length > 10)
  }

  test("driver fast path ≡ distributed path (identical hits, both modes)") {
    for (q <- Seq("the import def", "sparkSession", "read parquet"); conj <- Seq(false, true)) {
      val fast = Searcher.topK(spark, handle, q, 10, conj).collect()
      val dist = Searcher.topK(spark, handle, q, 10, conj,
        driverPathMaxPostings = 0L).collect()
      assert(fast.toSeq == dist.toSeq, s"[$q conj=$conj]")
    }
  }

  test("property: WAND top-k equals brute-force scoring on 50 seeded random posting sets") {
    val rnd = new scala.util.Random(13)
    val avgdl = 50.0
    for (trial <- 0 until 50) {
      val nTerms = 1 + rnd.nextInt(4)
      val terms = (0 until nTerms).map(i => s"t$i")
      val n = 500L
      // random postings per term, random tf/dl
      val postings: Map[String, Seq[(Long, Int, Int)]] = terms.map { t =>
        val docs = (0 until 1 + rnd.nextInt(200))
          .map(_ => rnd.nextLong(400)).distinct.sorted
        t -> docs.map(d => (d, 1 + rnd.nextInt(5), 10 + rnd.nextInt(90)))
      }.toMap
      val dfs = postings.map { case (t, ps) => t -> ps.size.toLong }
      val idfs = terms.map(t => t -> graft.query.Bm25.idf(n, dfs(t))).toMap
      // brute force: score per doc, sum in ascending-term order
      val byDoc = scala.collection.mutable.Map.empty[Long, Double]
      for (t <- terms.sorted; (d, tf, dl) <- postings(t))
        byDoc(d) = byDoc.getOrElse(d, 0.0) + idfs(t) * graft.query.Bm25.impact(tf, dl, avgdl)
      val want = byDoc.toSeq.sortBy { case (d, s) => (-s, d) }.take(10)
      // engine: encode as blocks (small block size exercises block-max skips)
      val scorers = terms.map { t =>
        val ps = postings(t)
        val blocks = ps.grouped(7).zipWithIndex.map { case (chunk, bi) =>
          val docs = chunk.map(_._1).toArray
          val tfs = chunk.map(_._2).toArray
          val dls = chunk.map(_._3).toArray
          val maxImp = tfs.zip(dls).map { case (tf, dl) =>
            graft.query.Bm25.impact(tf, dl, avgdl) }.max
          graft.index.PostingBlock(t, 0, bi, docs.head, docs.last, docs.length,
            graft.index.Codec.encodeDeltas(docs, docs.head),
            graft.index.Codec.encodeInts(tfs), graft.index.Codec.encodeInts(dls), maxImp)
        }.toArray
        new graft.query.Wand.TermScorer(t, blocks, idfs(t), avgdl)
      }.toArray
      val got = graft.query.Wand.topKOr(scorers, 10).toSeq
      assert(got == want.map { case (d, s) => (d, s) },
        s"trial $trial: got ${got.take(3)} want ${want.take(3)}")
    }
  }

  test("property: WAND handles mass ties — uniform tf/dl, ranking purely by docId") {
    val avgdl = 20.0
    val n = 1000L
    // two terms, overlapping docs, ALL postings identical (tf=2, dl=20):
    // every matched doc in a score class ties exactly; order must be docId
    val t1Docs = (0L until 300L by 3).toArray // multiples of 3
    val t2Docs = (0L until 300L by 5).toArray // multiples of 5
    def blocksFor(t: String, docs: Array[Long]) =
      docs.grouped(16).zipWithIndex.map { case (chunk, bi) =>
        graft.index.PostingBlock(t, 0, bi, chunk.head, chunk.last, chunk.length,
          graft.index.Codec.encodeDeltas(chunk, chunk.head),
          graft.index.Codec.encodeInts(Array.fill(chunk.length)(2)),
          graft.index.Codec.encodeInts(Array.fill(chunk.length)(20)),
          graft.query.Bm25.impact(2, 20, avgdl))
      }.toArray
    val idf1 = graft.query.Bm25.idf(n, t1Docs.length)
    val idf2 = graft.query.Bm25.idf(n, t2Docs.length)
    val scorers = Array(
      new graft.query.Wand.TermScorer("t1", blocksFor("t1", t1Docs), idf1, avgdl),
      new graft.query.Wand.TermScorer("t2", blocksFor("t2", t2Docs), idf2, avgdl))
    val got = graft.query.Wand.topKOr(scorers, 12).toSeq
    // brute force
    val byDoc = scala.collection.mutable.Map.empty[Long, Double]
    for (d <- t1Docs) byDoc(d) = byDoc.getOrElse(d, 0.0) + idf1 * graft.query.Bm25.impact(2, 20, avgdl)
    for (d <- t2Docs) byDoc(d) = byDoc.getOrElse(d, 0.0) + idf2 * graft.query.Bm25.impact(2, 20, avgdl)
    val want = byDoc.toSeq.sortBy { case (d, s) => (-s, d) }.take(12)
    assert(got == want)
    // the top hits are the both-term docs (multiples of 15), in docId order
    assert(got.takeWhile(_._2 == got.head._2).map(_._1) ==
      (0L until 300L by 15).take(got.count(_._2 == got.head._2)))
  }

  test("positional phrase search equals naive token-adjacency scan (scores from conj WAND)") {
    import spark.implicits._
    IndexBuilder.buildPositions(spark, corpus, handle.dir, Analyzer.Code)
    val phrase = "read parquet"
    val got = graft.query.Phrase.search(spark, handle, phrase).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // naive: conjunctive-scored docs whose Code-token stream contains the
    // adjacent token sequence
    val terms = Analyzer.tokens(phrase, Analyzer.Code).toSeq
    val byKey = corpus.collect().map(d => (d.repo, d.path, d.commit) -> d.content).toMap
    val adjacent = handle.docmeta(spark).collect().filter { m =>
      val ts = Analyzer.tokens(byKey((m.repo, m.path, m.commit)), Analyzer.Code)
      ts.sliding(terms.length).exists(_.toSeq == terms)
    }.map(_.docId).toSet
    val scored = Searcher.topK(spark, handle, phrase, Int.MaxValue, conjunctive = true)
      .collect().filter(h => adjacent(h.docId))
      .map(h => (h.docId, h.score)).sortBy { case (d, s) => (-s, d) }
    assert(got.toSeq == scored.toSeq)
    assert(got.nonEmpty, "synth corpus should contain readParquet docs")
    // finite k = top-k OF the phrase matches (filter before limit)
    val top2 = graft.query.Phrase.search(spark, handle, phrase, 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(top2.toSeq == scored.take(2).toSeq)
  }

  test("unknown term → empty result, no crash") {
    assert(Searcher.topK(spark, handle, "qqqqnotaterm", 10).collect().isEmpty)
    assert(Searcher.topK(spark, handle, "", 10).collect().isEmpty)
  }

  test("index invariants: block-max dominates members; blocks sorted; df consistent") {
    import spark.implicits._
    val st = handle.stats(spark)
    val blocks = handle.postings(spark).collect()
    assert(blocks.nonEmpty)
    for (b <- blocks) {
      val docs = graft.index.Codec.decodeDeltas(b.docDeltas, b.n, b.firstDocId)
      val tfs = graft.index.Codec.decodeInts(b.tfs, b.n)
      val dls = graft.index.Codec.decodeInts(b.dls, b.n)
      assert(docs.toSeq == docs.sorted.toSeq && docs.distinct.length == docs.length)
      assert(docs.head == b.firstDocId && docs.last == b.lastDocId)
      // block maxima are computed at the SAMPLED buildAvgdl (stats carries
      // it; scoring still uses the exact avgdl + liveStats' bound factor)
      val maxImp = tfs.zip(dls).map { case (tf, dl) =>
        graft.query.Bm25.impact(tf, dl, st.buildAvgdl)
      }.max
      assert(maxImp == b.maxImpact, s"block-max mismatch for ${b.term}/${b.salt}/${b.blockIdx}")
    }
    // df = Σ block n per term must equal distinct docs per term
    val dfFromBlocks = blocks.groupBy(_.term).map { case (t, bs) => t -> bs.map(_.n.toLong).sum }
    val ts = handle.termstats(spark).collect().map(t => t.term -> t.df).toMap
    assert(dfFromBlocks == ts)
  }

  test("salt count scales with corpus size (bounded per-group WAND working set)") {
    val cfg = IndexBuilder.Config(salts = 8, docsPerSalt = 250000L)
    assert(IndexBuilder.effectiveSalts(cfg, 2000L) == 8) // floor at configured minimum
    assert(IndexBuilder.effectiveSalts(cfg, 10000000L) == 40) // grows ∝ N
    assert(IndexBuilder.effectiveSalts(cfg, 1000000000L) == 4000) // 1B docs → 4000-way hot-term parallelism
    assert(IndexBuilder.effectiveSalts(cfg, Long.MaxValue / 2) == 65536) // capped
  }

  test("hot terms are salted across multiple docId ranges") {
    import spark.implicits._
    val saltsPerHotTerm = handle.postings(spark)
      .filter($"term" === "the")
      .select($"salt").distinct().count()
    assert(saltsPerHotTerm == 4, s"hot term should span all 4 salt ranges, got $saltsPerHotTerm")
  }

  test("sha256 ingest invariant: docmeta hashes equal recomputed content hashes") {
    import spark.implicits._
    val dm = handle.docmeta(spark)
    val bad = dm.toDF().alias("m").join(corpus.toDF().alias("c"),
        $"m.repo" === $"c.repo" && $"m.path" === $"c.path")
      .filter($"m.sha256" =!= org.apache.spark.sql.functions.sha2($"c.content", 256))
      .count()
    assert(bad == 0)
  }

  test("query path holds no full-index residency; warm repeated query runs ~zero jobs") {
    // cold query on a FRESH index: must not materialize any InMemoryRelation
    // (the round-2 hotPostings cached postingsAll() — the whole index — on
    // first query; the bounded per-term cache must not)
    val h2 = IndexBuilder.build(spark, corpus, tmpDir("graft-res-idx"),
      IndexBuilder.Config(salts = 4, mode = Analyzer.Code))
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    Searcher.topK(spark, h2, "sparkSession read", 10).collect()
    val persistedAfter = spark.sparkContext.getPersistentRDDs.keySet
    assert((persistedAfter -- persistedBefore).isEmpty,
      "a query materialized a persistent RDD — full-index residency is conf-gated opt-in only")
    // warm identical query: blocks + df are memoized driver-side, so no scan
    // jobs run (the only possible job is the LocalRelation materialization)
    val warmJobs =
      jobsOf("graft-warm-q")(Searcher.topK(spark, h2, "sparkSession read", 10).collect())
    assert(warmJobs <= 1, s"warm query ran $warmJobs jobs — term cache not effective")
  }

  test("a cold coordinator-path query runs no Spark job") {
    // fresh index state: its first query resolves the stats (one job); every
    // later query on terms nobody fetched yet reads its blocks on the driver
    // (Live.readBlocks) and runs no job at all — no planning, no scan job,
    // no re-listing
    val h3 = IndexBuilder.build(spark, corpus, tmpDir("graft-jobs-idx"),
      IndexBuilder.Config(salts = 4, mode = Analyzer.Code))
    Searcher.topK(spark, h3, "sparkSession", 10).collect()
    for ((q, i) <- Seq("read parquet", "shuffle write buffer", "catalystRule").zipWithIndex) {
      val jobs = jobsOf(s"graft-cold-q$i")(Searcher.topK(spark, h3, q, 10).collect())
      assert(jobs == 0, s"cold coordinator query '$q' ran $jobs jobs, want 0")
    }
  }

  test("term-range postings: a cold probe reads only the files whose range holds its terms") {
    import graft.index.{PostingsReader, TermRanges}
    val h = IndexBuilder.build(spark, corpus, tmpDir("graft-ranges-idx"),
      IndexBuilder.Config(salts = 4, mode = Analyzer.Code))
    val v = h.snapshot
    val files = v.rootRanges
    assert(files.size > 1 && files.forall(_.range.isDefined), s"files: ${files.map(_.path)}")
    assert(!TermRanges.overlapping(files), "build wrote overlapping term ranges")
    Searcher.topK(spark, h, "sparkSession", 10).collect() // stats resolved
    // terms spread over the dictionary that no query fetched yet
    val vocab = h.termstats(spark).collect().map(_.term).filterNot(Set("spark", "session")).sorted
    val picks = (1 to 6).map(i => vocab(i * vocab.length / 7))
    def local(ps: Seq[String]) = ps.map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).toSet
    for ((t, i) <- picks.zipWithIndex) {
      val holding = files.filter(_.mayHold(TermRanges.utf8(t))).map(_.path)
      assert(holding.size < files.size, s"'$t' must eliminate files")
      assert(local(v.postingsOf(spark, Seq(t)).inputFiles.toSeq) == local(holding), s"files read for '$t'")
      // the coordinator probe opens exactly those files, on the driver
      val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      PostingsReader.beforeOpen = p => opened.add(p)
      val jobs =
        try jobsOf(s"graft-range-probe-$i")(Searcher.topKTermsSnap(spark, v, Seq(t), 10).collect())
        finally PostingsReader.beforeOpen = _ => ()
      assert(jobs == 0, s"probe of '$t' ran $jobs jobs")
      assert(opened.toArray.toSeq == holding, s"files the probe of '$t' opened")
    }
    // a term outside every file's range: empty, and no job at all
    assert(jobsOf("graft-range-none")(assert(v.postingsOf(spark, Seq("~")).collect().isEmpty)) == 0)
  }

  test("driver probe: maxBlocks blocks are served, maxBlocks + 1 distribute") {
    import graft.index.{Codec, LiveMemo}
    // the hottest terms, until their blocks pass the probe's 64-block floor
    val hot = handle.termstats(spark).collect().sortBy(t => (-t.df, t.term)).map(_.term)
      .filter(t => Analyzer.tokens(t, Analyzer.Code).toSeq == Seq(t)).take(8).toSeq
    val blocks = handle.snapshot.live(spark).readBlocks(hot, Int.MaxValue).length
    assert(blocks > 64, s"fixture: $blocks blocks")
    val want = Oracle.topK(spark, corpus, hot.mkString(" "), 10, Analyzer.Code).collect()
    for ((maxBlocks, onDriver) <- Seq(blocks -> true, (blocks - 1) -> false)) {
      // a fresh memo: both cases start cold
      val v = handle.snapshot
      val live = new LiveMemo(Searcher.MaxCachedPostings).of(spark, v)
      live.stats // the state's one stats job, outside the count
      var got = Array.empty[Hit]
      val jobs = jobsOf(s"graft-probe-bound-$maxBlocks") {
        got = Searcher.topKTermsSnap(spark, v, hot, 10,
          driverPathMaxPostings = maxBlocks.toLong * Codec.BlockSize).collect()
      }
      assertRankIdentical(got, want, s"maxBlocks=$maxBlocks")
      assert((jobs == 0) == onDriver, s"maxBlocks=$maxBlocks over $blocks blocks ran $jobs jobs")
      assert(live.blocks.keySet == (if (onDriver) hot.toSet else Set.empty[String]))
    }
  }

  test("searchAgg's exhaustive composed plan carries NO global sort (no range exchange)") {
    import org.apache.spark.sql.functions._
    // force the distributed WAND path (the coordinator path has no exchange
    // at all) and aggregate the exhaustive hit stream: the plan above the
    // hit source must contain no rangepartitioning exchange — the global
    // (score, docId) merge sort would be wasted work the agg destroys
    // (VERDICT r4 wrong-item 1)
    val agg = Searcher.searchAgg(spark, handle, "the import",
      driverPathMaxPostings = 0L)(_.groupBy(col("lang")).count())
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("rangepartitioning"),
      s"searchAgg plan contains a global sort exchange:\n$plan")
    // sanity of the detector: the RANKED exhaustive path does range-exchange
    val ranked = Searcher.topKSnap(spark, handle.snapshot, "the import",
      Int.MaxValue, driverPathMaxPostings = 0L).toDF()
    assert(ranked.queryExecution.executedPlan.toString
      .toLowerCase.contains("rangepartitioning"))
    // and the unranked stream loses no hits and changes no values
    val viaRanked = ranked.collect().map(h => (h.getLong(0), h.getDouble(1))).sorted.toSeq
    val viaUnranked = Searcher.topKSnap(spark, handle.snapshot, "the import",
      Int.MaxValue, driverPathMaxPostings = 0L, ranked = false).toDF()
      .collect().map(h => (h.getLong(0), h.getDouble(1))).sorted.toSeq
    assert(viaRanked == viaUnranked)
  }

  test("search_after pages tile the ranked list exactly; page plan has no global sort") {
    import org.apache.spark.sql.functions._
    val q = "the import def"
    val snap = handle.snapshot
    // ground truth: the full ranked list in (score_q desc, docId) order —
    // the quantized-cursor ordering searchAfter pages through
    val full = Searcher.topKSnap(spark, snap, q, Int.MaxValue).collect()
      .map(h => (Searcher.quantize(h.score), h.docId))
      .sortBy { case (sq, d) => (-sq, d) }.toSeq
    assert(full.length > 20, "fixture needs enough hits to page")
    // page through with k=7, chaining cursors
    var cursor = (Long.MaxValue, -1L)
    val paged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var page = Searcher.searchAfterSnap(spark, snap, q, cursor._1, cursor._2, 7)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSeq
    while (page.nonEmpty) {
      paged ++= page
      cursor = page.last
      page = Searcher.searchAfterSnap(spark, snap, q, cursor._1, cursor._2, 7)
        .collect().map(r => (r.getLong(1), r.getLong(0))).toSeq
    }
    assert(paged.toSeq == full,
      s"pages must tile the ranked list: got ${paged.length} want ${full.length}")
    // the page plan is TakeOrdered over the cursor-bounded stream — no
    // range exchange (page 2 must not pay a global sort)
    val plan = Searcher.searchAfterSnap(spark, snap, q, full(9)._1, full(9)._2, 7)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("rangepartitioning"),
      s"search_after page plan contains a global sort exchange:\n$plan")
  }

  test("term^boost: boost=1 ≡ plain; boosted score = Σ boost·idf·tfnorm; paths agree") {
    val q = "read parquet"
    // all-1 boosts are the identity — bit-exact vs the plain surface
    val plain = Searcher.topK(spark, handle, q, Int.MaxValue).collect()
    val unit = Searcher.topKBoosted(spark, handle, "read^1 parquet^1.0", Int.MaxValue).collect()
    assertRankIdentical(unit, plain, "boost=1")
    // boosted ground truth from single-term scores: score_b(d) =
    // Σ_t boost_t · s_t(d) (each s_t from the single-term exhaustive
    // surface, whose bit-exactness the rank-identity gate already pins)
    val per = Seq("read" -> 2.5, "parquet" -> 1.0).map { case (t, b) =>
      b -> Searcher.topK(spark, handle, t, Int.MaxValue).collect()
        .map(h => h.docId -> h.score).toMap
    }
    val want = per.flatMap(_._2.keys).distinct.map { d =>
      d -> per.map { case (b, m) => b * m.getOrElse(d, 0.0) }.sum
    }.toMap
    val got = Searcher.topKBoosted(spark, handle, "read^2.5 parquet", Int.MaxValue).collect()
    assert(got.map(_.docId).toSet == want.keySet)
    got.foreach(h => assert(math.abs(h.score - want(h.docId)) <=
      1e-9 * math.max(1.0, math.abs(want(h.docId))), s"doc ${h.docId}"))
    assert(got.toSeq == got.toSeq.sortBy(h => (-h.score, h.docId)))
    // the boost visibly re-ranks relative to plain (fixture sanity) and the
    // driver and distributed paths agree bit-exactly
    val dist = Searcher.topK(spark, handle, q, 10, driverPathMaxPostings = 0L)
    assert(dist.collect().nonEmpty)
    val gotDist = Searcher.topKBoostedSnap(spark, handle.snapshot,
      "read^2.5 parquet", Int.MaxValue).collect()
    assertRankIdentical(gotDist, got, "boost dist≡driver (cache-served)")
    // malformed boost fails loudly
    intercept[RuntimeException] {
      Searcher.topKBoosted(spark, handle, "read^fast", 10).collect()
    }
  }

  test("must_not: membership = OR hits minus excluded docs, scores untouched, k fills") {
    val q = "read parquet"
    val or = Searcher.topK(spark, handle, q, Int.MaxValue).collect()
    val excluded = Searcher.docsWithAnySnap(spark, handle.snapshot, Seq("import"))
      .collect().map(_.getLong(0)).toSet
    val want = or.filter(h => !excluded(h.docId))
    assert(want.length < or.length && want.nonEmpty, "fixture: exclusion must bite")
    val full = Searcher.topKMustNot(spark, handle, q, "import", Int.MaxValue).collect()
    assert(full.map(h => (h.docId, h.score)).toSeq ==
      want.map(h => (h.docId, h.score)).toSeq)
    // finite k fills from survivors (top-k of the excluded ranking)
    val top5 = Searcher.topKMustNot(spark, handle, q, "import", 5).collect()
    assert(top5.map(h => (h.docId, h.score)).toSeq ==
      want.take(5).map(h => (h.docId, h.score)).toSeq)
    // must_not of a term absent from the corpus is the identity
    val noop = Searcher.topKMustNot(spark, handle, q, "zzzabsentterm", Int.MaxValue).collect()
    assertRankIdentical(noop, or, "must_not absent")
  }

  test("sort-by-field: query decides membership, field decides order; no range exchange") {
    import spark.implicits._
    val q = "read parquet"
    val members = Searcher.topK(spark, handle, q, Int.MaxValue).collect()
      .map(_.docId).toSet
    val dl = handle.docmeta(spark).collect().map(m => m.docId -> m.dl).toMap
    val want = members.toSeq.map(d => (d, dl(d)))
      .sortBy { case (d, l) => (-l, d) }.take(25)
    val got = Searcher.searchSortBy(spark, handle, q,
        Seq(col("dl").desc), 25)
      .select(col("docId"), col("dl")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == want)
    // TakeOrderedAndProject, not a global sort: per-partition top-k only
    val plan = Searcher.searchSortBy(spark, handle, q, Seq(col("dl").desc), 25)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
    assert(!plan.toLowerCase.contains("rangepartitioning"),
      s"sort-by plan pays a global sort exchange:\n$plan")
  }

  test("field collapsing: (score_q desc, id asc) winner per group; plan has no window/sort") {
    import org.apache.spark.sql.functions.{element_at, split}
    val q = "read parquet"
    // ground truth from the exhaustive ranked hits: max quantized score per
    // first-path-segment group, lowest docId on quantized ties
    val hits = Searcher.topK(spark, handle, q, Int.MaxValue).collect()
    val path = handle.docmeta(spark).collect().map(m => m.docId -> m.path).toMap
    def quant(s: Double): Long = math.floor(s * 10000 + 0.5).toLong
    val want = hits.map(h => (path(h.docId).split("/")(0), h.docId, quant(h.score)))
      .groupBy(_._1).map { case (g, rows) =>
        val w = rows.minBy(r => (-r._3, r._2)); (g, w._2, w._3)
      }.toSeq.sortBy(_._1)
    val df = Searcher.collapseTopSnap(spark, handle.snapshot, q,
      element_at(split(col("path"), "/"), 1), "grp", col("docId"), "id")
    val got = df.orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    assert(want.map(_._1).distinct.size > 1, "fixture must span several groups")
    // a partial-aggregable argmax, NOT a row_number window: no Window
    // operator, no range-exchange sort anywhere in the composed plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"collapse plans a window:\n$plan")
    assert(!plan.toLowerCase.contains("rangepartitioning"),
      s"collapse plan pays a global sort exchange:\n$plan")
  }

  test("federated multi-index search ≡ the single merged index, bit-exact") {
    val q = "read parquet the"
    // disjoint halves by path-hash parity, deliberately different salt
    // counts — the union must not depend on either index's layout
    val ha = IndexBuilder.build(spark,
      corpus.filter(d => (d.path.hashCode & 1) == 0), tmpDir("graft-fedA"),
      IndexBuilder.Config(salts = 2, mode = Analyzer.Code))
    val hb = IndexBuilder.build(spark,
      corpus.filter(d => (d.path.hashCode & 1) == 1), tmpDir("graft-fedB"),
      IndexBuilder.Config(salts = 3, mode = Analyzer.Code))
    val parts = Seq("a" -> ha, "b" -> hb)
    val fed = Searcher.topKFederated(spark, parts, q, Int.MaxValue).collect()
    // docIds are per-index — compare through path identity
    val pathOf = parts.map { case (tag, h) =>
      tag -> h.docmeta(spark).collect().map(m => m.docId -> m.path).toMap
    }.toMap
    val got = fed.map(r => pathOf(r.getString(0))(r.getLong(1)) -> r.getDouble(2)).toMap
    val full = Searcher.topK(spark, handle, q, Int.MaxValue).collect()
    val pf = handle.docmeta(spark).collect().map(m => m.docId -> m.path).toMap
    val want = full.map(h => pf(h.docId) -> h.score).toMap
    assert(got.keySet == want.keySet)
    // BIT-exact: union stats use the same double ops as the merged index
    got.foreach { case (p, s) => assert(s == want(p), s"path $p") }
    assert(pathOf("a").nonEmpty && pathOf("b").nonEmpty, "both halves populated")
    // finite k = the first k of the merged ranking
    val top7 = Searcher.topKFederated(spark, parts, q, 7).collect()
    assert(top7.map(_.getDouble(2)).toSeq ==
      want.values.toSeq.sorted.reverse.take(7))
  }

  test("explain: per-clause breakdown reconstructs the doc's exact score") {
    import graft.query.Bm25
    val q = "read parquet the"
    val hit = Searcher.topK(spark, handle, q, 1).collect().head
    val rows = Searcher.explainScore(spark, handle, q, hit.docId).collect()
    assert(rows.nonEmpty)
    val terms = rows.map(_.getString(0)).toSeq
    assert(terms == terms.sorted && terms == terms.distinct,
      "one row per matched term, ascending")
    val (stats, _) = handle.liveStats(spark)
    // summing the clause contributions in ascending-term order reproduces
    // the WAND score BIT-EXACTLY (same doubles, same summation order)
    val score = rows.map(r => Bm25.contribution(r.getLong(1).toInt,
      r.getLong(3).toInt, stats.avgdl, stats.n, r.getLong(2))).sum
    assert(score == hit.score, s"explain sum $score != hit score ${hit.score}")
    // quantized columns follow the standard convention
    rows.foreach { r =>
      assert(r.getLong(4) == Searcher.quantize(Bm25.idf(stats.n, r.getLong(2))))
      assert(r.getLong(5) == Searcher.quantize(Bm25.impact(r.getLong(1).toInt,
        r.getLong(3).toInt, stats.avgdl)))
    }
    // dl is the same stored doc length on every row
    assert(rows.map(_.getLong(3)).distinct.length == 1)
    // absent terms yield no rows; an all-absent query explains to empty
    assert(Searcher.explainScore(spark, handle, "zzzabsentterm", hit.docId)
      .collect().isEmpty)
  }

  test("_count ≡ exhaustive topK membership across OR/AND/m-of-n, both paths") {
    for ((q, conj, mm) <- Seq(
        ("read parquet", false, 1), ("read parquet", true, 1),
        ("the import def", false, 2), ("zzz_rare_token", false, 1))) {
      val want = Searcher.topK(spark, handle, q, Int.MaxValue, conj,
        minMatch = mm).count()
      val fast = Searcher.countMatching(spark, handle, q, conj, mm)
        .collect().head.getLong(0)
      val dist = Searcher.countMatching(spark, handle, q, conj, mm,
        driverPathMaxPostings = 0L).collect().head.getLong(0)
      assert(fast == want && dist == want,
        s"[$q conj=$conj mm=$mm] fast=$fast dist=$dist want=$want")
    }
    // single live term: the metadata fast path answers from the cached df
    // (zero posting IO) and must equal brute membership
    val one = Searcher.countMatching(spark, handle, "sparkSession")
      .collect().head.getLong(0)
    assert(one == Searcher.topK(spark, handle, "sparkSession", Int.MaxValue).count())
    // absent term and unsatisfiable m-of-n count zero
    assert(Searcher.countMatching(spark, handle, "zzzabsent_xyz")
      .collect().head.getLong(0) == 0L)
    assert(Searcher.countMatching(spark, handle, "sparkSession", minMatch = 5)
      .collect().head.getLong(0) == 0L)
  }

  test("rescore: integer-weighted quantized combine, window confinement, k ≤ window") {
    val v = handle.snapshot
    val q = "the import def"
    val resc = Searcher.topKSnap(spark, v, "sparkSession", Int.MaxValue,
      ranked = false).toDF()
    val window = 5
    val got = Searcher.rescoreSnap(spark, v, q, window, 3,
        queryWeightQ = 2L, rescoreWeightQ = 3L, conjunctive = false,
        rescoreHits = resc)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // hand-compute over the engine's own top-window list (same cut)
    val base = Searcher.topKSnap(spark, v, q, window).collect()
    assert(base.length == window)
    val rmap = resc.collect()
      .map(r => r.getLong(0) -> Searcher.quantize(r.getDouble(1))).toMap
    val expect = base.map(h => (h.docId,
        2L * Searcher.quantize(h.score) + 3L * rmap.getOrElse(h.docId, 0L)))
      .sortBy { case (d, sq) => (-sq, d) }.take(3).toSeq
    assert(got.toSeq == expect, s"got ${got.toSeq} want $expect")
    // docs outside the base top-window never re-enter, however well they
    // score on the rescore query (the ES window contract)
    val winIds = base.map(_.docId).toSet
    assert(got.forall { case (d, _) => winIds.contains(d) })
    assert(rmap.keys.exists(d => !winIds.contains(d)),
      "fixture vacuous: rescore query must hit docs outside the window")
    // zero rescore weight degenerates to the base ranking (scaled)
    val plain = Searcher.rescoreSnap(spark, v, q, window, window,
        queryWeightQ = 1L, rescoreWeightQ = 0L, conjunctive = false,
        rescoreHits = resc)
      .collect().map(_.getLong(0)).toSeq
    // compare in quantized order (rescore's tie-break space)
    val expectPlain = base.map(h => (h.docId, Searcher.quantize(h.score)))
      .sortBy { case (d, sq) => (-sq, d) }.map(_._1).toSeq
    assert(plain == expectPlain)
    intercept[IllegalArgumentException] {
      Searcher.rescoreSnap(spark, v, q, 3, 5, 1L, 1L, false, resc)
    }
  }

  test("docIds dense, unique, zero-based") {
    import spark.implicits._
    val ids = handle.docmeta(spark).map(_.docId).collect().sorted
    assert(ids.toSeq == (0L until ids.length.toLong))
  }

  test("block memo bound: other dirs' blocks go first; an oversized query is served, not memoized") {
    import graft.index.LiveMemo
    import spark.implicits._
    // each index: 40 rare terms of df 5 and one hot term in every doc
    def index(seed: Long) = IndexBuilder.build(spark, (0 until 200).map { i =>
      val d = Corpus.synthDoc(i, seed)
      d.copy(content = d.content + s" zqrare${i % 40} zqhot")
    }.toDS(), tmpDir("graft-cap-idx"), IndexBuilder.Config(salts = 2))
    val (ha, hb) = (index(7L), index(8L))
    val (ta1, ta2, tb, tbig) = ("zqrare1", "zqrare2", "zqrare3", "zqhot")
    assert(ha.dfFor(spark, Seq(ta1, ta2, tbig)) == Map(ta1 -> 5L, ta2 -> 5L, tbig -> 200L))
    assert(hb.dfFor(spark, Seq(tb)) == Map(tb -> 5L))
    // A's two rare terms fit together, and so do one of A's and B's, but
    // not all three; the hot term alone exceeds the bound
    val bound = 3 * 5 - 1
    val memo = new LiveMemo(bound)
    val (va, vb) = (ha.snapshot, hb.snapshot)
    val (la, lb) = (memo.of(spark, va), memo.of(spark, vb))
    def capped(v: IndexBuilder.Snapshot, t: String) = Searcher.topKTermsSnap(spark, v, Seq(t), 10).collect().toSeq
    def uncapped(h: IndexBuilder.Handle, t: String) =
      Searcher.topKTermsSnap(spark, h.snapshot, Seq(t), 10).collect().toSeq
    assert(capped(vb, tb) == uncapped(hb, tb))
    assert(capped(va, ta1) == uncapped(ha, ta1))
    assert(lb.blocks.keySet == Set(tb) && la.blocks.keySet == Set(ta1))
    // over the bound: B's blocks are evicted, A's warm term stays
    assert(capped(va, ta2) == uncapped(ha, ta2))
    assert(lb.blocks.isEmpty && la.blocks.keySet == Set(ta1, ta2))
    // blocks that alone exceed the bound: answered, not memoized
    assert(capped(va, tbig) == uncapped(ha, tbig))
    assert(!la.blocks.contains(tbig))
    assert(la.blocks.valuesIterator.flatten.map(_.n.toLong).sum <= bound)
    // and the memo still serves rank-identical answers after the evictions
    for (t <- Seq(tb, ta1, ta2, tbig)) {
      val (v, h) = if (t == tb) (vb, hb) else (va, ha)
      assert(capped(v, t) == uncapped(h, t), s"ranks for '$t'")
    }
  }
}
