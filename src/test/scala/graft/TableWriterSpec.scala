package graft

import java.util.concurrent.ConcurrentHashMap
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.corpus.Corpus
import graft.index.{Compactor, DocMeta, IndexBuilder, IndexStats, PositionsRow, PostingBlock, TermStat}
import graft.streaming.StreamingIngest

/** The index-table writers (TableWriter): how many Spark jobs each writing
  * operation runs, which of them shuffle, what a streamed segment holds,
  * and the session-scoped registration of the catalyst functions they use.
  */
class TableWriterSpec extends AnyFunSuite with SparkSuite {

  /** Per job group: the jobs ended, the tasks run and the shuffle bytes
    * they wrote.
    */
  private final class GroupShuffle extends SparkListener {
    private val groupOf = new ConcurrentHashMap[Int, String]() // stageId → group
    private val jobGroup = new ConcurrentHashMap[Int, String]() // jobId → group
    val jobsEnded = new ConcurrentHashMap[String, Int]()
    val tasks = new ConcurrentHashMap[String, Int]()
    val bytes = new ConcurrentHashMap[String, Long]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { g => jobGroup.put(e.jobId, g); e.stageIds.foreach(groupOf.put(_, g)) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(groupOf.get(e.stageId)).foreach { g =>
        tasks.merge(g, 1, _ + _)
        val m = Option(e.taskMetrics).map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
        bytes.merge(g, m, _ + _)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobGroup.get(e.jobId)).foreach(jobsEnded.merge(_, 1, _ + _))
  }

  test("job counts of build, positions, append, merge and fold on a small corpus") {
    import spark.implicits._
    val all = (0 until 80).map(i => Corpus.synthDoc(i, 71L))
    val idx = tmpDir("graft-writer-jobs")
    val cfg = IndexBuilder.Config(salts = 4)
    val shuffles = new GroupShuffle
    spark.sparkContext.addSparkListener(shuffles)
    try {
      var h: IndexBuilder.Handle = null
      val build = jobsOf("graft-w-build") { h = IndexBuilder.build(spark, all.take(50).toDS(), idx, cfg) }
      val positions = jobsOf("graft-w-positions")(
        IndexBuilder.buildPositions(spark, all.take(50).toDS(), idx, h.mode))
      val avgdl = h.stats(spark).avgdl
      val appends = (0 until 3).map { b =>
        jobsOf(s"graft-w-append-$b")(StreamingIngest.appendSegment(spark,
          all.slice(50 + b * 10, 60 + b * 10).toDS(), b.toLong, idx, avgdl, 4, 1L << 40))
      }
      val merge = jobsOf("graft-w-merge")(Compactor.mergeSegments(spark, idx))
      val fold = jobsOf("graft-w-fold")(Compactor.compact(spark, idx, cfg))
      val got = Map("build" -> build, "positions" -> positions, "append" -> appends.max,
        "merge" -> merge, "fold" -> fold)
      // every job a writer runs is a pass over data or a commit write: a
      // change that adds one shows here
      assert(appends.distinct.size == 1, s"append job counts differ across batches: $appends")
      assert(got == Map("build" -> 23, "positions" -> 7, "append" -> 6, "merge" -> 6,
        "fold" -> 28), s"writer job counts: $got")

      // a segment is written from one partition and a merge aggregates its
      // termstats in one: neither runs an exchange (the build, which does,
      // shows the listener sees shuffle bytes)
      val groups = (0 until 3).map(b => s"graft-w-append-$b" -> appends(b)) :+
        ("graft-w-merge" -> merge)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while ((("graft-w-build" -> build) +: groups).exists { case (g, n) =>
               shuffles.jobsEnded.getOrDefault(g, 0) < n } &&
             System.nanoTime() < deadline) Thread.sleep(50)
      assert(shuffles.bytes.getOrDefault("graft-w-build", 0L) > 0L)
      groups.foreach { case (g, _) =>
        assert(shuffles.tasks.getOrDefault(g, 0) > 0, s"no tasks seen for $g")
        assert(shuffles.bytes.getOrDefault(g, 0L) == 0L,
          s"$g wrote ${shuffles.bytes.get(g)} shuffle bytes")
      }
    } finally spark.sparkContext.removeSparkListener(shuffles)
  }

  test("a segment's rows equal a fresh build's over the same docs, shifted by its id and salt bases") {
    import spark.implicits._
    val docs = (0 until 150).map(i => Corpus.synthDoc(i, 79L))
    // unique keys: the dense rank leaves no tie to order
    assert(docs.map(d => (d.repo, d.path, d.commit)).distinct.size == docs.size)
    val salts = 4
    val h = IndexBuilder.build(spark, docs.toDS(), tmpDir("graft-seg-vs-build"),
      IndexBuilder.Config(salts = salts))
    IndexBuilder.buildPositions(spark, docs.toDS(), h.dir, h.mode)
    val built = h.stats(spark)
    // the segment's blocks are cut at the build's block-max avgdl
    val batchId = 2L
    StreamingIngest.appendSegment(spark, docs.toDS(), batchId, h.dir, built.buildAvgdl, salts,
      1L << 40, h.mode)
    val seg = s"${h.dir}/ingest_segments/batch=$batchId"
    val base = (1L << 40) + batchId * (1L << 20)
    val saltBase = StreamingIngest.SegmentSaltBase + batchId.toInt * salts
    def read(path: String) = spark.read.parquet(path)

    val segDocmeta = read(s"$seg/docmeta").as[DocMeta].collect()
      .map(d => d.copy(docId = d.docId - base)).sortBy(_.docId).toSeq
    assert(segDocmeta == h.docmeta(spark).collect().sortBy(_.docId).toSeq)

    def blockKey(b: PostingBlock) = (b.term, b.salt, b.blockIdx, b.firstDocId, b.lastDocId,
      b.n, b.docDeltas.toSeq, b.tfs.toSeq, b.dls.toSeq, b.maxImpact)
    val segBlocks = read(s"$seg/blocks").as[PostingBlock].collect()
      .map(b => blockKey(b.copy(salt = b.salt - saltBase, firstDocId = b.firstDocId - base,
        lastDocId = b.lastDocId - base))).sortBy(k => (k._1, k._2, k._3))
    val buildBlocks = h.postings(spark).collect().map(blockKey).sortBy(k => (k._1, k._2, k._3))
    assert(segBlocks.toSeq == buildBlocks.toSeq)

    val segPositions = read(s"$seg/positions").as[PositionsRow].collect()
      .map(p => (p.term, p.docId - base, p.n, p.posDeltas.toSeq)).sortBy(p => (p._1, p._2))
    val buildPositions = h.positions(spark).collect()
      .map(p => (p.term, p.docId, p.n, p.posDeltas.toSeq)).sortBy(p => (p._1, p._2))
    assert(segPositions.toSeq == buildPositions.toSeq)

    assert(read(s"$seg/termstats").as[TermStat].collect().sortBy(_.term).toSeq ==
      h.termstats(spark).collect().sortBy(_.term).toSeq)
    assert(read(s"$seg/stats").as[IndexStats].collect().toSeq == Seq(built))
    // one partition end to end: one file per table
    for (t <- Seq("docmeta", "blocks", "positions"))
      assert(new java.io.File(s"$seg/$t").list().count(_.endsWith(".parquet")) == 1, t)
  }

  test("token_stats is registered once per session; a build on a session without it registers it") {
    import spark.implicits._
    val all = (0 until 30).map(i => Corpus.synthDoc(i, 73L))
    val registry = spark.sessionState.functionRegistry
    // a registration stores a new ExpressionInfo with the builder, so the
    // pair's identity shows whether a build replaced the function
    def registered = (registry.lookupFunction(FunctionIdentifier("token_stats")),
      registry.lookupFunctionBuilder(FunctionIdentifier("token_stats")))
    IndexBuilder.build(spark, all.take(15).toDS(), tmpDir("graft-reg-a"))
    val (info, builder) = registered
    IndexBuilder.build(spark, all.drop(15).toDS(), tmpDir("graft-reg-b"))
    assert(info.nonEmpty && builder.nonEmpty)
    assert(registered._1.exists(_ eq info.get) && registered._2.exists(_ eq builder.get),
      "a second build must not re-register token_stats")
    // foreachBatch hands each micro-batch a cloned session; a new session
    // holds none of this one's temporary functions and must still resolve it
    val clone = spark.newSession()
    clone.conf.set("spark.sql.shuffle.partitions", "4")
    assert(!clone.sessionState.functionRegistry.functionExists(FunctionIdentifier("token_stats")))
    val h = IndexBuilder.build(clone,
      clone.createDataset(all)(org.apache.spark.sql.Encoders.product[graft.index.CorpusDoc]),
      tmpDir("graft-reg-c"))
    assert(h.stats(clone).n == 30)
  }
}
