package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.analyze.Analyzer
import graft.corpus.Corpus
import graft.index.IndexBuilder

/** Resume/lineage properties (SURVEY.md §5 item 4, §7.4 item 5) and
  * config-invariance (salts/partitions must not change results).
  */
class ResumeSpec extends AnyFunSuite with SparkSuite {

  private lazy val corpus = Corpus.synth(spark, 600, seed = 7L).cache()

  private def queryAll(h: IndexBuilder.Handle): Array[graft.index.Hit] =
    graft.query.Searcher.topK(spark, h, "the import sparkSession", Int.MaxValue).collect()

  test("kill-after-stage-k resume: final results identical, lineage consistent") {
    val dir = tmpDir("graft-resume")
    val cfg = IndexBuilder.Config(salts = 3, mode = Analyzer.Code)
    val h1 = IndexBuilder.build(spark, corpus, dir, cfg)
    val want = queryAll(h1)

    // simulate a crash after stage 2: postings + termstats lost mid-write
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$dir/postings")).deleteRecursively()
    new java.io.File(s"$dir/_STAGE_postings").delete()
    new java.io.File(s"$dir/_STAGE_termstats").delete()

    val h2 = IndexBuilder.build(spark, corpus, dir, cfg)
    val got = queryAll(h2)
    assert(got.toSeq == want.toSeq)

    // lineage reconciliation: every stage row-count matches its table
    for (stage <- Seq("docmeta", "postings", "termstats"))
      assert(IndexBuilder.stageComplete(spark, dir, stage), s"stage $stage lineage invalid")
  }

  test("stale marker without data → stage recomputes (marker alone not trusted)") {
    val dir = tmpDir("graft-stale")
    val cfg = IndexBuilder.Config(salts = 2)
    IndexBuilder.build(spark, corpus, dir, cfg)
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$dir/docmeta")).deleteRecursively()
    // marker still present — build must detect the row-count mismatch
    val h = IndexBuilder.build(spark, corpus, dir, cfg)
    assert(h.docmeta(spark).count() == 600)
  }

  test("salts/partitions config does not change query results") {
    val base = IndexBuilder.build(spark, corpus, tmpDir("graft-a"),
      IndexBuilder.Config(salts = 1, partitions = 2, mode = Analyzer.Code))
    val alt = IndexBuilder.build(spark, corpus, tmpDir("graft-b"),
      IndexBuilder.Config(salts = 7, partitions = 5, mode = Analyzer.Code))
    assert(queryAll(base).toSeq == queryAll(alt).toSeq)
    // docmeta identical too (docIds parallelism/config-invariant)
    import spark.implicits._
    val a = base.docmeta(spark).collect().sortBy(_.docId).toSeq
    val b = alt.docmeta(spark).collect().sortBy(_.docId).toSeq
    assert(a == b)
  }

  test("lineage covers the full docId range with no gaps (D6 analog)") {
    val dir = tmpDir("graft-lin")
    val h = IndexBuilder.build(spark, corpus, dir, IndexBuilder.Config(salts = 3))
    import spark.implicits._
    val lin = h.lineage(spark).filter(_.stage == "docmeta").collect()
    val n = h.stats(spark).n
    assert(lin.map(_.rows).sum == n)
    assert(lin.map(_.docIdMin).min == 0L)
    assert(lin.map(_.docIdMax).max == n - 1)
  }

  test("a lineage read lists its stage dirs: no metadata-dir warning, the same rows") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import spark.implicits._
    val dir = tmpDir("graft-lin-read")
    val h = IndexBuilder.build(spark, corpus, dir, IndexBuilder.Config(salts = 3))
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-lineage-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(org.apache.logging.log4j.Level.WARN))
          warned.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(capture)
    val got = try h.lineage(spark).collect() finally {
      root.removeAppender(capture)
      capture.stop()
    }
    val metadataWarnings = warned.toArray.map(_.toString).filter(_.contains("metadata directory"))
    assert(metadataWarnings.isEmpty, metadataWarnings.mkString("\n"))
    val stages = Seq("docmeta", "postings", "stats", "termstats")
    val want = spark.read.parquet(stages.map(s => s"$dir/lineage/$s"): _*)
      .as[graft.index.LineageRow].collect()
    assert(got.map(_.toString).sorted.toSeq == want.map(_.toString).sorted.toSeq)
    assert(got.map(_.stage).distinct.sorted.toSeq == stages)
  }
}
