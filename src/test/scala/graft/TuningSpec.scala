package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.corpus.Corpus
import graft.index.{Compactor, IndexBuilder}
import graft.ops.{Dedup, Similarity}
import graft.query.Searcher

/** The bounded driver fetch (`Tuning.collectUpTo`) and the rule that no
  * engine call writes session config.
  */
class TuningSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("collectUpTo: limit's rows in limit's order from one job; no job on an empty relation; n + 1 rows signal overflow") {
    import spark.implicits._
    val ds = spark.range(0L, 20000L, 1L, 8).filter(col("id") % 7 === 3).as[Long]
    assert(ds.rdd.getNumPartitions == 8)
    val all = ds.collect()
    for (n <- Seq(1, 100, 1000, all.length - 1, all.length, all.length + 1, 50000)) {
      val want = ds.limit(n).collect().toSeq
      var got = Seq.empty[Long]
      val jobs = jobsOf(s"graft-upto-$n") { got = Tuning.collectUpTo(ds, n).toSeq }
      assert(jobs == 1, s"collectUpTo(n = $n) ran $jobs jobs")
      assert(got == want, s"collectUpTo(n = $n) differs from limit(n).collect()")
    }
    // the overflow guard: a cap one short of the row count sees cap + 1 rows
    val cap = all.length - 1
    assert(Tuning.collectUpTo(ds, cap + 1).length > cap)
    assert(Tuning.collectUpTo(ds, all.length + 1).length == all.length)
    var empty = Array(0L)
    assert(jobsOf("graft-upto-empty") { empty = Tuning.collectUpTo(spark.emptyDataset[Long], 5) } == 0)
    assert(empty.isEmpty)
  }

  test("query, tombstone, LSH and dedup paths leave spark.sql.limit.initialNumPartitions as the session had it") {
    val key = "spark.sql.limit.initialNumPartitions"
    for (preset <- Seq(None, Some("2"))) {
      val s = spark.newSession()
      import s.implicits._
      preset.foreach(s.conf.set(key, _))
      val idx = tmpDir("graft-noconf-idx")
      val h = IndexBuilder.build(s, Corpus.synth(s, 400, seed = 17L), idx,
        IndexBuilder.Config(salts = 2))
      Searcher.topK(s, h, "read parquet", 10).collect()
      Searcher.topK(s, h, "shuffle write buffer", 10).collect() // cold coordinator probe
      Searcher.topKFiltered(s, h, "the import", 10, col("docId") < 200).collect()
      Searcher.topKMustNot(s, h, "the", "import", 10).collect()
      Compactor.tombstone(s, idx, Seq(1L, 2L, 3L).toDF("docId"))
      val live = Searcher.topK(s, IndexBuilder.openHandle(idx), "the", 400).collect()
      assert(live.nonEmpty && !live.exists(x => Set(1L, 2L, 3L)(x.docId)))
      Similarity.lshTopK(s, sfDir, 0L, 10).collect()
      Dedup.minhashLshPairs(s, sfDir).collect()
      assert(s.conf.get(key) == preset.getOrElse("1"), s"preset $preset")
    }
  }
}
