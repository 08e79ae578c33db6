package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.corpus.Corpus
import graft.index.{Compactor, IndexBuilder}
import graft.streaming.StreamingIngest

/** The index-table writers (TableWriter): how many Spark jobs each writing
  * operation runs, and the session-scoped registration of the catalyst
  * functions they use.
  */
class TableWriterSpec extends AnyFunSuite with SparkSuite {

  test("job counts of build, positions, append, merge and fold on a small corpus") {
    import spark.implicits._
    val all = (0 until 80).map(i => Corpus.synthDoc(i, 71L))
    val idx = tmpDir("graft-writer-jobs")
    val cfg = IndexBuilder.Config(salts = 4)
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
    assert(got == Map("build" -> 23, "positions" -> 7, "append" -> 12, "merge" -> 7,
      "fold" -> 28), s"writer job counts: $got")
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
