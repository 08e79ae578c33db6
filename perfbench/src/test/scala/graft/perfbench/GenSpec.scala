package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.analyze.Analyzer

class GenSpec extends AnyFunSuite {

  test("one seed gives identical inputs; another seed gives different ones") {
    assert(Inputs.digest(7L) == Inputs.digest(7L))
    assert(Inputs.digest(7L) != Inputs.digest(8L))
  }

  test("written tables hold the same rows for the same seed") {
    val spark = SparkSession.builder().master("local[2]").appName("gen-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = java.nio.file.Files.createTempDirectory("perfbench-gen").toString
    try {
      def rows(i: Int): Seq[Seq[String]] = {
        val in = Inputs.write(spark, 3L, s"$dir/$i")
        Seq(in.corpus, in.warmCorpus, s"${in.dedupDir}/documents.parquet",
          s"${in.annDir}/embeddings.parquet").map { p =>
          spark.read.parquet(p).collect().map(_.toSeq.map {
            case a: scala.collection.Seq[_] => a.mkString(",")
            case x => String.valueOf(x)
          }.mkString("|")).sorted.toSeq
        }
      }
      assert(rows(0) == rows(1))
    } finally {
      spark.stop()
      Run.rmrf(dir)
    }
  }

  test("term df spans from about N down to 1") {
    val n = 4000
    val df = scala.collection.mutable.HashMap.empty[String, Int].withDefaultValue(0)
    (0L until n).foreach { i =>
      Analyzer.tokens(Gen.content(1L, i), Analyzer.Code).distinct.foreach(t => df(t) += 1)
    }
    assert(df.values.max >= n * 9 / 10)
    assert(df.values.count(_ == 1) > 1000)
  }

  test("batch markers are unique and never occur in the base corpus") {
    val markers = (0 until Sizes.Batches).map(Gen.marker(1L, _))
    assert(markers.distinct.size == markers.size)
    markers.foreach(m => assert(Analyzer.tokens(m, Analyzer.Code).toSeq == Seq(m)))
    val corpus = (0L until 2000L).flatMap(i => Analyzer.tokens(Gen.content(1L, i), Analyzer.Code))
      .toSet
    assert(markers.forall(m => !corpus.contains(m)))
  }

  test("planted near-duplicate clusters reach the Jaccard threshold") {
    val pairs = Inputs.plantedPairs(1L, Run.DedupThreshold)
    val all = Sizes.DupClusters * Sizes.ClusterSize * (Sizes.ClusterSize - 1) / 2
    assert(pairs.size >= all * 9 / 10)
  }

  test("embeddings cluster around their centers") {
    val a = Inputs.embedding(1L, 5L)
    val b = Inputs.embedding(1L, 5L + Sizes.Centers)
    val c = Inputs.embedding(1L, 6L)
    def cos(x: Array[Float], y: Array[Float]): Double = {
      val d = x.indices.map(i => x(i).toDouble * y(i)).sum
      d / math.sqrt(x.map(v => v.toDouble * v).sum * y.map(v => v.toDouble * v).sum)
    }
    assert(cos(a, b) > cos(a, c))
  }
}
