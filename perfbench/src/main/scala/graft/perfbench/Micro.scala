package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.analyze.Analyzer
import graft.index.{Codec, IndexBuilder, PostingBlock}
import graft.query.{Bm25, Wand}

/** Single-thread timings of the analyzer, the posting codec and WAND,
  * taken in traced runs on the run's own inputs and index.
  */
object Micro {
  private val Passes = 5

  private def medianPass(f: => Unit): Double = Stats.median((0 until Passes).map(_ => Run.timeS(f)))

  def run(r: Run, spark: SparkSession, h: IndexBuilder.Handle, dict: Array[(String, Long)],
          inputs: Inputs): Unit = r.tracer.span("micro") {
    // analyze: termFreqs in Code mode over a fixed doc sample
    val docs = (0L until 2000L).map(Gen.content(inputs.seed, _))
    val perPass = medianPass(docs.foreach(Analyzer.termFreqs(_, Analyzer.Code)))
    r.samples("analyze.ns_per_doc") = Seq(perPass * 1e9 / docs.size)
    r.samples("analyze.terms_per_doc") =
      Seq(docs.map(Analyzer.termFreqs(_, Analyzer.Code)._1.length).sum.toDouble / docs.size)

    // posting blocks of sampled multi-term queries: codec and WAND input
    val queries = new Queries(inputs.seed ^ 0x3d3dL, dict, Sizes.Docs, Run.distributedAt(Sizes.Docs)).distinct(60)
      .filter(q => q.terms.size > 1 && !q.conj).take(20)
    val terms = queries.flatMap(_.terms).distinct
    val blocks: Array[PostingBlock] =
      h.postings(spark).filter(col("term").isin(terms: _*)).collect()
    val postings = blocks.map(_.n.toLong).sum.toDouble

    val decoded = blocks.map(b => (Codec.decodeDeltas(b.docDeltas, b.n, b.firstDocId),
      Codec.decodeInts(b.tfs, b.n), Codec.decodeInts(b.dls, b.n)))
    r.samples("codec.decode_ns_per_posting") = Seq(medianPass(blocks.foreach { b =>
      Codec.decodeDeltas(b.docDeltas, b.n, b.firstDocId)
      Codec.decodeInts(b.tfs, b.n)
      Codec.decodeInts(b.dls, b.n)
    }) * 1e9 / postings)
    r.samples("codec.encode_ns_per_posting") = Seq(medianPass(decoded.foreach { case (d, t, l) =>
      Codec.encodeDeltas(d, d(0))
      Codec.encodeInts(t)
      Codec.encodeInts(l)
    }) * 1e9 / postings)

    // WAND top-10 against exhaustive top-k over the same blocks, per salt
    val st = h.stats(spark)
    val df = blocks.groupBy(_.term).map { case (t, bs) => t -> bs.map(_.n.toLong).sum }
    val groups = queries.map { q =>
      blocks.filter(b => q.terms.contains(b.term)).groupBy(_.salt).values.toSeq
    }
    def wand(k: Int): Unit = groups.foreach(_.foreach { bs =>
      val scorers = bs.groupBy(_.term).map { case (t, tb) =>
        new Wand.TermScorer(t, tb.sortBy(_.blockIdx), Bm25.idf(st.n, df(t)), st.avgdl)
      }.toArray.sortBy(_.term)
      Wand.topKOr(scorers, k)
    })
    val queryPostings = groups.map(_.map(_.map(_.n.toLong).sum).sum).sum.toDouble
    val top = medianPass(wand(Run.K))
    val all = medianPass(wand(Int.MaxValue))
    r.samples("wand.ns_per_posting") = Seq(top * 1e9 / queryPostings)
    r.samples("wand.prune_ratio") = Seq(top / all)
  }
}
