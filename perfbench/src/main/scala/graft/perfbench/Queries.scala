package graft.perfbench

/** A search request: index terms joined by spaces, OR or AND. `hot` marks
  * the queries built to pass the distributed-path threshold.
  */
final case class Query(terms: Seq[String], conj: Boolean, hot: Boolean = false) {
  def text: String = terms.mkString(" ")
}

/** Seeded query streams over an index's term dictionary.
  *
  * Terms are grouped in df buckets (bucket b holds df in (N/2^(b+1), N/2^b]).
  * Query i has a shape fixed by i alone, the same for every seed: 1–4
  * terms whose buckets are drawn Zipf-skewed toward the hot end; every
  * tenth query is a hot query (4 terms of df > N/2, whose Σdf passes the
  * distributed-path threshold); one multi-term query in five is
  * conjunctive. These ratios are assumptions, not measured traffic: no
  * query log backs them. Any other query whose Σdf would pass half of
  * `maxPostings` loses its most frequent terms until it does not: its
  * posting blocks then stay under the coordinator's block limit, so only
  * hot queries take the distributed path. The seed picks the terms inside the buckets, so
  * streams of different seeds differ in content but not in mix.
  */
final class Queries(seed: Long, dict: Array[(String, Long)], n: Long, maxPostings: Long) {
  import Queries._

  private val df: Map[String, Long] = dict.toMap
  private val buckets: Array[Array[String]] = {
    val bs = Array.fill(NumBuckets)(scala.collection.mutable.ArrayBuffer.empty[String])
    dict.foreach { case (t, df) =>
      val b = math.floor(math.log(n.toDouble / df) / math.log(2)).toInt
      bs(math.max(0, math.min(NumBuckets - 1, b))) += t
    }
    // a seeded order inside each bucket, independent of dictionary order
    bs.zipWithIndex.map { case (ts, b) =>
      ts.sorted.sortBy(t => Gen.mix(seed, b, t.hashCode.toLong)).toArray
    }
  }
  private val used = Array.fill(NumBuckets)(0)
  private val hot = buckets(0)

  /** Next unused term of bucket `b`, moving to rarer buckets when it is
    * exhausted; None when every bucket from `b` on is spent.
    */
  private def fresh(b: Int): Option[String] =
    (b until NumBuckets).find(i => used(i) < buckets(i).length).map { i =>
      used(i) += 1
      buckets(i)(used(i) - 1)
    }

  /** Query `i` of a stream whose non-hot terms are never reused. */
  def freshQuery(i: Long): Option[Query] = {
    val nTerms = 1 + Gen.below(ShapeSeed, i, 1, 4)
    val conj = nTerms > 1 && i % 5 == 2
    if (i % 10 == 3 && hot.length >= 4) {
      val from = Gen.below(seed, i, 700, hot.length)
      Some(Query((0 until 4).map(j => hot((from + j) % hot.length)), conj, hot = true))
    }
    else {
      var ts = (0 until nTerms).flatMap(j => fresh(bucketZipf.sample(Gen.unit(ShapeSeed, i, 10 + j))))
      while (ts.size > 1 && ts.map(df).sum > maxPostings / 2) ts = ts.diff(Seq(ts.maxBy(df)))
      if (ts.isEmpty) None else Some(Query(ts, conj && ts.size > 1))
    }
  }

  /** A pool of `size` distinct queries, hot queries left out: every query
    * in it can be served from the coordinator's term caches once seen.
    */
  def pool(size: Int): IndexedSeq[Query] =
    Iterator.from(0).filter(_ % 10 != 3).map(i => freshQuery(i.toLong)).takeWhile(_.isDefined)
      .flatten.take(size).toIndexedSeq

  /** `count` queries drawn uniformly from `qs`, so every query repeats. */
  def repeating(qs: IndexedSeq[Query], count: Int): IndexedSeq[Query] =
    (0 until count).map(i => qs(Gen.below(ShapeSeed, i, 0, qs.size)))

  /** Up to `count` queries that reuse no term outside the hot buckets. */
  def distinct(count: Int): IndexedSeq[Query] =
    (0L until count).iterator.map(freshQuery).takeWhile(_.isDefined).flatten.toIndexedSeq
}

object Queries {
  val NumBuckets = 14
  /** Seed of the query shapes (term counts, buckets, draw order). */
  private val ShapeSeed = 0x5eedL
  private val bucketZipf = new Gen.Zipf(NumBuckets, 1.0)
}
