package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Similarity}

/** Ground-truth checks for the approximate / non-SQL-expressible ops that
  * have no DuckDB oracle (rows-only in the driver): LSH recall vs brute
  * force, SimHash correctness vs exhaustive hamming, centroid argmax,
  * multimodal stub consistency.
  */
class OpsSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("minhash-LSH pairs == exact jaccard pairs on test corpus (recall 1)") {
    val exact = Dedup.jaccardPairs(spark, sfDir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(spark, sfDir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"missed: ${exact -- lsh}, extra: ${lsh -- exact}")
    assert(exact.nonEmpty, "test corpus should contain planted near-dups")
  }

  test("dedup clusters: driver union-find ≡ distributed label propagation; keeper = component min") {
    def rows(maxDriverPairs: Int) =
      graft.ops.Dedup.dedupClusters(spark, sfDir, maxDriverPairs = maxDriverPairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaDriver = rows(100000)
    val viaDistributed = rows(0) // force the label-propagation path
    assert(viaDriver == viaDistributed && viaDriver.nonEmpty)
    val keeperOf = viaDriver.toMap
    viaDriver.foreach { case (id, k) =>
      assert(k <= id, s"keeper $k > member $id")
      assert(keeperOf(k) == k, s"keeper $k is not its own keeper")
    }
    // every verified pair lands in one cluster
    graft.ops.Dedup.minhashLshPairs(spark, sfDir).collect().foreach { r =>
      assert(keeperOf(r.getLong(0)) == keeperOf(r.getLong(1)))
    }
  }

  test("simhash pairs equal exhaustive hamming-distance pairs (band recall is exact ≤3 by pigeonhole)") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), lower(col("text")).as("t")).as[(Long, String)].collect()
    val sigs = docs.map { case (id, t) =>
      (id, Dedup.simhash64(t.split("[^a-z0-9]+").iterator.filter(_.nonEmpty)))
    }
    val want = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 3
    } yield (a, b, d.toLong)).toSet
    val got = Dedup.simhashPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("wide (128-bit) simhash pairs equal exhaustive 128-bit hamming pairs") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), lower(col("text")).as("t")).as[(Long, String)].collect()
    val sigs = docs.map { case (id, t) =>
      (id, Dedup.simhash128(t.split("[^a-z0-9]+").iterator.filter(_.nonEmpty)))
    }
    val want = (for {
      (a, (ha, la)) <- sigs; (b, (hb, lb)) <- sigs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb) if d <= 3
    } yield (a, b, d.toLong)).toSet
    val got = Dedup.simhashPairsWide(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("LSH top-k is a subset of brute-force ranking with recall ≥ 0.5") {
    spark.conf.set("spark.graft.ann.logCandidates", "true") // fraction evidence
    val brute = Similarity.cosineTopK(spark, sfDir, 0L, 20).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val lsh = Similarity.lshTopK(spark, sfDir, 0L, 20).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    spark.conf.unset("spark.graft.ann.logCandidates")
    val bruteMap = brute.toMap
    // every LSH hit must carry the exact brute-force score (exact re-score)
    lsh.foreach { case (id, cq) => assert(bruteMap.get(id).forall(_ == cq) ||
      !bruteMap.contains(id), s"score mismatch for $id") }
    val recall = lsh.map(_._1).count(brute.map(_._1).toSet) / brute.length.toDouble
    assert(recall >= 0.5, s"LSH recall too low: $recall")
  }

  test("LSH pairs find ALL planted tight near-dups (cos ≥ 0.9) without the n² join") {
    import spark.implicits._
    // planted corpus: 40 base vectors, every 4th duplicated with tiny noise
    // (cos ≥ ~0.99) — the real embedding-dedup regime lshPairs targets
    val rnd = new scala.util.Random(99)
    val dim = 64
    val base = (0 until 40).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val dups = base.zipWithIndex.collect { case ((id, v), i) if i % 4 == 0 =>
      (100L + id, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    val dir = tmpDir("graft-lshpairs")
    (base ++ dups).toDF("vec_id", "embedding")
      .withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val exact = Similarity.cosinePairs(spark, dir, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val lsh = Similarity.lshPairs(spark, dir, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(exact.size == dups.size, s"expected ${dups.size} planted pairs, exact found ${exact.size}")
    assert(lsh == exact, s"missed: ${exact -- lsh}, extra: ${lsh -- exact}")
  }

  /** The nprobe lists a probe of `q` picks: its nearest centroids by cosine. */
  private def probedLists(root: String, q: Array[Float], nprobe: Int): Seq[Int] = {
    import spark.implicits._
    spark.read.parquet(s"$root/centroids").as[(Int, Array[Double])].collect()
      .map { case (l, c) => (l, Similarity.centroidCosine(q, c)) }
      .sortBy(-_._2).take(nprobe).map(_._1).toSeq
  }

  /** Data files under `lists`' `list_id=` dirs of the emb tables, as paths. */
  private def listFiles(tables: Seq[String], lists: Seq[Int]): Set[String] =
    (for {
      t <- tables; l <- lists; f <- graft.index.Fs.listFiles(s"$t/list_id=$l")
      if !graft.index.Fs.name(f).startsWith(".") && !graft.index.Fs.name(f).startsWith("_")
    } yield new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet

  private def inputPaths(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet

  test("IVF top-k: partition-pruned probe recovers the clustered true neighbors") {
    import spark.implicits._
    // clustered corpus: IVF's regime — same-cluster cosine ≈ 1/(1+noise²)
    val dir = tmpDir("graft-ivf-test")
    Similarity.synthEmbeddings(spark, dir, 3000L, 32, centers = 100)
    val brute = Similarity.cosineTopK(spark, dir, 0L, 20).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ivf = Similarity.ivfTopK(spark, dir, 0L, 20, lists = 32, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // exact re-score: every IVF hit carries the brute-force score
    val bruteMap = brute.toMap
    ivf.foreach { case (id, cq) =>
      assert(bruteMap.get(id).forall(_ == cq), s"score mismatch for $id") }
    val recall = ivf.map(_._1).count(brute.map(_._1).toSet) / brute.length.toDouble
    assert(recall >= 0.9, s"IVF recall too low on clustered data: $recall")
    // the probe reads exactly the files of its nprobe lists
    val root = Similarity.ivfDir(dir, 32)
    val q = spark.read.parquet(s"$dir/embeddings.parquet").filter(col("vec_id") === 0L)
      .select(col("embedding")).as[Array[Float]].head()
    val want = listFiles(Seq(s"$root/emb"), probedLists(root, q, 4))
    assert(want.nonEmpty && want.size < listFiles(Seq(s"$root/emb"), 0 until 32).size)
    assert(inputPaths(Similarity.ivfTopK(spark, dir, 0L, 20, lists = 32, nprobe = 4)) == want)
  }

  test("incremental IVF: append ≡ rebuild assignments; exhaustive probe == brute over the union") {
    import spark.implicits._
    val dir = tmpDir("graft-ivfappend")
    Similarity.synthEmbeddings(spark, dir, 2000L, 32, centers = 50)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val ivf = s"$dir/ivf"
    Similarity.buildIvfFrom(spark, e.filter(col("vec_id") % 4 =!= 0), ivf, 16)
    Similarity.ivfAppend(spark, ivf, e.filter(col("vec_id") % 4 === 0))
    // every vector present exactly once; every stored list_id — base AND
    // appended — equals a fresh assignment against the same centroids
    val centroids = spark.read.parquet(s"$ivf/centroids").as[(Int, Array[Double])]
      .collect().sortBy(_._1).map(_._2)
    val stored = spark.read.parquet(s"$ivf/emb")
      .unionByName(spark.read.parquet(s"$ivf/append-000001/emb"))
      .select(col("vec_id"), col("embedding"), col("list_id"))
      .as[(Long, Array[Float], Int)].collect()
    assert(stored.length == 2000 && stored.map(_._1).distinct.length == 2000)
    stored.foreach { case (id, v, l) =>
      assert(l == Similarity.nearestList(v, centroids), s"vec $id misassigned") }
    // exhaustive probe over base ∪ append == brute force over the full table
    val q = e.filter(col("vec_id") === 0L).select(col("embedding"))
      .as[Array[Float]].head()
    val brute = Similarity.cosineTopK(spark, dir, 0L, 20).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val probed = Similarity.ivfProbe(spark, ivf, q, 0L, 20, 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(probed == brute)
    // a pruned probe reads exactly its lists' files of the root AND the delta
    val tables = Seq(s"$ivf/emb", s"$ivf/append-000001/emb")
    val want = listFiles(tables, probedLists(ivf, q, 4))
    assert(want.exists(_.contains("/append-000001/")) && want.exists(_.contains("/ivf/emb/")))
    assert(want.size < listFiles(tables, 0 until 16).size)
    assert(inputPaths(Similarity.ivfProbe(spark, ivf, q, 0L, 20, 4)) == want)
  }

  test("IVF state: warm probes run one job, appends keep the centroids, commits are seen in every session") {
    import spark.implicits._
    val dir = tmpDir("graft-ivflive")
    Similarity.synthEmbeddings(spark, dir, 1200L, 16, centers = 30)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val vecs = e.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    val q = vecs.find(_._1 == 0L).get._2
    def exact(keep: Long => Boolean): Seq[(Long, Long)] = vecs
      .filter { case (id, _) => id != 0L && keep(id) }
      .map { case (id, v) => (id, math.floor(Similarity.cosine(q, v) * 10000 + 0.5).toLong) }
      .sortBy { case (id, cq) => (-cq, id) }.take(20).toSeq
    val ivf = s"$dir/ivf"
    def probe(s: org.apache.spark.sql.SparkSession = spark, nprobe: Int = 8): Seq[(Long, Long)] =
      Similarity.ivfProbe(s, ivf, q, 0L, 20, nprobe).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    Similarity.buildIvfFrom(spark, e.filter(col("vec_id") < 1000), ivf, 8)
    assert(probe() == exact(_ < 1000))
    // (a) a warm probe on an unchanged state runs its top-k job only: no
    // centroid read, no listing job, no schema inference
    assert(jobsOf("graft-ivf-warm")(probe()) == 1)
    assert(probe(nprobe = 0).isEmpty)
    // (b) an append keeps the centroids; its delta is listed on the driver
    Similarity.ivfAppend(spark, ivf, e.filter(col("vec_id") >= 1000))
    var appended: Seq[(Long, Long)] = Nil
    assert(jobsOf("graft-ivf-appended") { appended = probe() } == 1)
    assert(appended == exact(_ => true))
    // (c) a delete + rebuild of the same dir is served fresh
    graft.index.Fs.delete(ivf)
    Similarity.buildIvfFrom(spark, e.filter(col("vec_id") % 2 === 0), ivf, 8)
    assert(probe() == exact(_ % 2 == 0))
    // (d) commits through another session are seen by this one's next probe
    val other = spark.newSession()
    val dead = probe().take(3).map(_._1).toSet
    Similarity.ivfTombstone(other, ivf, dead.toSeq.toDF("vec_id"))
    assert(probe() == exact(id => id % 2 == 0 && !dead(id)))
    Similarity.ivfAppend(other, ivf, e.filter(col("vec_id") % 2 =!= 0))
    assert(probe() == exact(id => !dead(id)))
    assert(probe(other) == probe())
  }

  test("a query vector id missing from the source fails naming the id and the table") {
    val ex = intercept[IllegalArgumentException](Similarity.cosineTopK(spark, sfDir, 987654321L, 5))
    assert(ex.getMessage.contains("vec_id 987654321") &&
      ex.getMessage.contains(s"$sfDir/embeddings.parquet"), ex.getMessage)
  }

  test("centroid assignment is the true argmax for a sample of vectors") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
      .as[(Long, Array[Float], Int)].collect()
    val centroids = e.groupBy(_._3).map { case (l, vs) =>
      val dim = vs.head._2.length
      val acc = new Array[Double](dim)
      vs.foreach { case (_, v, _) => for (i <- 0 until dim) acc(i) += v(i) }
      (l, acc.map(_ / vs.length))
    }.toArray.sortBy(_._1)
    def cos(v: Array[Float], c: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nc = 0.0
      for (i <- v.indices) { dot += v(i) * c(i); na += v(i).toDouble * v(i); nc += c(i) * c(i) }
      dot / (math.sqrt(na) * math.sqrt(nc))
    }
    val got = Similarity.centroidAssign(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    e.take(50).foreach { case (id, v, _) =>
      val want = centroids.maxBy { case (_, c) => cos(v, c) }._1
      assert(got(id) == want, s"vec $id: got ${got(id)} want $want")
    }
  }

  test("filters agg: every named bucket equals its predicate count, one scan, overlap kept") {
    val f = graft.query.Aggs.filtersAgg(spark, sfDir)
    val rows = f.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val e = spark.read.parquet(s"$sfDir/events.parquet")
    assert(rows("clicks") == e.filter(col("event_type") === "click").count())
    assert(rows("errors") == e.filter(col("event_type") === "error").count())
    assert(rows("high_value") == e.filter(col("value") > 90.0).count())
    assert(rows("_other") == e.filter(!(col("event_type") === "click" ||
      col("event_type") === "error" || col("value") > 90.0)).count())
    // buckets OVERLAP (ES semantics — not a partition): a high-value click
    // counts in both, so bucket counts exceed the row count
    val overlap = e.filter((col("event_type") === "click" ||
      col("event_type") === "error") && col("value") > 90.0).count()
    assert(overlap > 0, "fixture: need overlapping docs for the test to bite")
    assert(rows.values.sum == e.count() + overlap)
    // ONE pass over events: a single parquet scan feeds every bucket
    // (AQE prints Final + Initial — count only the final plan's scans)
    val plan = f.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("FileScan".r.findAllIn(plan).size == 1, s"plan:\n$plan")
  }

  test("composite agg: pages tile the bucket set, after-key is strict, plan takes ordered") {
    import graft.query.Aggs
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getString(1))
    val full = Aggs.compositePage(spark, sfDir, Int.MaxValue).collect().toSeq
    assert(full.length > 20, "fixture needs enough (event_type, day) buckets to page")
    assert(full.map(key) == full.map(key).sorted, "bucket keyset order")
    // chain after-keys with size 7: concatenated pages ≡ the full bucket list
    val paged = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    var after: Option[(String, String)] = None
    var page = Aggs.compositePage(spark, sfDir, 7, after).collect()
    while (page.nonEmpty) {
      paged ++= page
      after = Some(key(page.last))
      page = Aggs.compositePage(spark, sfDir, 7, after).collect()
    }
    assert(paged.toSeq == full, "pages must tile the bucket set exactly")
    // page N is TakeOrderedAndProject over the aggregate — never a global
    // bucket sort (the at-scale claim in Aggs.compositePage's doc)
    val plan = Aggs.compositePage(spark, sfDir, 7, Some(key(full(6))))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
    assert(!plan.toLowerCase.contains("rangepartitioning"),
      s"composite page pays a global sort exchange:\n$plan")
  }

  test("plan caches are source-mtime-stamped: same-path delete+rewrite is not served stale") {
    import spark.implicits._
    val dir = tmpDir("graft-stale")
    // gapDetect's cached gap-scan (query/Aggs.scala planCache)
    Seq(1L, 2L, 5L).toDF("l_orderkey").write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def gaps() = graft.query.Aggs.gapDetect(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(gaps() == Seq((3L, 4L)))
    Thread.sleep(50) // mtime resolution
    Seq(1L, 2L, 3L, 7L).toDF("l_orderkey").write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    assert(gaps() == Seq((4L, 6L)),
      "gapDetect served the rewritten table from the stale cached scan")
    // minhashLshPairs' cached candidate shingles (ops/Dedup.scala planCache)
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different words here entirely unrelated tokens now"
    def writeDocs(texts: Seq[String]): Unit = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def pairs() = Dedup.minhashLshPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    writeDocs(Seq(dup, dup + " x", other))
    assert(pairs() == Set((0L, 1L)))
    Thread.sleep(50)
    writeDocs(Seq(other, dup, dup + " y"))
    assert(pairs() == Set((1L, 2L)),
      "minhashLshPairs verified against the stale cached shingle table")
  }

  test("decontamination: cross-corpus LSH+verify pairs == exact cross Jaccard (recall 1)") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    def shingleSet(t: String): Set[String] = {
      val ws = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      (0 until math.max(ws.length - 2, 0))
        .map(i => ws(i) + " " + ws(i + 1) + " " + ws(i + 2)).toSet
    }
    val sh = docs.map { case (id, t) => id -> shingleSet(t) }.toMap
    val corpusIds = docs.map(_._1).filter(_ % 3 != 0)
    val refIds = docs.map(_._1).filter(_ % 3 == 0)
    val want = (for {
      a <- corpusIds; b <- refIds
      i = (sh(a) & sh(b)).size.toDouble if i > 0
      j = i / (sh(a).size + sh(b).size - i) if j >= 0.6
    } yield (a, b)).toSet
    assert(want.nonEmpty, "fixture must contain planted cross-split near-dups")
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val got = graft.ops.Dedup.decontaminatePairs(spark,
        d.filter(col("doc_id") % 3 =!= 0), d.filter(col("doc_id") % 3 === 0))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"missed: ${want -- got}, extra: ${got -- want}")
    // the drop set is exactly the contaminated corpus docs
    val drop = graft.ops.Dedup.decontaminate(spark,
        d.filter(col("doc_id") % 3 =!= 0), d.filter(col("doc_id") % 3 === 0))
      .collect().map(_.getLong(0)).toSet
    assert(drop == want.map(_._1))
  }

  test("exact + embedding decontamination tiers equal driver-computed ground truth") {
    import spark.implicits._
    // exact tier: drop set = corpus docs whose digest appears in the ref
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val texts = docs.select(col("doc_id"), col("text")).as[(Long, String)].collect()
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val refDigests = texts.filter(_._1 % 7 == 0).map(t => md5(t._2)).toSet
    val wantExact = texts.filter(t => refDigests(md5(t._2))).map(_._1).toSet
    assert(wantExact.nonEmpty)
    val gotExact = graft.ops.Dedup.decontaminateExact(spark, docs,
        docs.filter(col("doc_id") % 7 === 0))
      .collect().map(_.getLong(0)).toSet
    assert(gotExact == wantExact)
    // embedding tier: cross-split cosine ≥ t vs exhaustive driver compute
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val vecs = e.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val (cVecs, rVecs) = vecs.partition(_._1 % 3 != 0)
    val wantEmb = (for {
      (a, va) <- cVecs; (b, vb) <- rVecs
      c = Similarity.cosine(va, vb) if c >= 0.45
    } yield (a, b, math.floor(c * 10000 + 0.5).toLong)).toSet
    val gotEmb = Similarity.decontaminateEmbeddings(spark,
        e.filter(col("vec_id") % 3 =!= 0), e.filter(col("vec_id") % 3 === 0),
        threshold = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotEmb == wantEmb, s"missed: ${wantEmb -- gotEmb}, extra: ${gotEmb -- wantEmb}")
    assert(gotEmb.nonEmpty)
  }

  test("ivfCompact: fold over base ∪ appends ≡ fresh buildIvf over the union; GC consumes deltas+claims") {
    import spark.implicits._
    val old = sys.props.put("graft.gc.grace.ms", "0")
    try {
      val dir = tmpDir("graft-ivffold")
      Similarity.synthEmbeddings(spark, dir, 2000L, 32, centers = 50)
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val ivf = s"$dir/ivf"
      Similarity.buildIvfFrom(spark, e.filter(col("vec_id") % 4 =!= 0), ivf, 16)
      Similarity.ivfAppend(spark, ivf, e.filter(col("vec_id") % 4 === 0))
      assert(graft.index.Fs.exists(s"$ivf/append-000001.claim"))
      Similarity.ivfCompact(spark, ivf)
      assert(graft.index.Fs.readString(s"$ivf/CURRENT").map(_.trim)
        .contains("epoch-000001"))
      // the fold equals a fresh build over the union corpus — deterministic
      // init + hash-sampled Lloyd are pure functions of the row SET, so
      // centroids and every assignment must be identical
      val fresh = s"$dir/ivf-fresh"
      Similarity.buildIvfFrom(spark, e, fresh, 16)
      def centroids(root: String) = spark.read.parquet(s"$root/centroids")
        .as[(Int, Array[Double])].collect().sortBy(_._1).map(_._2.toSeq).toSeq
      assert(centroids(s"$ivf/epoch-000001") == centroids(fresh))
      def assigned(root: String) = spark.read.parquet(s"$root/emb")
        .select(col("vec_id"), col("list_id")).as[(Long, Int)].collect().sorted.toSeq
      assert(assigned(s"$ivf/epoch-000001") == assigned(fresh))
      // queries through the folded dir: exhaustive probe == brute force
      val q = e.filter(col("vec_id") === 0L).select(col("embedding"))
        .as[Array[Float]].head()
      val brute = Similarity.cosineTopK(spark, dir, 0L, 20).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(Similarity.ivfProbe(spark, ivf, q, 0L, 20, 16).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq == brute)
      // consumed genesis tables, deltas and claim files are GC'd by the
      // next maintenance call (grace = 0 here); appending a NEW vector
      // mints work so the second fold runs
      Similarity.ivfAppend(spark, ivf,
        Seq((50000L, Array.fill(32)(0.25f), 0)).toDF("vec_id", "embedding", "label"))
      Similarity.ivfCompact(spark, ivf)
      assert(!graft.index.Fs.exists(s"$ivf/emb"), "genesis emb must be GC'd")
      assert(!graft.index.Fs.exists(s"$ivf/centroids"))
      assert(!graft.index.Fs.exists(s"$ivf/append-000001"))
      assert(!graft.index.Fs.exists(s"$ivf/append-000001.claim"),
        "claim files must be GC'd with their consumed deltas")
      // fold-of-fold: second epoch holds the union exactly once, and the
      // exhaustive probe equals a driver-computed exact top-20 over it
      assert(graft.index.Fs.readString(s"$ivf/CURRENT").map(_.trim)
        .contains("epoch-000002"))
      val stored = spark.read.parquet(s"$ivf/epoch-000002/emb")
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect()
      assert(stored.length == 2001 && stored.map(_._1).distinct.length == 2001)
      val want2 = stored.filter(_._1 != 0L)
        .map { case (id, v) =>
          (id, math.floor(Similarity.cosine(q, v) * 10000 + 0.5).toLong)
        }
        .sortBy { case (id, cq) => (-cq, id) }.take(20).toSeq
      assert(Similarity.ivfProbe(spark, ivf, q, 0L, 20, 16).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq == want2)
    } finally {
      old match {
        case Some(v) => sys.props.put("graft.gc.grace.ms", v)
        case None => sys.props.remove("graft.gc.grace.ms")
      }
    }
  }

  test("ivfTombstone: live deletes vanish from probes; fold purges them (== fresh build over survivors)") {
    import spark.implicits._
    val old = sys.props.put("graft.gc.grace.ms", "0")
    try {
      val dir = tmpDir("graft-ivftomb")
      Similarity.synthEmbeddings(spark, dir, 1500L, 32, centers = 40)
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val ivf = s"$dir/ivf"
      Similarity.buildIvfFrom(spark, e, ivf, 16)
      Similarity.ivfTombstone(spark, ivf,
        e.filter(col("vec_id") % 5 === 1).select(col("vec_id")))
      val q = e.filter(col("vec_id") === 0L).select(col("embedding"))
        .as[Array[Float]].head()
      // LIVE: exhaustive probe == driver-exact top-20 over survivors
      def wantTop(rows: Array[(Long, Array[Float])]) = rows
        .filter(r => r._1 != 0L)
        .map { case (id, v) =>
          (id, math.floor(Similarity.cosine(q, v) * 10000 + 0.5).toLong) }
        .sortBy { case (id, cq) => (-cq, id) }.take(20).toSeq
      val live = e.filter(col("vec_id") % 5 =!= 1)
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
      val want = wantTop(live)
      assert(Similarity.ivfProbe(spark, ivf, q, 0L, 20, 16).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq == want)
      // PURGE: the fold drops them physically; new epoch == fresh build
      // over survivors (same centroids, same assignments), delete set empty
      Similarity.ivfCompact(spark, ivf)
      val newRoot = s"$ivf/epoch-000001"
      val stored = spark.read.parquet(s"$newRoot/emb")
        .select(col("vec_id")).as[Long].collect().toSet
      assert(stored == live.map(_._1).toSet)
      val fresh = s"$dir/ivf-fresh"
      Similarity.buildIvfFrom(spark, e.filter(col("vec_id") % 5 =!= 1), fresh, 16)
      def centroids(root: String) = spark.read.parquet(s"$root/centroids")
        .as[(Int, Array[Double])].collect().sortBy(_._1).map(_._2.toSeq).toSeq
      assert(centroids(newRoot) == centroids(fresh))
      assert(Similarity.ivfProbe(spark, ivf, q, 0L, 20, 16).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq == want)
      // consumed del delta GC'd by the next maintenance pass (grace = 0)
      Similarity.ivfTombstone(spark, ivf,
        e.filter(col("vec_id") === 2L).select(col("vec_id")))
      Similarity.ivfCompact(spark, ivf)
      assert(!graft.index.Fs.exists(s"$ivf/del-000001"))
    } finally {
      old match {
        case Some(v) => sys.props.put("graft.gc.grace.ms", v)
        case None => sys.props.remove("graft.gc.grace.ms")
      }
    }
  }

  test("ANN artifact dirs are source-stamped: delete+rewrite of embeddings.parquet rebuilds") {
    import spark.implicits._
    val dir = tmpDir("graft-annstale")
    Similarity.synthEmbeddings(spark, dir, 500L, 16, centers = 10)
    val first = Similarity.ivfTopK(spark, dir, 0L, 10, lists = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(first == Similarity.cosineTopK(spark, dir, 0L, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // rewrite the source under the SAME path with different content — the
    // stamped dir name forces a rebuild; serving the old IVF layout would
    // return vectors that no longer exist
    Similarity.synthEmbeddings(spark, dir, 400L, 16, seed = 99L, centers = 7)
    val second = Similarity.ivfTopK(spark, dir, 0L, 10, lists = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(second == Similarity.cosineTopK(spark, dir, 0L, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq,
      "stale IVF index served after a source rewrite")
    assert(first != second)
    // same discipline for the LSH bucket table
    assert(Similarity.lshTopK(spark, dir, 0L, 10, tables = 8, planes = 6)
      .collect().map(_.getLong(0)).toSet
      .subsetOf(spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id")).as[Long].collect().toSet))
  }

  test("a base IVF build keeps its own stamp's fixtures and sweeps other stamps") {
    val dir = tmpDir("graft-ivf-sweep")
    Similarity.synthEmbeddings(spark, dir, 300L, 16, centers = 6)
    val base = Similarity.ivfDir(dir, 4)
    val stale = base.substring(0, base.lastIndexOf('-') + 1) + "stale"
    Seq(stale, s"$stale-appendfx").foreach(graft.index.Fs.mkdirs)
    Similarity.ivfAppendTopK(spark, dir, 0L, 10, lists = 4, nprobe = 4).collect()
    Similarity.buildIvf(spark, dir, 4)
    assert(graft.index.Fs.exists(s"$base/_DONE"))
    assert(graft.index.Fs.exists(s"$base-appendfx/_DONE"),
      "the base build deleted its own stamp's -appendfx fixture")
    assert(!graft.index.Fs.exists(stale) && !graft.index.Fs.exists(s"$stale-appendfx"),
      "another stamp's dirs must be swept")
  }

  test("IVF build over a null vec_id fails loudly instead of seeding a centroid from it") {
    import spark.implicits._
    val e = Seq((Option.empty[Long], Array(0.5f, 0.25f), 0)).toDF("vec_id", "embedding", "label")
    val ivf = tmpDir("graft-ivf-null")
    val ex = intercept[Exception](Similarity.buildIvfFrom(spark, e, ivf, 1))
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("null vec_id")), s"unexpected failure: $ex")
    assert(!graft.index.Fs.exists(s"$ivf/_DONE"), "a failed build must not commit")
  }

  test("multimodal extract consistent with column-only metadata + deterministic") {
    val meta = Multimodal.metaColumns(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val ext = Multimodal.extractMeta(spark, sfDir).collect()
    assert(ext.nonEmpty)
    ext.foreach { r =>
      val (bl, w, hgt) = meta(r.getLong(0))
      assert(r.getLong(1) == bl && r.getInt(2) == w && r.getInt(3) == hgt)
    }
    val again = Multimodal.extractMeta(spark, sfDir).collect()
    assert(ext.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }
}
