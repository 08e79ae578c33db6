package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.index.{Catalog, Compactor, Epochs, Fs, IndexBuilder, Snapshotter}
import graft.ops.Similarity
import graft.query.Searcher
import graft.streaming.StreamingIngest

/** Crash-at-every-step suite for the epoch commit protocol (Epochs). Each
  * maintenance op first runs on a pristine copy of a small fixture, which
  * counts its filesystem mutations M. Then, for every N in 1..M, a fresh
  * copy crashes at mutation N: that step and every later one fail, as in a
  * dead process. The crashed holder's lock is then made stale, and
  * reconcile + sweep run with no GC grace. Afterwards queries must answer
  * exactly as the old state or the new state does, and every directory
  * left must be live.
  */
class EpochsCrashSpec extends AnyFunSuite with SparkSuite {

  private final class Crash extends RuntimeException("injected crash")

  private def isCrash(t: Throwable): Boolean =
    t != null && (t.isInstanceOf[Crash] || isCrash(t.getCause))

  /** Runs `op` with the `n`th and every later Fs mutation throwing, and
    * returns how many mutations the op attempted. The lock heartbeat is
    * not a step of the op, so its writes are not counted.
    */
  private def crashAt(n: Int)(op: => Unit): Int = {
    val seen = new AtomicInteger(0)
    Fs.beforeMutation = (_, _) =>
      if (Thread.currentThread.getName != "graft-maint-heartbeat" &&
          seen.incrementAndGet() >= n) throw new Crash
    try op
    catch { case t: Throwable if isCrash(t) => }
    finally Fs.beforeMutation = (_, _) => ()
    seen.get
  }

  private def copyOf(fixture: String): String = {
    val src = Paths.get(fixture)
    val dst = Paths.get(tmpDir("graft-crash-copy")).resolve(src.getFileName.toString)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally walk.close()
    dst.toString
  }

  /** What a restarted process does: break the dead holder's lock once it
    * is stale, then reconcile and sweep with no grace.
    */
  private def recover(dir: String, layout: Epochs.Layout): Unit = {
    val lock = new java.io.File(dir, "_MAINT")
    if (lock.exists) assert(lock.setLastModified(1000L))
    val old = sys.props.put("graft.gc.grace.ms", "0")
    try Epochs.withMaintLock(dir, "recover") { _ =>
      Catalog.invalidate(dir)
      Epochs.reconcile(dir, layout)
      Epochs.gcSweep(dir)
    } finally old match {
      case Some(v) => sys.props.put("graft.gc.grace.ms", v)
      case None => sys.props.remove("graft.gc.grace.ms")
    }
  }

  private def orphanClaims(parent: String): Seq[String] =
    Fs.listFiles(parent).filter(c => c.endsWith(".claim") && !Fs.exists(c.stripSuffix(".claim")))

  private def crashEverywhere[A](fixture: String, layout: Epochs.Layout,
                                 answer: String => A, leaks: String => Seq[String])
                                (op: String => Unit): Unit = {
    val before = answer(copyOf(fixture))
    val pristine = copyOf(fixture)
    val m = crashAt(Int.MaxValue)(op(pristine))
    recover(pristine, layout)
    val after = answer(pristine)
    assert(m > 0 && leaks(pristine).isEmpty)
    for (n <- 1 to m) {
      val dir = copyOf(fixture)
      crashAt(n)(op(dir))
      recover(dir, layout)
      val got = answer(dir)
      assert(got == before || got == after,
        s"crash at mutation $n of $m: answer is neither the old nor the new state")
      val left = leaks(dir)
      assert(left.isEmpty, s"crash at mutation $n of $m leaked $left")
    }
  }

  // ---- posting index: genesis + two live segments + one tombstone delta ---

  private lazy val postingFixture: String = {
    import spark.implicits._
    val idx = tmpDir("graft-crash-posting")
    val all = (0 until 36).map(i => Corpus.synthDoc(i, 83L))
    val h = IndexBuilder.build(spark, all.take(24).toDS(), idx, IndexBuilder.Config(salts = 2))
    val avgdl = h.stats(spark).avgdl
    StreamingIngest.appendSegment(spark, all.slice(24, 30).toDS(), 0L, idx, avgdl, 2, 1L << 40)
    StreamingIngest.appendSegment(spark, all.slice(30, 36).toDS(), 1L, idx, avgdl, 2, 1L << 40)
    Compactor.tombstone(spark, idx, Seq(1L, 2L).toDF("docId"))
    idx
  }

  private lazy val genesisTables: Set[String] =
    Fs.listDirs(postingFixture).map(Fs.name).toSet -- Set("ingest_segments", "tombstones")

  private def postingAnswer(idx: String): Map[String, Set[(String, Double)]] = {
    Catalog.invalidate(idx)
    val h = IndexBuilder.openHandle(idx)
    Seq("the", "import def", "postinglist docfreq").map(q => q ->
      Searcher.topK(spark, h, q, Int.MaxValue).toDF()
        .join(h.docmetaAll(spark).toDF(), "docId")
        .select(col("commit"), col("score"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSet).toMap
  }

  /** Dirs that are neither live nor layout containers: anything but the
    * retained genesis tables and the live epoch at the top level, any
    * segment the catalog does not serve, any uncommitted tombstone delta —
    * plus claims whose delta is gone.
    */
  private def postingLeaks(idx: String): Seq[String] = {
    Catalog.invalidate(idx)
    val st = Catalog.of(idx)
    val root = Epochs.rootOf(idx, st.epoch)
    val containers = if (st.epoch.isEmpty) Set("ingest_segments", "tombstones") else Set("ingest_segments")
    Fs.listDirs(idx).map(Fs.name)
      .filterNot(n => genesisTables(n) || containers(n) || st.epoch.contains(n)) ++
      Fs.listDirs(s"$idx/ingest_segments").filterNot(st.segments.contains) ++
      Fs.listDirs(s"$root/tombstones").filterNot(st.tombstones.contains) ++
      orphanClaims(s"$idx/ingest_segments") ++ orphanClaims(s"$root/tombstones")
  }

  private def postingCrashes(op: String => Unit): Unit =
    crashEverywhere(postingFixture, Compactor.layout, postingAnswer, postingLeaks)(op)

  /** The same index one fold later: a live epoch, a new segment and a
    * tombstone delta under the epoch, with the ledger swept.
    */
  private lazy val postingEpochFixture: String = {
    import spark.implicits._
    val idx = copyOf(postingFixture)
    val h = Compactor.compact(spark, idx)
    StreamingIngest.appendSegment(spark, (36 until 42).map(i => Corpus.synthDoc(i, 83L)).toDS(),
      2L, idx, h.stats(spark).avgdl, 2, 1L << 40)
    Compactor.tombstone(spark, idx, Seq(3L).toDF("docId"))
    recover(idx, Compactor.layout)
    idx
  }

  test("compact returns to the old or the new state after a crash at every filesystem step") {
    postingCrashes(Compactor.compact(spark, _))
  }

  test("compact from an epoch root returns to the old or the new state after a crash at every filesystem step") {
    crashEverywhere(postingEpochFixture, Compactor.layout, postingAnswer, postingLeaks)(
      Compactor.compact(spark, _))
  }

  test("tombstone returns to the old or the new state after a crash at every filesystem step") {
    import spark.implicits._
    postingCrashes(Compactor.tombstone(spark, _, Seq(5L, 6L).toDF("docId")))
  }

  test("mergeSegments returns to the old or the new state after a crash at every filesystem step") {
    postingCrashes(Compactor.mergeSegments(spark, _))
  }

  test("restore leaves no index or a complete one after a crash at every filesystem step; a retry succeeds") {
    val snap = s"${tmpDir("graft-crash-snap")}/snap"
    Snapshotter.snapshot(spark, postingEpochFixture, snap)
    val want = postingAnswer(postingEpochFixture)
    // the destination either does not exist yet or is an empty dir
    for (preCreate <- Seq(false, true)) {
      def dest(parent: String) = s"$parent/restored"
      def restore(parent: String): Unit = {
        if (preCreate && !Fs.exists(dest(parent))) Fs.mkdirs(dest(parent))
        Snapshotter.restore(spark, snap, dest(parent))
      }
      val pristine = tmpDir("graft-restore")
      val m = crashAt(Int.MaxValue)(restore(pristine))
      assert(m > 0 && postingAnswer(dest(pristine)) == want)
      for (n <- 1 to m) {
        val parent = tmpDir("graft-restore-crash")
        crashAt(n)(restore(parent))
        assert(Fs.isAbsentOrEmptyDir(dest(parent)) || postingAnswer(dest(parent)) == want,
          s"crash at step $n of $m left a partial index")
        if (Fs.isAbsentOrEmptyDir(dest(parent))) restore(parent)
        assert(postingAnswer(dest(parent)) == want, s"restore retried after a crash at step $n of $m")
        assert(Fs.listDirs(parent).map(Fs.name) == Seq("restored"),
          s"a retry after a crash at step $n of $m left ${Fs.listDirs(parent)}")
      }
    }
  }

  // ---- IVF index: genesis + one append delta + one delete delta -----------

  private lazy val embDir: String = {
    val d = tmpDir("graft-crash-emb")
    Similarity.synthEmbeddings(spark, d, 240L, 16, parallelism = 4, centers = 12)
    d
  }

  private def emb = spark.read.parquet(s"$embDir/embeddings.parquet")

  private lazy val ivfFixture: String = {
    val ivf = s"${tmpDir("graft-crash-ivf")}/ivf"
    val base = emb.filter(col("vec_id") < 200)
    Similarity.buildIvfFrom(spark, base.filter(col("vec_id") % 4 =!= 0), ivf, 8)
    Similarity.ivfAppend(spark, ivf, base.filter(col("vec_id") % 4 === 0))
    Similarity.ivfTombstone(spark, ivf, emb.filter(col("vec_id") % 9 === 1).select(col("vec_id")))
    ivf
  }

  private lazy val query: Array[Float] = {
    import spark.implicits._
    emb.filter(col("vec_id") === 0L).select(col("embedding")).as[Array[Float]].head()
  }

  /** Every live vector ranked: nprobe = lists makes the probe exhaustive. */
  private def ivfAnswer(dir: String): Seq[(Long, Long)] =
    Similarity.ivfProbe(spark, dir, query, 0L, 1000, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def ivfLeaks(dir: String): Seq[String] = {
    val epoch = Epochs.current(dir)
    val root = Epochs.rootOf(dir, epoch)
    def live(parent: String, n: String) = n == "emb" || n == "centroids" ||
      ((n.startsWith("append-") || n.startsWith("del-")) && Fs.exists(s"$parent/$n/_DONE"))
    val top = Fs.listDirs(dir).map(Fs.name)
      .filterNot(n => if (epoch.isEmpty) live(dir, n) else epoch.contains(n))
    val inRoot = if (epoch.isEmpty) Nil else Fs.listDirs(root).map(Fs.name).filterNot(live(root, _))
    top ++ inRoot ++ orphanClaims(root)
  }

  private def ivfCrashes(op: String => Unit): Unit =
    crashEverywhere(ivfFixture, Similarity.ivfLayout, ivfAnswer, ivfLeaks)(op)

  /** The same IVF index one fold later: a live epoch with a new append. */
  private lazy val ivfEpochFixture: String = {
    val ivf = copyOf(ivfFixture)
    Similarity.ivfCompact(spark, ivf)
    Similarity.ivfAppend(spark, ivf, emb.filter(col("vec_id") >= 200))
    recover(ivf, Similarity.ivfLayout)
    ivf
  }

  test("ivfCompact returns to the old or the new state after a crash at every filesystem step") {
    ivfCrashes(Similarity.ivfCompact(spark, _))
  }

  test("ivfCompact from an epoch root returns to the old or the new state after a crash at every filesystem step") {
    crashEverywhere(ivfEpochFixture, Similarity.ivfLayout, ivfAnswer, ivfLeaks)(
      Similarity.ivfCompact(spark, _))
  }

  test("ivfTombstone returns to the old or the new state after a crash at every filesystem step") {
    ivfCrashes(Similarity.ivfTombstone(spark, _,
      emb.filter(col("vec_id") % 7 === 3).select(col("vec_id"))))
  }

  test("ivfAppend returns to the old or the new state after a crash at every filesystem step") {
    ivfCrashes(Similarity.ivfAppend(spark, _, emb.filter(col("vec_id") >= 200)))
  }

  test("Fs claim primitives report only a lost race as false; other I/O errors propagate") {
    val dir = tmpDir("graft-fs-claim")
    assert(Fs.tryCreateNew(s"$dir/a") && !Fs.tryCreateNew(s"$dir/a"), "second create must lose")
    // a name no filesystem accepts is not "already taken": a claim loop
    // stepping to the next name would step forever
    intercept[java.io.IOException](Fs.tryCreateNew(s"$dir/${"x" * 300}"))
    assert(Fs.tryCreateNew(s"$dir/b"))
    assert(!Fs.tryRename(s"$dir/a", s"$dir/b"), "an existing destination loses")
    assert(!Fs.tryRename(s"$dir/gone", s"$dir/c"), "a missing source loses")
    assert(Fs.tryRename(s"$dir/a", s"$dir/c") && Fs.exists(s"$dir/c") && !Fs.exists(s"$dir/a"))
  }

  test("a rewritten protocol file never fails another reader's checksum") {
    import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path}
    val p = s"${tmpDir("graft-fs-crc")}/_MAINT"
    val path = new Path(p)
    // a reader in another process: its own checksummed local file system
    val peer = FileSystem.newInstance(path.toUri, spark.sessionState.newHadoopConf())
    def peerRead(): String = {
      val in = peer.open(path)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    }
    val crc = new Path(path.getParent, s".${path.getName}.crc")
    try {
      // a sidecar an older, checksummed write left is removed by the next write
      val out = peer.create(path, true)
      out.write("old-token".getBytes("UTF-8")); out.close()
      assert(peer.exists(crc), "fixture: the checksummed write leaves a sidecar")
      Fs.writeString(p, "a-much-longer-token")
      assert(!peer.exists(crc) && peerRead() == "a-much-longer-token")
      // two writers (a lock holder's heartbeat and a stealer, say) rewriting
      // the file with alternating lengths beside the reader: with a sidecar,
      // their rewrites interleave into a file and a .crc from different writes
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val writers = Seq(0, 1).map(w => new Thread(() => {
        var i = w
        while (!stop.get) { Fs.writeString(p, if (i % 2 == 0) "x" * 7 else "y" * 70000); i += 1 }
      }))
      var reads, failures = 0
      val deadline = System.nanoTime + 3000000000L
      writers.foreach(_.start())
      try while (System.nanoTime < deadline) {
        try peerRead() catch { case _: ChecksumException => failures += 1 }
        reads += 1
      } finally { stop.set(true); writers.foreach(_.join()) }
      assert(failures == 0, s"$failures of $reads reads failed their checksum")
      assert(!peer.exists(crc))
    } finally peer.close()
  }
}
