package graft.index

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Index snapshot / restore — the ES `_snapshot` API analog (register a
  * repository, snapshot an index's shard files + metadata, restore
  * elsewhere; the reference's deployment runs ES, whose operational story
  * leans on exactly this for backup and migration). The engine-side
  * restatement:
  *
  *  - a snapshot is ONE pinned Catalog.State — the active epoch's tables,
  *    the live (un-folded, un-replaced) streamed segments, and the
  *    committed tombstone deltas — copied under `destDir` with the SAME
  *    relative layout, so a completed snapshot directory IS an openable
  *    index (restore-in-place is free; `restore` adds integrity
  *    verification and a fresh target).
  *  - consistency: the whole copy runs under the index's maintenance lock
  *    (Epochs.withMaintLock), so no concurrent compact/merge/tombstone
  *    can commit — and more importantly cannot GC — files mid-copy. Ingest
  *    may land NEW segments while the snapshot runs; they postdate the
  *    pinned state and are simply not part of it (the ES point-in-time
  *    contract).
  *  - integrity: every file is sha256-fingerprinted AS IT IS COPIED (one
  *    streaming pass, no second read), recorded in a `MANIFEST`; the
  *    `_SNAPSHOT_DONE` marker lands LAST (the standard marker-last commit),
  *    so a crashed snapshot is never mistaken for a complete one. `restore`
  *    re-hashes while copying and refuses on any length/sha mismatch;
  *    `verify` re-hashes in place (the ES repository-verify analog).
  *
  * Scale shape: the file copies are a `spark.parallelize(files)` job — each
  * task streams one file through a digest (at 100 TB the bytes move
  * executor→store, never through the driver; per-file server-side copy is
  * the object-store upgrade, with the manifest/commit protocol unchanged).
  * The driver handles only listings and the manifest. Transient state
  * (`_MAINT` lock, `_gc` ledger, `CURRENT`) is NOT copied — a restored
  * index starts with a clean maintenance history; `CURRENT` is re-written
  * at commit from the pinned epoch.
  */
object Snapshotter {

  val ManifestName = "MANIFEST"
  val DoneMarker = "_SNAPSHOT_DONE"

  final case class Entry(rel: String, len: Long, sha256: String)

  /** A FRESH (uncached) FileSystem for `p` with Hadoop's checksum layer
    * off: the manifest sha256 is this protocol's single integrity
    * authority. On local fs the ChecksumFileSystem would otherwise (a)
    * strew `.crc` sidecars through snapshot dirs and (b) throw its own
    * ChecksumException on a corrupt file BEFORE the manifest compare can
    * name it; object stores have no such layer, so disabling it makes the
    * verify behavior uniform. Uncached because setVerifyChecksum mutates
    * the instance — the JVM-wide cached fs must not be perturbed.
    */
  private def rawFs(p: Path, conf: Configuration): org.apache.hadoop.fs.FileSystem = {
    val scheme = Option(p.toUri.getScheme).getOrElse(
      org.apache.hadoop.fs.FileSystem.getDefaultUri(conf).getScheme)
    conf.setBoolean(s"fs.$scheme.impl.disable.cache", true)
    val fs = p.getFileSystem(conf)
    fs.setVerifyChecksum(false)
    fs.setWriteChecksum(false)
    fs
  }

  private def relOf(base: String, full: String): String = {
    val b = new Path(base).toUri.getPath
    val f = new Path(full).toUri.getPath
    require(f.startsWith(b + "/"), s"$full is not under $base")
    f.substring(b.length + 1)
  }

  /** The pinned state's file set as dir-relative paths. Root tables come
    * from the ACTIVE root only (epoch dir, or the index dir at genesis) —
    * a folded-away genesis root or an uncommitted above-CURRENT epoch is
    * dead weight a snapshot must not carry.
    */
  private[graft] def liveFiles(dir: String, st: Catalog.State): Seq[String] = {
    val root = Epochs.rootOf(dir, st.epoch)
    val rootRel = st.epoch.map(e => s"$e/").getOrElse("")
    def under(p: String): Seq[String] = Fs.listFilesRecursive(p)
    val rootFiles = under(root).map(f => rootRel + relOf(root, f)).filterNot { r =>
      val rel = if (rootRel.isEmpty) r else r.substring(rootRel.length)
      // tombstone deltas are pinned explicitly below (only committed ones);
      // at genesis the root IS the index dir, so transient/maintenance
      // state and segment dirs must be excluded here
      rel.startsWith("tombstones/") ||
        (rootRel.isEmpty && (rel.startsWith("ingest_segments/") ||
          Epochs.isProtocolFile(rel) || rel.startsWith(ManifestName) || rel == DoneMarker))
    }
    val segFiles = st.segments.flatMap(s => under(s).map(f =>
      s"ingest_segments/${Fs.name(s)}/" + relOf(s, f)))
    val tombFiles = st.tombstones.flatMap(t => under(t).map(f =>
      rootRel + s"tombstones/${Fs.name(t)}/" + relOf(t, f)))
    (rootFiles ++ segFiles ++ tombFiles).sorted
  }

  /** Distributed copy `srcDir/rel → dstDir/rel` for every rel, streaming
    * each file through sha256 once. `expect` (restore path) verifies
    * length+sha against the manifest DURING the copy and fails loudly on
    * the first corrupt file.
    */
  private def copyAll(spark: SparkSession, srcDir: String, dstDir: String,
                      rels: Seq[String],
                      expect: Map[String, Entry]): Seq[Entry] = {
    if (rels.isEmpty) return Seq.empty
    // Hadoop Configuration is not Serializable — ship its entries and
    // rebuild per task (loadDefaults=true re-reads core-site etc., the
    // entries overlay session-specific settings)
    val confEntries: Array[(String, String)] = {
      val c = spark.sessionState.newHadoopConf()
      val it = c.iterator()
      val buf = Array.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += (e.getKey -> e.getValue) }
      buf.result()
    }
    val bConf = spark.sparkContext.broadcast(confEntries)
    val bExpect = spark.sparkContext.broadcast(expect)
    val slices = math.min(rels.size,
      math.max(1, spark.sparkContext.defaultParallelism * 2))
    // ONE Configuration + one (src, dst) FileSystem pair per TASK, closed in
    // a finally (ADVICE r5 item 1: the per-file uncached instances were
    // never closed — on HDFS/S3 each holds sockets/threads, leaking executor
    // resources over large snapshots; per-file construction also re-parsed
    // the full conf per copy).
    spark.sparkContext.parallelize(rels, slices).mapPartitions { relIt =>
      val conf = new Configuration()
      bConf.value.foreach { case (k, v) => conf.set(k, v) }
      val sfs = rawFs(new Path(s"$srcDir/_probe"), conf)
      val dfs = rawFs(new Path(s"$dstDir/_probe"), conf)
      val out0 = Seq.newBuilder[Entry]
      try {
        relIt.foreach { rel =>
          val src = new Path(s"$srcDir/$rel")
          val dst = new Path(s"$dstDir/$rel")
          dfs.mkdirs(dst.getParent)
          val md = java.security.MessageDigest.getInstance("SHA-256")
          val in = sfs.open(src)
          val out = dfs.create(dst, true)
          var len = 0L
          try {
            val buf = new Array[Byte](1 << 16)
            var n = in.read(buf)
            while (n >= 0) {
              if (n > 0) { md.update(buf, 0, n); out.write(buf, 0, n); len += n }
              n = in.read(buf)
            }
          } finally { in.close(); out.close() }
          val sha = md.digest().map("%02x".format(_)).mkString
          bExpect.value.get(rel).foreach { e =>
            if (e.len != len || e.sha256 != sha)
              throw new IllegalStateException(
                s"snapshot file $rel corrupt: manifest says (len=${e.len}, " +
                  s"sha=${e.sha256}), copied (len=$len, sha=$sha)")
          }
          out0 += Entry(rel, len, sha)
        }
      } finally { sfs.close(); dfs.close() }
      out0.result().iterator
    }.collect().toSeq.sortBy(_.rel)
  }

  private def writeManifest(destDir: String, epoch: Option[String],
                            fingerprint: String, entries: Seq[Entry]): Unit = {
    val head = s"graft-snapshot\tv1\t${epoch.getOrElse("genesis")}\t$fingerprint\t${entries.size}"
    val body = entries.map(e => s"${e.rel}\t${e.len}\t${e.sha256}")
    Fs.writeString(s"$destDir/$ManifestName", (head +: body).mkString("\n"))
  }

  private[graft] def readManifest(snapDir: String): (Option[String], Seq[Entry]) = {
    val text = Fs.readString(s"$snapDir/$ManifestName").getOrElse(
      sys.error(s"$snapDir has no $ManifestName — not a snapshot"))
    val lines = text.split('\n').toSeq
    val head = lines.head.split('\t')
    require(head.length == 5 && head(0) == "graft-snapshot" && head(1) == "v1",
      s"unrecognized manifest header: ${lines.head}")
    val epoch = Some(head(2)).filter(_ != "genesis")
    val entries = lines.tail.filter(_.nonEmpty).map { l =>
      val a = l.split('\t')
      require(a.length == 3, s"bad manifest line: $l")
      Entry(a(0), a(1).toLong, a(2))
    }
    require(entries.size == head(4).toInt,
      s"manifest truncated: header says ${head(4)} files, found ${entries.size}")
    (epoch, entries)
  }

  /** Snapshot the index at `dir` into `destDir` (must be absent or empty).
    * Returns the number of files captured. The completed snapshot directory
    * is itself an openable index.
    */
  def snapshot(spark: SparkSession, dir: String, destDir: String): Int = {
    require(Fs.isAbsentOrEmptyDir(destDir),
      s"snapshot destination $destDir exists and is not empty")
    Epochs.withMaintLock(dir, "snapshot") { _ =>
      Catalog.invalidate(dir) // pin a fresh read under the lock
      val st = Catalog.of(dir)
      val rels = liveFiles(dir, st)
      require(rels.nonEmpty, s"$dir has no index files to snapshot")
      val entries = copyAll(spark, dir, destDir, rels, Map.empty)
      // commit: epoch pointer (restored index opens the same root), then
      // manifest, then the done marker LAST
      st.epoch.foreach(Epochs.pointAt(destDir, _))
      writeManifest(destDir, st.epoch, st.fingerprint, entries)
      Fs.touch(s"$destDir/$DoneMarker")
      entries.size
    }
  }

  /** Restore a completed snapshot into `destDir` (must be absent or empty),
    * verifying every file's length and sha256 against the manifest during
    * the copy. Returns the number of files restored.
    */
  def restore(spark: SparkSession, snapDir: String, destDir: String): Int = {
    require(Fs.exists(s"$snapDir/$DoneMarker"),
      s"$snapDir is not a COMPLETED snapshot (no $DoneMarker) — refusing to " +
        "restore a partial copy")
    require(Fs.isAbsentOrEmptyDir(destDir),
      s"restore destination $destDir exists and is not empty")
    val (epoch, entries) = readManifest(snapDir)
    // Commit protocol (ADVICE r5 item 2: restore wrote directly into
    // destDir with no marker, so a crashed restore could later open as a
    // valid-looking index — e.g. root data present, tombstone deltas
    // missing, deleted docs silently resurrected): copy into a temp sibling
    // and make destDir exist only via the final rename — snapshot-grade
    // marker-last semantics with zero extra IO. Stale `.restoring-*`
    // siblings from crashed attempts at the SAME destination are swept
    // first (bounded: one per crashed restore of this destDir).
    val destParent = new Path(destDir).getParent.toString
    val destName = Fs.name(destDir)
    Fs.listDirs(destParent)
      .filter(d => Fs.name(d).startsWith(s".$destName.restoring-"))
      .foreach(Fs.delete)
    val tmp = s"$destParent/.$destName.restoring-${java.util.UUID.randomUUID()}"
    copyAll(spark, snapDir, tmp, entries.map(_.rel),
      entries.map(e => e.rel -> e).toMap)
    epoch.foreach(Epochs.pointAt(tmp, _))
    if (Fs.exists(destDir)) Fs.delete(destDir) // verified-empty dir above
    require(Fs.tryRename(tmp, destDir),
      s"restore commit failed: could not rename $tmp -> $destDir")
    Catalog.invalidate(destDir)
    entries.size
  }

  /** Re-hash a snapshot in place against its manifest (the ES
    * repository-verify analog). Returns the corrupt/missing rels (empty =
    * intact).
    */
  def verify(spark: SparkSession, snapDir: String): Seq[String] = {
    require(Fs.exists(s"$snapDir/$DoneMarker"),
      s"$snapDir is not a COMPLETED snapshot (no $DoneMarker)")
    val (_, entries) = readManifest(snapDir)
    val confEntries: Array[(String, String)] = {
      val c = spark.sessionState.newHadoopConf()
      val it = c.iterator()
      val buf = Array.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += (e.getKey -> e.getValue) }
      buf.result()
    }
    val bConf = spark.sparkContext.broadcast(confEntries)
    val base = snapDir
    val slices = math.min(math.max(entries.size, 1),
      math.max(1, spark.sparkContext.defaultParallelism * 2))
    // one conf + FileSystem per task, closed in finally (same leak fix as
    // copyAll)
    spark.sparkContext.parallelize(entries, slices).mapPartitions { entryIt =>
      val conf = new Configuration()
      bConf.value.foreach { case (k, v) => conf.set(k, v) }
      val fs = rawFs(new Path(s"$base/_probe"), conf)
      val bad = Seq.newBuilder[String]
      try {
        entryIt.foreach { e =>
          val p = new Path(s"$base/${e.rel}")
          if (!fs.exists(p)) bad += e.rel
          else {
            val md = java.security.MessageDigest.getInstance("SHA-256")
            val in = fs.open(p)
            var len = 0L
            try {
              val buf = new Array[Byte](1 << 16)
              var n = in.read(buf)
              while (n >= 0) {
                if (n > 0) { md.update(buf, 0, n); len += n }
                n = in.read(buf)
              }
            } finally in.close()
            val sha = md.digest().map("%02x".format(_)).mkString
            if (len != e.len || sha != e.sha256) bad += e.rel
          }
        }
      } finally fs.close()
      bad.result().iterator
    }.collect().toSeq.sorted
  }
}
