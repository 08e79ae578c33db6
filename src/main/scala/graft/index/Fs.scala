package graft.index

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, LocatedFileStatus, Options, Path}
import org.apache.spark.sql.SparkSession

/** Driver-side filesystem helpers routed through Hadoop's FileSystem API, so
  * markers (`_DONE`, `_STAGE_*`, `CURRENT`), segment listings and the
  * compaction pointer flip work identically on local disk, HDFS and object
  * stores — the index's durability/visibility protocol must not silently
  * no-op off the laptop. All callers are on the driver (markers are never
  * consulted inside tasks), so resolving the Hadoop conf from the active
  * session is safe.
  */
object Fs {

  private def conf: Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** Test seam: called with (operation, path) before every mutation this
    * object makes — `touch`, `writeString`, `atomicWrite` (before its
    * rename), `delete`, `tryCreateNew`, `tryRename` — so a test can count a
    * protocol's filesystem steps, throw at any one of them, or interleave a
    * peer's writes at an exact instant.
    */
  @volatile private[graft] var beforeMutation: (String, String) => Unit = (_, _) => ()

  private def fsOf(path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(conf), p)
  }

  def exists(path: String): Boolean = {
    val (fs, p) = fsOf(path)
    fs.exists(p)
  }

  /** Create an empty marker file (parents created). Marker writes are the
    * LAST step of every commit protocol — readers treat their absence as
    * "not there yet".
    */
  def touch(path: String): Unit = {
    beforeMutation("touch", path)
    val (fs, p) = fsOf(path)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    out.close()
  }

  /** A protocol text file's file system: the raw one under a checksummed
    * file system (Hadoop's local one), plus the checksum sidecar an older
    * write may have left. A checksummed rewrite writes the file and its
    * `.crc` as two files, so two overlapping rewrites (a lock holder's
    * heartbeat and a stealer) can leave them from different writes, and a
    * reader in another process then fails with a ChecksumException instead
    * of reading a token. `_MAINT`, `CURRENT`, the lists and `_gc` are small,
    * written whole and read whole, so they carry none.
    */
  private def rawOf(path: String): (FileSystem, Path, Option[Path]) = fsOf(path) match {
    case (c: ChecksumFileSystem, p) => (c.getRawFileSystem, p, Some(c.getChecksumFile(p)))
    case (fs, p) => (fs, p, None)
  }

  /** Write a text file whole, with no checksum sidecar (`rawOf`); a
    * sidecar an older write left is removed first.
    */
  def writeString(path: String, s: String): Unit = {
    beforeMutation("writeString", path)
    val (fs, p, crc) = rawOf(path)
    fs.mkdirs(p.getParent)
    crc.foreach(fs.delete(_, false))
    val out = fs.create(p, true)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
  }

  /** A text file written by `writeString` or `atomicWrite`, read raw: no
    * checksum is checked.
    */
  def readString(path: String): Option[String] = {
    val (fs, p, _) = rawOf(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
        Some(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** Child FILES of `path` (non-recursive), sorted by name — fully
    * qualified path strings, like listDirs.
    */
  def listFiles(path: String): Seq[String] = {
    val (fs, p) = fsOf(path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isFile).map(_.getPath.toString).sorted.toSeq
  }

  /** Data files directly under `path` (or, if `recursive`, anywhere below
    * it) with their block locations, sorted by path — statuses a Spark file
    * index can take without listing again. Names starting with `_` or `.`
    * (markers, checksums, `_temporary`) are not data, as in Spark's
    * listing. Each status is built the way Spark's listing builds it: the
    * copying LocatedFileStatus constructor reads the file's permission,
    * which on the local file system forks a process per file.
    */
  def listLocatedFiles(path: String, recursive: Boolean = false): Seq[LocatedFileStatus] = {
    val (fs, p) = fsOf(path)
    def walk(dir: Path): Seq[LocatedFileStatus] = fs.listStatus(dir).toSeq.flatMap { s =>
      val n = s.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Nil
      else if (s.isDirectory) { if (recursive) walk(s.getPath) else Nil }
      else Seq(new LocatedFileStatus(s.getLen, false, s.getReplication, s.getBlockSize,
        s.getModificationTime, 0L, null, null, null, null, s.getPath, false, false, false,
        fs.getFileBlockLocations(s, 0L, s.getLen)))
    }
    if (!fs.exists(p)) Seq.empty else walk(p).sortBy(_.getPath.toString)
  }

  /** ALL descendant files of `path` (recursive), sorted — fully-qualified
    * path strings. Driver-side only, like every Fs call: used by the
    * snapshot protocol to enumerate an index's pinned file set (one
    * recursive listing per snapshot, not per query).
    */
  def listFilesRecursive(path: String): Seq[String] = {
    val (fs, p) = fsOf(path)
    if (!fs.exists(p)) Seq.empty
    else {
      val buf = Seq.newBuilder[String]
      val it = fs.listFiles(p, true)
      while (it.hasNext) buf += it.next().getPath.toString
      buf.result().sorted
    }
  }

  /** Child directories of `path` (non-recursive), sorted by name. Returns
    * fully-qualified path strings (scheme included on non-local FS) — safe
    * to hand to `spark.read.parquet`.
    */
  def listDirs(path: String): Seq[String] = {
    val (fs, p) = fsOf(path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.toString).sorted.toSeq
  }

  /** True when `path` is absent or an empty directory. */
  def isAbsentOrEmptyDir(path: String): Boolean = {
    val (fs, p) = fsOf(path)
    !fs.exists(p) || fs.listStatus(p).isEmpty
  }

  def mkdirs(path: String): Unit = {
    val (fs, p) = fsOf(path)
    fs.mkdirs(p)
    ()
  }

  def delete(path: String): Unit = {
    beforeMutation("delete", path)
    val (fs, p) = fsOf(path)
    fs.delete(p, true)
    ()
  }

  /** Atomic pointer flip: write `content` to a sibling temp file, then
    * rename it over `path` (Options.Rename.OVERWRITE — single metadata op on
    * HDFS/local; the strongest primitive an object store offers). This is
    * the LevelDB-CURRENT / Lucene-segments_N commit: one rename makes a new
    * epoch and everything it implies visible together.
    */
  def atomicWrite(path: String, content: String): Unit = {
    val tmp = s"$path.tmp"
    writeString(tmp, content)
    beforeMutation("atomicWrite", path)
    // the rename moves no sidecar: drop one an older write left on `path`
    rawOf(path) match { case (fs, _, crc) => crc.foreach(fs.delete(_, false)) }
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(new Path(path).toUri, conf)
    fc.rename(new Path(tmp), new Path(path), Options.Rename.OVERWRITE)
  }

  /** Atomic create-if-absent (parents created): true iff this call created
    * the file — the lock-acquisition primitive (Hadoop's createNewFile is
    * atomic on HDFS/local; object stores degrade to best-effort, where the
    * staleness timeout still bounds the damage). Only "already exists"
    * means false: any other I/O error (a name too long, a permission)
    * propagates, or a claim loop would step past it forever.
    */
  def tryCreateNew(path: String): Boolean = {
    beforeMutation("tryCreateNew", path)
    val (fs, p) = fsOf(path)
    fs.mkdirs(p.getParent)
    try fs.createNewFile(p)
    catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
  }

  /** Atomic no-overwrite rename: true iff `src` was moved to `dst`. The
    * lock-BREAK primitive (Epochs.tryMaintLock): renaming a stale lock
    * aside is atomic, so of two concurrent breakers exactly one wins — the
    * loser's rename fails because the source is gone (a delete-based break
    * is check-then-act: the slower breaker can delete the winner's freshly
    * claimed lock and let two maintenance ops run). Routed through
    * FileContext WITHOUT the OVERWRITE option so an existing destination
    * fails: FileSystem.rename on the local filesystem maps to POSIX
    * rename(2), which silently REPLACES the destination — exactly what the
    * lock put-back path must never do to a freshly claimed lock. Only the
    * two lost races mean false — the destination exists, or the source is
    * gone; any other I/O error propagates.
    */
  def tryRename(src: String, dst: String): Boolean = {
    beforeMutation("tryRename", src)
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        new Path(src).toUri, conf)
      fc.rename(new Path(src), new Path(dst))
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException | _: java.io.FileNotFoundException => false
    }
  }

  /** Footer (schema, row groups and their column statistics) of one
    * listed parquet file. The read options take the session's Hadoop conf:
    * parquet's conf-less default builds a fresh Configuration, which loads
    * its resources on every open.
    */
  def parquetFooter(status: FileStatus): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val c = conf
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, c),
      org.apache.parquet.HadoopReadOptions.builder(c).build())
    try r.getFooter finally r.close()
  }

  /** Last path component (works for both `file:/x/y` and `/x/y`). */
  def name(path: String): String = new Path(path).getName

  /** Delete the siblings of a stamped artifact dir `<prefix>-<stamp>` that
    * carry a DIFFERENT stamp — a source or index-state change mints a fresh
    * stamped dir, and the old stamp's tree is dead; without this, tmp
    * accumulates one copy per change. A sibling's stamp is its name after
    * `<prefix>-` up to the next '-' or the end, so `<prefix>-<stamp>-<tag>`
    * fixtures of the current stamp are kept (the prefix and the stamp hold
    * no other '-'). Called only when a build is about to run, so queries
    * never pay the listing.
    */
  def sweepStaleStamps(dir: String): Unit = {
    val name0 = name(dir)
    val cut = name0.lastIndexOf('-') + 1
    val (prefix, stamp) = name0.splitAt(cut)
    listDirs(new Path(dir).getParent.toString)
      .filter { d =>
        val n = name(d)
        n.startsWith(prefix) && n.substring(cut).takeWhile(_ != '-') != stamp
      }
      .foreach(delete)
  }

  /** Content fingerprint of a source file/dir: mixes every immediate child
    * file's (name, mtime, length) — strictly stronger than the dir mtime,
    * which has coarse (often 1 s) granularity on many filesystems, so a
    * same-tick delete+rewrite of a parquet table kept the same stamp and a
    * stale cached plan was served (ADVICE r4). Non-recursive by design:
    * parquet tables are flat part-file dirs, and every rewrite touches the
    * part files and _SUCCESS.
    */
  def sourceStamp(path: String): Long = {
    val (fs, p) = fsOf(path)
    if (!fs.exists(p)) return 0L
    val st = fs.getFileStatus(p)
    var acc = st.getModificationTime * 1000003L ^ st.getLen
    if (st.isDirectory) {
      fs.listStatus(p).foreach { c =>
        var x = c.getPath.getName.hashCode.toLong * 0x9e3779b97f4a7c15L
        x ^= c.getModificationTime + 0xbf58476d1ce4e5b9L * c.getLen
        x = (x ^ (x >>> 30)) * 0x94d049bb133111ebL
        acc ^= x ^ (x >>> 31)
      }
    }
    acc
  }

  /** Modification time (ms) of a file, 0 if absent — a cheap build
    * fingerprint for marker files (`_DONE`): a rebuild rewrites the marker,
    * so caches keyed on the mtime can never serve a deleted build's files.
    */
  def mtime(path: String): Long = {
    val (fs, p) = fsOf(path)
    if (fs.exists(p)) fs.getFileStatus(p).getModificationTime else 0L
  }
}
