package graft.index

/** Driver-side catalog of an index directory's ACTIVE state: which epoch
  * root is current (compaction flips `CURRENT`, Epochs.scala) and which
  * streamed segments are live (completed, not yet folded).
  *
  * Why a cache: every query needs this state, and resolving it costs
  * filesystem metadata calls (read CURRENT, list ingest_segments, stat each
  * _DONE) — per-query listing is fine on local disk but a metadata storm on
  * an object store. State changes only when a segment lands or a compaction
  * commits, so the catalog memoizes per index dir and is INVALIDATED by the
  * in-process writers (StreamingIngest.appendSegment, Compactor.compact); a
  * short TTL re-checks for out-of-process writers (another ingest job
  * appending to the same index). One listing per segment change + TTL tick,
  * not one per query.
  */
object Catalog {

  /** `epoch` = active epoch dir name under the index dir (None = genesis
    * layout, tables directly under the dir). `segments` = completed,
    * un-folded streamed segment paths. `hidden` = segment NAMES permanently
    * excluded by the current epoch's folded list or a live merged segment's
    * replaces list — a new segment must never reuse one of these names
    * (it would be invisible forever). `tombstones` = committed tombstone
    * delta dirs under the active root (docIds deleted from query results
    * until a compaction drops them physically — Compactor.tombstone).
    * `fingerprint` keys every downstream cache (postings/stats/df/deletes)
    * — any segment arrival, compaction, tombstone commit, or same-dir
    * rebuild changes it.
    */
  final case class State(epoch: Option[String], segments: Seq[String],
                         hidden: Set[String], tombstones: Seq[String],
                         fingerprint: String)

  private final case class Entry(atMs: Long, state: State)
  private val cache = scala.collection.concurrent.TrieMap.empty[String, Entry]

  def ttlMs: Long = sys.props.getOrElse("graft.catalog.ttl.ms", "2000").toLong

  /** Called by every in-process mutation (segment commit, compaction). */
  def invalidate(dir: String): Unit = {
    cache.remove(dir)
    ()
  }

  def of(dir: String): State = {
    val now = System.currentTimeMillis()
    cache.get(dir) match {
      case Some(e) if now - e.atMs < ttlMs => e.state
      case _ =>
        val st = load(dir)
        cache.put(dir, Entry(now, st))
        st
    }
  }

  private def load(dir: String): State = {
    val epoch = Epochs.current(dir)
    val root = Epochs.rootOf(dir, epoch)
    // Segments the current epoch already folded in: excluded from reads the
    // instant CURRENT flips (their docs live in the epoch's tables); the
    // directories themselves are deleted lazily by the compactor.
    val folded = Epochs.readList(s"$root/${Epochs.FoldedSegments}").toSet
    val completed = Epochs.committedDeltas(s"$dir/ingest_segments")
    // Minor compaction (Compactor.mergeSegments): a completed merged
    // segment's `replaces` file hides its source segments the moment its
    // _DONE lands — same one-marker visibility flip as the epoch pointer.
    val replaced = completed.flatMap(d => Epochs.readList(s"$d/${Epochs.Replaces}")).toSet
    val segs = completed.filter(d => !folded(Fs.name(d)) && !replaced(Fs.name(d)))
    // committed tombstone deltas (marker-gated like segments); epoch-scoped
    // — docIds are re-ranked at each fold, so a new epoch starts clean
    val tombs = Epochs.committedDeltas(s"$root/tombstones")
    // stamp the fingerprint with the postings-stage marker mtime: a
    // delete+rebuild of the SAME dir (create-index --force + export in one
    // session) would otherwise fingerprint identically and serve the old
    // corpus's cached blocks/df/stats — the same stale-cache class the IVF
    // mtime key fixes (Similarity.ivfKey)
    val stamp = Fs.mtime(s"$root/_STAGE_postings")
    State(epoch, segs, folded ++ replaced, tombs,
      s"${epoch.getOrElse("genesis")}:$stamp:${segs.size}:${segs.hashCode.toHexString}" +
        s":${tombs.size}:${tombs.hashCode.toHexString}")
  }
}
