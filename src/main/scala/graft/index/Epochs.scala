package graft.index

/** The epoch commit protocol, shared by the posting index (Compactor) and
  * the IVF ANN index (Similarity) — the one place that knows it. A store's
  * genesis tables sit in its dir; after the first fold `CURRENT` names the
  * live `epoch-K` subdir, which readers resolve once per operation (`root`).
  * Marker-committed deltas are reserved by an atomic `<name>.claim`
  * (`mintDelta`); newline lists name consumed deltas that stay hidden;
  * `_MAINT` serializes maintenance (`withMaintLock`); `_gc` is the
  * deferred-delete ledger.
  *
  * Epoch commit (LevelDB CURRENT / Lucene segments_N analog,
  * `commitEpoch`): clear a stale `epoch-(cur+1)`, build the tables there,
  * write the consumed-names list, re-verify the lock and flip `CURRENT` in
  * one atomic rename, then defer the dead root to the ledger. A crash at
  * any step leaves the old state or the new one; `reconcile` removes what
  * the crash stranded and re-records what a skipped defer would have.
  */
object Epochs {

  private val Current = "CURRENT"
  private val GcLedger = "_gc"
  private val MaintLock = "_MAINT"
  private val EpochPrefix = "epoch-"
  private val ClaimSuffix = ".claim"

  val FoldedSegments = "folded_segments"
  val Replaces = "replaces"
  val FoldedAppends = "folded_appends"

  /** What one kind of store adds to the protocol: the list file each epoch
    * carries forward, the (parent, name prefix) of its deltas given
    * (dir, root), the genesis children an epoch flip makes dead, and the
    * dir-relative paths a commit has already hidden (so a crash before
    * their defer cannot leak them).
    */
  private[graft] final case class Layout(consumedList: String,
                                         deltas: (String, String) => Seq[(String, String)],
                                         deadAtGenesis: String => Boolean,
                                         hidden: String => Seq[String] = _ => Nil)

  // ---- epoch naming and root resolution ----------------------------------

  private def epochName(k: Int): String = f"$EpochPrefix$k%06d"

  private def epochNum(name: String): Option[Int] = {
    val k = name.stripPrefix(EpochPrefix)
    if (k.length < name.length && k.nonEmpty && k.forall(_.isDigit)) k.toIntOption else None
  }

  private def epochNumber(epoch: String): Int =
    epochNum(epoch).getOrElse(sys.error(s"malformed epoch name '$epoch'"))

  /** The epoch `CURRENT` names; None = genesis layout. */
  def current(dir: String): Option[String] =
    Fs.readString(s"$dir/$Current").map(_.trim).filter(_.nonEmpty)

  def rootOf(dir: String, epoch: Option[String]): String =
    epoch.map(e => s"$dir/$e").getOrElse(dir)

  def root(dir: String): String = rootOf(dir, current(dir))

  /** Make `epoch` the live root of `dir` with one atomic rename. */
  def pointAt(dir: String, epoch: String): Unit = Fs.atomicWrite(s"$dir/$Current", epoch)

  /** True for a top-level name that is protocol state, not table data: the
    * pointer, epoch dirs, the lock and the ledger.
    */
  def isProtocolFile(rel: String): Boolean =
    rel.startsWith(EpochPrefix) || rel == Current || rel == s"$Current.tmp" ||
      rel.startsWith(MaintLock) || rel == GcLedger

  def isClaim(name: String): Boolean = name.endsWith(ClaimSuffix)

  /** Deltas under `parent` whose `_DONE` has landed, sorted by name. */
  def committedDeltas(parent: String, prefix: String = ""): Seq[String] =
    Fs.listDirs(parent).filter(d => Fs.name(d).startsWith(prefix) && Fs.exists(s"$d/_DONE"))

  // ---- newline-list files ------------------------------------------------

  private def lines(s: String): Seq[String] =
    s.split('\n').map(_.trim).filter(_.nonEmpty).toSeq

  def readList(path: String): Seq[String] = Fs.readString(path).toSeq.flatMap(lines)

  def writeList(path: String, names: Iterable[String]): Unit =
    Fs.writeString(path, names.toSeq.distinct.sorted.mkString("\n"))

  // ---- deferred GC ---------------------------------------------------------
  // Dirs made invisible by a commit are NOT deleted in the same call: an
  // in-flight query (or a TTL-stale catalog, ≤2 s) may still be scanning
  // them. Their dir-relative paths go to `dir/_gc` as `path|deferredAtMs`
  // lines and are physically deleted at the START of a later maintenance op
  // once older than the grace period — the practical analog of Lucene's
  // reader-refcounted deletes without distributed reference counting.

  /** Minimum age before a deferred dir is physically deleted — must exceed
    * the Catalog TTL plus a generous query runtime, so even a reader
    * holding TTL-stale state never loses files mid-scan (back-to-back
    * auto-merges would otherwise sweep a dir deferred moments earlier).
    */
  def gcGraceMs: Long = sys.props.getOrElse("graft.gc.grace.ms", "10000").toLong

  private def entryPath(e: String): String = e.split('|').head

  private def entryAt(e: String): Long = e.split('|') match {
    case Array(_, ts) => ts.toLongOption.getOrElse(0L)
    case _ => 0L
  }

  private def aged(path: String): Boolean =
    System.currentTimeMillis() - Fs.mtime(path) >= gcGraceMs

  private[graft] def gcDefer(dir: String, relPaths: Seq[String]): Unit = {
    val now = System.currentTimeMillis()
    val entries = readList(s"$dir/$GcLedger") ++ relPaths.map(p => s"$p|$now")
    Fs.writeString(s"$dir/$GcLedger", entries.distinct.mkString("\n"))
  }

  private[graft] def gcSweep(dir: String): Unit =
    Fs.readString(s"$dir/$GcLedger").foreach { c =>
      val now = System.currentTimeMillis()
      val (ripe, young) = lines(c).partition(e => now - entryAt(e) >= gcGraceMs)
      ripe.foreach(e => Fs.delete(s"$dir/${entryPath(e)}"))
      if (young.isEmpty) Fs.delete(s"$dir/$GcLedger")
      else Fs.writeString(s"$dir/$GcLedger", young.mkString("\n"))
    }

  /** Genesis children of `dir` that `layout` declares dead once an epoch is
    * live.
    */
  private def genesisDead(dir: String, layout: Layout): Seq[String] =
    (Fs.listDirs(dir) ++ Fs.listFiles(dir)).map(Fs.name).filter(layout.deadAtGenesis)

  /** The crash-window sweep, run under the maintenance lock (so nothing it
    * touches can be in flight):
    *  - dirs a commit made dead but whose defer never ran (hidden deltas,
    *    epochs below `CURRENT`, dead genesis children) enter the ledger;
    *  - epochs above `CURRENT` (a fold that crashed before its flip — never
    *    visible, never reused) are deleted once older than the grace;
    *  - `_DONE`-less deltas (crashed commits, never visible; later commits
    *    mint fresh names) and claims whose delta dir is gone age out the
    *    same way.
    */
  private[graft] def reconcile(dir: String, layout: Layout): Unit = {
    val cur = current(dir)
    val curNum = cur.map(epochNumber).getOrElse(0)
    val inGc = readList(s"$dir/$GcLedger").map(entryPath).toSet
    val epochs = Fs.listDirs(dir).map(Fs.name).flatMap(n => epochNum(n).map(n -> _))
    val dead = layout.hidden(dir) ++ epochs.collect { case (n, k) if k < curNum => n } ++
      (if (cur.nonEmpty) genesisDead(dir, layout) else Nil)
    val undeferred = dead.distinct.filterNot(inGc)
    if (undeferred.nonEmpty) gcDefer(dir, undeferred)
    epochs.collect { case (n, k) if k > curNum => s"$dir/$n" }.filter(aged).foreach(Fs.delete)
    layout.deltas(dir, rootOf(dir, cur)).foreach { case (parent, prefix) =>
      Fs.listDirs(parent)
        .filter(d => Fs.name(d).startsWith(prefix) && !Fs.exists(s"$d/_DONE") && aged(d))
        .foreach(Fs.delete)
      Fs.listFiles(parent)
        .filter(c => Fs.name(c).startsWith(prefix) && isClaim(c) &&
          !Fs.exists(c.stripSuffix(ClaimSuffix)) && aged(c))
        .foreach(Fs.delete)
    }
  }

  // ---- delta naming --------------------------------------------------------

  /** Reserve a fresh delta dir `parent/<prefix>K` and return its path. K
    * starts past every existing name and every name in `taken` (consumed
    * names a list still hides must never be recycled); a K whose delta has
    * `_DONE` is skipped, and the reservation is an atomic `<name>.claim`
    * create — so a holder resumed after its lock was broken as stale can
    * never pick, and then clear, a peer's committed delta. `pad` = the
    * six-digit K of `del-`/`append-` names (`merged=` names are bare).
    */
  private[graft] def mintDelta(parent: String, prefix: String,
                               taken: Iterable[String] = Nil, pad: Boolean = true): String = {
    def path(k: Long) = if (pad) f"$parent/$prefix$k%06d" else s"$parent/$prefix$k"
    var k = (Fs.listDirs(parent).map(Fs.name) ++ taken)
      .flatMap(n => if (n.startsWith(prefix)) n.stripPrefix(prefix).toLongOption else None)
      .foldLeft(0L)(math.max) + 1
    while (Fs.exists(s"${path(k)}/_DONE") || !Fs.tryCreateNew(path(k) + ClaimSuffix)) k += 1
    Fs.delete(path(k)) // a crashed attempt left without its claim
    path(k)
  }

  // ---- epoch commit --------------------------------------------------------

  /** Fold `dir` from the pinned epoch `from` into the next one: `build`
    * writes the new tables under the root it is given; `consumed` names are
    * added to the carried-forward consumed list; after the flip, `dead`
    * (dir-relative) plus the old root — the old epoch dir, or the genesis
    * children the layout declares dead — go to the ledger.
    */
  private[graft] def commitEpoch(dir: String, token: String, layout: Layout,
                                 from: Option[String], consumed: Seq[String],
                                 dead: Seq[String])(build: String => Unit): Unit = {
    val next = epochName(from.map(epochNumber).getOrElse(0) + 1)
    val newRoot = s"$dir/$next"
    Fs.delete(newRoot) // stale crashed attempt, if any
    build(newRoot)
    writeList(s"$newRoot/${layout.consumedList}",
      readList(s"${rootOf(dir, from)}/${layout.consumedList}") ++ consumed)
    verifyOwnedThen(dir, token) { pointAt(dir, next) }
    Catalog.invalidate(dir)
    gcDefer(dir, dead ++ from.fold(genesisDead(dir, layout))(Seq(_)))
  }

  // ---- maintenance mutual exclusion ----------------------------------------
  // Maintenance ops must never interleave on one store (in-process or
  // cross-process): a merge committing `merged=k` from sources a concurrent
  // compact is folding would leave k live while its sources' docs are also
  // in the new epoch — every streamed doc double-counted with no error. One
  // file lock (`dir/_MAINT`, atomic create) serializes all maintenance; a
  // crashed holder's lock is broken after a staleness timeout.

  def maintLockStaleMs: Long =
    sys.props.getOrElse("graft.maint.lock.stale.ms", "600000").toLong

  /** How long a blocking maintenance op waits for the lock before failing.
    * An ingest auto-merge holds it sub-second, so contention resolves fast;
    * a long-running peer holding it past the wait is a real conflict the
    * caller must see.
    */
  def maintLockWaitMs: Long =
    sys.props.getOrElse("graft.maint.lock.wait.ms", "30000").toLong

  // every holder gets a unique token written INTO the lock file:
  // refresh/release verify ownership before touching it, so a stolen lock
  // is detected (the victim aborts) instead of silently clobbered, and a
  // breaker can confirm it is deleting the same dead holder's lock it
  // judged stale. File-based locking is inherently best-effort — at
  // multi-writer production scale this is where a real lock service (ZK, a
  // conditional put on the metastore) slots in; the protocol here makes
  // every failure LOUD rather than a silent double-commit.
  private def newToken(): String =
    s"${java.lang.management.ManagementFactory.getRuntimeMXBean.getName}|" +
      s"${java.util.UUID.randomUUID()}"

  private[graft] def tryMaintLock(dir: String): Option[String] = {
    val p = s"$dir/$MaintLock"
    def claim(): Option[String] = {
      if (!Fs.tryCreateNew(p)) None
      else {
        val tok = newToken()
        Fs.writeString(p, tok) // own file; stamps mtime + ownership
        Some(tok)
      }
    }
    claim().orElse {
      val at = Fs.mtime(p)
      if (at == 0L) claim() // released between attempts: retry once
      else if (System.currentTimeMillis() - at > maintLockStaleMs) {
        // crashed holder: break the stale lock ATOMICALLY by renaming it to
        // a per-breaker name (a delete-based break is check-then-act: two
        // waiters polling on the same cadence can both pass the staleness
        // recheck, and the slower one's delete removes the winner's freshly
        // claimed lock). Of N concurrent renames exactly one wins. Live
        // long-running holders never look stale — the heartbeat re-stamps
        // the lock at staleMs/3 cadence.
        val tok = Fs.readString(p)
        if (Fs.mtime(p) == at && Fs.readString(p) == tok) {
          val aside = s"$p.breaking.${java.util.UUID.randomUUID()}"
          if (!Fs.tryRename(p, aside)) None // another breaker won the race
          else if (Fs.readString(aside) == tok) { Fs.delete(aside); claim() }
          else {
            // we renamed a lock that was re-acquired between our recheck
            // and the rename — put it back; if someone claimed the now-
            // empty slot meanwhile, drop the aside copy (its owner's
            // heartbeat detects the loss and aborts loudly)
            if (!Fs.tryRename(aside, p)) Fs.delete(aside)
            None
          }
        } else None
      } else None
    }
  }

  /** Commit-point guard: ownership re-verified at the INSTANT of commit
    * (the heartbeat verifies only at ~staleMs/3 cadence, so a steal could
    * otherwise be detected after the commit landed) — one cheap read right
    * before every irreversible marker.
    */
  private[graft] def verifyOwnedThen(dir: String, token: String)(commit: => Unit): Unit = {
    refreshMaintLock(dir, token)
    commit
  }

  /** Re-stamp the lock while it still carries OUR token; a lost lock throws
    * (continuing after a steal is the double-commit the lock prevents).
    */
  private def refreshMaintLock(dir: String, token: String): Unit = {
    val p = s"$dir/$MaintLock"
    if (!Fs.readString(p).contains(token))
      throw new IllegalStateException(
        s"maintenance lock $p lost (broken as stale or clobbered) — aborting")
    Fs.writeString(p, token) // re-stamp mtime, keep ownership
  }

  private[graft] def releaseMaintLock(dir: String, token: String): Unit = {
    val p = s"$dir/$MaintLock"
    if (Fs.readString(p).contains(token)) Fs.delete(p)
  }

  /** Acquire the maintenance lock (bounded wait) and run `body` under it,
    * with a BACKGROUND heartbeat re-stamping the lock at staleMs/3 cadence
    * for the whole duration — a fold of any length stays visibly alive, so
    * the staleness breaker only ever fires on dead holders. The
    * opportunistic `mergeSegments` uses `tryMaintLock` instead and skips.
    */
  private[graft] def withMaintLock[T](dir: String, what: String)(body: String => T): T = {
    val deadline = System.currentTimeMillis() + maintLockWaitMs
    var token = tryMaintLock(dir)
    while (token.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      token = tryMaintLock(dir)
    }
    require(token.nonEmpty, s"another maintenance op holds $dir/$MaintLock ($what " +
      "would interleave with it — concurrent maintenance on one index dir " +
      "can double-count docs)")
    val tok = token.get
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val fail = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val beat = new Thread(() => {
      val period = math.max(maintLockStaleMs / 3, 1000L)
      while (!stop.get()) {
        try refreshMaintLock(dir, tok)
        catch { case t: Throwable => fail.set(t); stop.set(true) }
        var slept = 0L
        while (!stop.get() && slept < period) { Thread.sleep(100); slept += 100 }
      }
    }, "graft-maint-heartbeat")
    beat.setDaemon(true)
    beat.start()
    try {
      val r = body(tok)
      // a heartbeat that detected a steal means our commits are suspect —
      // surface it even if the body happened to finish
      if (fail.get() != null) throw fail.get()
      r
    } finally {
      stop.set(true)
      beat.join(2000)
      releaseMaintLock(dir, tok)
    }
  }
}
