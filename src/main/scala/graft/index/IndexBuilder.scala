package graft.index

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StructType}
import graft.analyze.Analyzer
import graft.query.Bm25

/** Inverted-index build pipeline (SURVEY.md §7.2 M2–M4, north rule).
  *
  * Stages (each a checkpointed table under `indexDir/` with lineage rows —
  * a failed/killed build resumes at the first incomplete stage):
  *
  *   corpus ──► docmeta  (docId assignment + dl + sha256)
  *          ──► stats    (N, avgdl — needed before postings: maxImpact)
  *          ──► postings (salted repartition → sortWithinPartitions →
  *                        one-pass block build in mapPartitions)
  *          ──► termstats(df per term + global term max impact)
  *
  * Scale design notes (the 100 TB story):
  *  - docIds are a global dense rank over the unique key
  *    (repo, path, commit): one range-shuffle sort + a count-per-partition
  *    pass (`zipWithIndex`) — the standard two-pass scalable pattern. Never
  *    partition-derived → identical ids at any parallelism (§7.4 item 1).
  *  - tokenization computes per-doc tf locally (map-side combine): shuffle
  *    rows = distinct (term, doc) pairs, not token occurrences.
  *  - salt = docId-range bucket: a hot term ("the") is split across S
  *    contiguous docId ranges, so no reducer owns a whole Zipfian list, and
  *    the per-(term,salt) partials concatenate into the global list with
  *    zero re-encoding (blocks carry absolute firstDocId). Query-side, the
  *    same salt ranges are independent sub-indexes → per-salt WAND + tiny
  *    global top-k merge.
  *  - postings are written range-partitioned on (term, salt) and sorted
  *    by (term, salt, docId) inside each file (TermRanges): every file
  *    covers one contiguous term range, so a term probe first eliminates
  *    the files whose footer [min, max] cannot hold its terms
  *    (Snapshot.postingsOf), then parquet row-group min/max prunes inside
  *    the files it reads — the built-in analog of a term dictionary.
  */
object IndexBuilder {

  /** Tuning knobs. `salts` is the MINIMUM salt count; the effective count
    * grows with corpus size (one salt per ~`docsPerSalt` docs, capped) so a
    * hot term's per-reducer list — and the per-group WAND working set — is
    * bounded by docsPerSalt postings regardless of N: at 1000 executors a
    * hot-term query gets N/docsPerSalt-way parallelism, not `salts`-way.
    * `partitions` is the shuffle width (set ≈ cluster cores).
    */
  final case class Config(salts: Int = 8, partitions: Int = 0,
                          mode: Analyzer.Mode = Analyzer.Simple,
                          docsPerSalt: Long = 250000L)

  def effectiveSalts(cfg: Config, n: Long): Int =
    math.max(cfg.salts,
      math.min((n + cfg.docsPerSalt - 1) / math.max(cfg.docsPerSalt, 1L), 65536L).toInt)

  final case class Handle(dir: String, mode: Analyzer.Mode) {

    /** One CONSISTENT view of the index, resolved from a single
      * Catalog.State — root, segment set and fingerprint all come from the
      * same snapshot. Multi-part query paths (Searcher.topK, Phrase.search)
      * resolve one Snapshot per query: composing them from separate
      * Catalog.of calls could pair an old epoch root with a post-fold
      * segment list (streamed docs silently missing) or vice versa
      * (double-counted) when a compaction commits mid-query (ADVICE r3
      * item 1).
      */
    def snapshot: Snapshot = Snapshot(dir, mode, Catalog.of(dir))

    // Single-part accessors delegate to a fresh snapshot each — every one
    // of these derives ALL its paths from that one snapshot internally.
    def root: String = snapshot.root
    def segmentDirs: Seq[String] = snapshot.segmentDirs
    def segmentFingerprint: String = snapshot.fingerprint
    def docmeta(spark: SparkSession): Dataset[DocMeta] = snapshot.docmeta(spark)
    def postings(spark: SparkSession): Dataset[PostingBlock] = snapshot.postings(spark)
    def termstats(spark: SparkSession): Dataset[TermStat] = snapshot.termstats(spark)
    def stats(spark: SparkSession): IndexStats = snapshot.stats(spark)
    def lineage(spark: SparkSession): Dataset[LineageRow] = snapshot.lineage(spark)
    def positions(spark: SparkSession): Dataset[PositionsRow] = snapshot.positions(spark)
    def positionsAll(spark: SparkSession): Dataset[PositionsRow] = snapshot.positionsAll(spark)
    def postingsAll(spark: SparkSession): Dataset[PostingBlock] = snapshot.postingsAll(spark)
    def docmetaAll(spark: SparkSession): Dataset[DocMeta] = snapshot.docmetaAll(spark)
    def liveStats(spark: SparkSession): (IndexStats, Double) = snapshot.liveStats(spark)
    def dfFor(spark: SparkSession, terms: Seq[String]): Map[String, Long] =
      snapshot.dfFor(spark, terms)
  }

  /** Declared schemas of the index tables, taken from the model's
    * encoders. Every index read passes one (`readTable`): a parquet read
    * without a schema launches a one-task schema-inference job (it opens a
    * footer) before any real work. Columns resolve by NAME, so the files
    * of every format version read identically; a column a file lacks
    * reads as null (see readStatsCompat — `Stats.buildAvgdl` is nullable
    * for pre-v3 files).
    */
  object Tables {
    val Docmeta: StructType = Encoders.product[DocMeta].schema
    val Postings: StructType = Encoders.product[PostingBlock].schema
    val Termstats: StructType = Encoders.product[TermStat].schema
    val Positions: StructType = Encoders.product[PositionsRow].schema
    val Lineage: StructType = Encoders.product[LineageRow].schema
    val Stats: StructType =
      StructType(Encoders.product[IndexStats].schema.map(_.copy(nullable = true)))
    val TombstoneIds: StructType = new StructType().add("docId", LongType)

    /** The table a build stage writes (`dir/<stage>`). */
    def ofStage(stage: String): StructType = stage match {
      case "docmeta" => Docmeta
      case "postings" => Postings
      case "termstats" => Termstats
      case "stats" => Stats
    }
  }

  /** One multi-path parquet read of an index table with its declared schema. */
  def readTable(spark: SparkSession, schema: StructType, paths: Seq[String]): DataFrame =
    spark.read.schema(schema).parquet(paths: _*)

  /** The relation `readTable` resolves for the `listed` files plus
    * `paths`, built from a file index of exactly those: the listed files
    * keep their statuses, so only `paths` are listed, and DataSource's
    * per-call path globbing and existence checks (each on a new thread
    * pool) are skipped. A query reading a subset of listed files thus
    * makes no filesystem call and starts no thread. For paths known to
    * exist (listed or committed ones).
    */
  def readFiles(spark: SparkSession, schema: StructType, listed: Seq[FileStatus],
                paths: Seq[String]): DataFrame = {
    val known = listed.map(s => s.getPath -> Array(s)).toMap
    val statuses = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = known.get(path)
      override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, listed.map(_.getPath) ++ paths.map(new Path(_)),
      Map.empty, Some(schema), statuses)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema, schema,
      None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** An immutable view of one Catalog.State: every accessor derives from the
    * SAME (epoch, segments, fingerprint) triple, so a query assembled from
    * several of these reads one consistent index state no matter what
    * commits concurrently (segment arrival, minor merge, epoch fold).
    *
    * What is derived from the state — the batch ∪ segments relations,
    * footer ranges, live stats, delete set, df and block memos — lives in
    * its `Live` (Live.scala), resolved once per (session, dir,
    * fingerprint): nothing derived can change without the fingerprint
    * changing (every commit and every stage rewrite stamps it —
    * Catalog.scala), so a cold query pays only its pruned scan.
    */
  final case class Snapshot(dir: String, mode: Analyzer.Mode, state: Catalog.State) {

    @transient @volatile private var pinned: Live = null
    private[index] def pin(live: Live): Unit = pinned = live

    /** This state's Live in `spark`'s session, resolved through the memo
      * on first use and then kept: a query reading through one Snapshot
      * reads one Live, whatever commits meanwhile.
      */
    private[graft] def live(spark: SparkSession): Live = {
      val l = pinned
      if (l != null && (l.spark eq spark)) l else LiveMemo.Default.of(spark, this)
    }

    /** Active table root: `dir` itself (genesis layout) until a compaction
      * has committed, then the epoch directory named by `dir/CURRENT`
      * (Epochs.scala).
      */
    def root: String = Epochs.rootOf(dir, state.epoch)

    /** Completed, un-folded streamed segments (marker-gated: a half-written
      * replayed batch is invisible until its _DONE lands; segments folded by
      * the current epoch's compaction are excluded — Catalog.scala).
      */
    def segmentDirs: Seq[String] = state.segments

    /** Fingerprint of the searchable (epoch, segment set) — cache keys
      * include it so a new segment or a compaction invalidates cached
      * postings/stats.
      */
    def fingerprint: String = state.fingerprint

    def docmeta(spark: SparkSession): Dataset[DocMeta] = {
      import spark.implicits._
      readTable(spark, Tables.Docmeta, Seq(s"$root/docmeta")).as[DocMeta]
    }
    def postings(spark: SparkSession): Dataset[PostingBlock] = {
      import spark.implicits._
      readTable(spark, Tables.Postings, Seq(s"$root/postings")).as[PostingBlock]
    }
    def termstats(spark: SparkSession): Dataset[TermStat] = {
      import spark.implicits._
      readTable(spark, Tables.Termstats, Seq(s"$root/termstats")).as[TermStat]
    }
    def stats(spark: SparkSession): IndexStats =
      readStatsCompat(spark, Seq(s"$root/stats")).head
    def lineage(spark: SparkSession): Dataset[LineageRow] = {
      import spark.implicits._
      readTable(spark, Tables.Lineage, Seq(s"$root/lineage/*")).as[LineageRow]
    }

    /** Positional postings (present only after buildPositions). */
    def positions(spark: SparkSession): Dataset[PositionsRow] = {
      import spark.implicits._
      readTable(spark, Tables.Positions, Seq(s"$root/positions")).as[PositionsRow]
    }

    /** Positional postings over batch ∪ streamed segments (segments always
      * carry positions — StreamingIngest writes them per batch; the batch
      * stage is an EXPLICIT build, so fail loudly rather than silently
      * dropping phrase matches — see buildPositions / Cli `export
      * --positions`).
      */
    def positionsAll(spark: SparkSession): Dataset[PositionsRow] = {
      import spark.implicits._
      require(Fs.exists(s"$root/positions"),
        s"no positional index at $dir — run `export --positions` / IndexBuilder.buildPositions first")
      val segs = segmentDirs.map(_ + "/positions")
      segs.foreach(p => require(Fs.exists(p),
        s"streamed segment lacks positions: $p"))
      readTable(spark, Tables.Positions, s"$root/positions" +: segs).as[PositionsRow]
    }

    /** Batch postings ∪ all completed streamed segments' postings — ONE
      * multi-path parquet read (same schema; segment salt ids live in a
      * disjoint namespace, so per-salt groups stay disjoint docId ranges).
      */
    def postingsAll(spark: SparkSession): Dataset[PostingBlock] = {
      import spark.implicits._
      live(spark).postings.as[PostingBlock]
    }

    /** Footer term ranges of the root's postings files, read once per
      * root fingerprint (Live.rootRanges; they hold no session state, so
      * the active session's Live keeps them).
      */
    def rootRanges: Seq[TermRanges.FileRange] = live(SparkSession.active).rootRanges

    /** The postings of `terms` — every term-filtered postings read goes
      * through here. The relation is the root files whose footer term range
      * can hold one of `terms` (a file without term statistics always
      * qualifies) plus every live segment's blocks, filtered on
      * `term isin terms`; parquet row-group statistics then prune inside
      * the files read. No qualifying file ⇒ an empty Dataset, which runs
      * no job. The relation is built per call from the root files'
      * statuses, listed with their ranges (`readFiles`): no filesystem call
      * for root files, and a cost that does not depend on which file
      * subsets earlier queries read.
      */
    def postingsOf(spark: SparkSession, terms: Seq[String]): Dataset[PostingBlock] = {
      import spark.implicits._
      val keys = terms.map(TermRanges.utf8)
      val picked = live(spark).rootRanges.filter(r => keys.exists(r.mayHold)).map(_.status)
      val segments = segmentDirs.map(_ + "/blocks")
      if (picked.isEmpty && segments.isEmpty) spark.emptyDataset[PostingBlock]
      else readFiles(spark, Tables.Postings, picked, segments)
        .filter(col("term").isin(terms: _*)).as[PostingBlock]
    }

    /** Batch docmeta ∪ streamed segments' docmeta. */
    def docmetaAll(spark: SparkSession): Dataset[DocMeta] = {
      import spark.implicits._
      live(spark).docmeta.as[DocMeta]
    }

    /** Live corpus stats and the WAND bound factor (Live.stats). */
    def liveStats(spark: SparkSession): (IndexStats, Double) = live(spark).stats

    /** Term dictionary over batch ∪ streamed segments — one multi-path read;
      * a term present in several sources appears once per source (callers
      * sum df). The batch table is range-sorted on `term` at build time, so
      * pushed term predicates (equality, IN, prefix) prune to the matching
      * row groups instead of scanning the vocabulary.
      */
    def termstatsAll(spark: SparkSession): Dataset[TermStat] = {
      import spark.implicits._
      live(spark).termstats.as[TermStat]
    }

    /** Per-term df over batch + segments (query terms only; tiny). */
    def dfFor(spark: SparkSession, terms: Seq[String]): Map[String, Long] = {
      import org.apache.spark.sql.functions.col
      termstatsAll(spark)
        .filter(col("term").isin(terms: _*))
        .collect().groupBy(_.term).map { case (t, rows) => t -> rows.map(_.df).sum }
    }

    /** Committed tombstone delta dirs (Compactor.tombstone) — docIds the
      * Searcher must exclude until the next compaction drops them.
      */
    def tombstoneDirs: Seq[String] = state.tombstones

    /** The delete set as a SORTED docId array — the broadcast-friendly
      * Lucene live-docs analog (`binarySearch < 0` = live). Bounded by
      * `graft.tombstones.maxResident` (default 10M ≈ 80 MB): the set is
      * broadcast to every WAND task, and between compactions it is expected
      * small — a pipeline that tombstones a larger fraction should compact,
      * which purges the set entirely; exceeding the bound fails loudly with
      * that instruction rather than silently shipping an unbounded
      * broadcast.
      */
    def tombstoneIds(spark: SparkSession): Array[Long] = {
      val dirs = tombstoneDirs
      if (dirs.isEmpty) Array.emptyLongArray
      else {
        import spark.implicits._
        val cap = sys.props.getOrElse("graft.tombstones.maxResident", "10000000").toInt
        val ids = readTable(spark, Tables.TombstoneIds, dirs.map(_ + "/ids"))
          .distinct()
          .limit(cap + 1).as[Long].collect()
        require(ids.length <= cap,
          s"tombstone set exceeds $cap resident docIds — run Compactor.compact " +
            "to purge deletes (or raise -Dgraft.tombstones.maxResident)")
        java.util.Arrays.sort(ids)
        ids
      }
    }
  }

  /** Stats rows of every path in ONE multi-path read (one job, whatever
    * the number of sources), tolerant of pre-v3 files that have no
    * `buildAvgdl` column: those builds computed block maxima at the exact
    * avgdl, so buildAvgdl = avgdl reconstructs the identical semantics.
    * The declared schema makes the column nullable and the parquet reader
    * resolves it per FILE — null where a file lacks it, the file's own
    * value where it has it — so `coalesce(buildAvgdl, avgdl)` is exact for
    * every row of a mixed v2/v3 read: a v3 source's real (smaller)
    * buildAvgdl is never overwritten, which would under-scale the WAND
    * bound.
    */
  private[index] def readStatsCompat(spark: SparkSession, paths: Seq[String]): Array[IndexStats] = {
    import spark.implicits._
    readTable(spark, Tables.Stats, paths)
      .select(col("n"), col("avgdl"), col("totalTokens"),
        coalesce(col("buildAvgdl"), col("avgdl")).as("buildAvgdl"))
      .as[IndexStats].collect()
  }

  /** Open an existing index, reading back the analyzer mode persisted by
    * `build` (reference analog: the index carries its analysis config the
    * way an ES index carries its mappings, es/indices.go).
    */
  def openHandle(dir: String): Handle = {
    // missing file = legacy index → Simple; an unrecognized PERSISTED name
    // fails loudly in Analyzer.modeOf (searching with the wrong tokenizer
    // would silently return wrong results).
    val mode = Fs.readString(s"$dir/analyzer_mode")
      .map(s => Analyzer.modeOf(s.trim))
      .getOrElse(Analyzer.Simple)
    Handle(dir, mode)
  }

  /** Id-assigned rows plus the exact row count (free — the two-pass scheme
    * counts per partition anyway, so callers never need a separate count()
    * job) and a cache-release callback (the range-sorted dataset is
    * persisted so the count pass and every consumer share one shuffle+sort).
    */
  final case class Assigned(df: DataFrame, n: Long, release: () => Unit)

  /** Deterministic docId assignment: dense rank over the unique sort key —
    * the standard two-pass scalable pattern (range-sort, count per
    * partition, cumulative offsets, per-partition index), expressed
    * entirely in column expressions: the per-partition index is
    * `monotonically_increasing_id() & (2^33-1)` (Spark defines mii as
    * pid<<33 | rowIndexInPartition) plus the partition's cumulative offset
    * looked up from a literal array by `spark_partition_id()`. No object
    * round-trip, no single-partition window — the projection stays in
    * whole-stage codegen over the columnar cache. The cached sorted plan
    * pins the range boundaries, so both passes (and any cache-eviction
    * recompute, which replays the same RDD graph + partitioner) see
    * identical partitioning — ids are a pure function of the data
    * (§7.4 item 1).
    */
  def assignDocIds(spark: SparkSession, corpus: Dataset[CorpusDoc], partitions: Int,
                   cacheLevel: Option[String] = None): Assigned = {
    val a = withDenseIds(spark, corpus.toDF(), partitions,
      Seq("repo", "path", "commit"), "docId", cacheLevel)
    a.copy(df = a.df.select("docId", "repo", "path", "commit", "lang", "content"))
  }

  /** The general two-pass dense-id primitive behind assignDocIds: range-sort
    * `input` by `keys`, count per partition, cumulative offsets, then
    * `idCol` = offset + per-partition row index — all column expressions
    * (see assignDocIds' scaladoc for why this is deterministic at any
    * parallelism). Also used by the compactor to re-rank the batch∪segments
    * union without touching content.
    */
  def withDenseIds(spark: SparkSession, input: DataFrame, partitions: Int,
                   keys: Seq[String], idCol: String,
                   cacheLevel: Option[String] = None): Assigned = {
    import spark.implicits._
    val sorted = input
      .repartitionByRange(partitions, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
      // DISK_ONLY measured better than MEMORY_AND_DISK for this transient
      // shared sort (A/B: eff_2_8 0.865 vs 0.841, +2% wide throughput, no
      // narrow cost): the build's own tokenize/encode
      // passes are allocation-heavy, so keeping the cached batches out of
      // the on-heap store trades cheap page-cache-backed disk reads for
      // execution memory + GC headroom. On a cluster the same logic holds
      // (executor local disks; a transient build artifact should not
      // compete with execution memory). Overridable for diskless setups.
      .persist(org.apache.spark.storage.StorageLevel.fromString(
        cacheLevel.getOrElse(
          sys.props.getOrElse("graft.build.cacheLevel", "DISK_ONLY"))))
    val counts = sorted.groupBy(spark_partition_id().as("pid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val maxPid = if (counts.isEmpty) 0 else counts.keys.max + 1
    val offsets = new Array[Long](math.max(partitions, maxPid))
    var acc = 0L
    var p = 0
    while (p < offsets.length) {
      offsets(p) = acc
      acc += counts.getOrElse(p, 0L)
      p += 1
    }
    val df = sorted.select(
      (element_at(typedLit(offsets.toSeq), spark_partition_id() + 1) +
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1))).as(idCol)
        +: input.columns.map(col): _*)
    Assigned(df, acc, () => { sorted.unpersist(blocking = false); () })
  }

  private def hashRow(parts: Any*): Long =
    scala.util.hashing.MurmurHash3.orderedHash(parts).toLong

  /** Build (or resume) the full index at `dir`. Idempotent: stages whose
    * lineage validates are skipped; otherwise recomputed and atomically
    * replaced (parquet overwrite = write-then-swap per directory).
    */
  /** Stage timing to stderr when GRAFT_TIMING=1 or -Dgraft.timing=1 (the
    * CLI's `export --verbose` sets the property).
    */
  private[graft] def timedStage[T](name: String)(f: => T): T = {
    if (sys.env.get("GRAFT_TIMING").contains("1") ||
        sys.props.get("graft.timing").contains("1")) {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[graft-timing] $name%-12s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
      r
    } else f
  }

  /** Deterministic sampled build-avgdl over a (docId, dl) frame: mean dl of
    * the docs whose xxhash64(docId) lands in a 1/128 sample (widening to
    * 1/8 then all docs when the sample is empty — tiny corpora). Bit-exact
    * reproducible: the sample is a pure function of docIds, and the mean is
    * a LONG sum / LONG count (order-independent), so the build (tokenizing
    * the sampled docs) and the compactor (reading their stored dl) compute
    * the identical double. Decouples the postings stage from exact stats so
    * docmeta and postings run CONCURRENTLY; block-max WAND stays admissible
    * via liveStats' max(1, avgdl/buildAvgdl) factor (a few % at most).
    */
  private[index] def estimateBuildAvgdl(docIdDl: DataFrame): Double = {
    val rates = Seq(128L, 8L, 1L)
    var i = 0
    var res = -1.0
    while (res < 0 && i < rates.length) {
      val r = docIdDl
        .filter(pmod(xxhash64(col("docId")), lit(rates(i))) === 0)
        .agg(sum(col("dl")).cast("long").as("s"), count(lit(1)).as("c")).head()
      // a zero-Σdl sample (all-empty docs) must keep widening: buildAvgdl=0
      // would turn every block max into 0/NaN and break WAND
      if (r.getLong(1) > 0 && r.getLong(0) > 0)
        res = r.getLong(0).toDouble / r.getLong(1)
      i += 1
    }
    if (res <= 0) 1.0 else res
  }

  /** Run independent Spark jobs from parallel driver threads; rethrows the
    * first failure. Used to overlap the docmeta/postings builds (they share
    * the cached id-assigned input, and local cores are under-occupied by a
    * single stage's tail) and the ingest segment writes.
    */
  private[graft] def runConcurrently(thunks: Seq[() => Unit]): Unit = {
    val errs = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val ts = thunks.map { f =>
      new Thread(() =>
        try f() catch { case t: Throwable => errs.compareAndSet(null, t); () })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    if (errs.get() != null) throw errs.get()
  }

  def build(spark: SparkSession, corpus: Dataset[CorpusDoc], dir: String,
            cfg: Config = Config()): Handle = {
    import spark.implicits._
    val parts = if (cfg.partitions > 0) cfg.partitions
      else spark.sessionState.conf.numShufflePartitions
    val mode = cfg.mode
    // persist the analyzer mode so readers (Cli search/stats, openHandle)
    // never have to guess how the index was tokenized
    Fs.writeString(s"$dir/analyzer_mode", mode.name)

    // docmeta and postings both need the id-assigned corpus; share one
    // materialization (the sorted-cache inside assignDocIds) instead of
    // re-running the range-sort shuffle per stage. At extreme scale the
    // same role is played by a transient sorted table.
    var sharedIds: Assigned = null
    def withIds(): DataFrame = {
      if (sharedIds == null) sharedIds = assignDocIds(spark, corpus, parts)
      sharedIds.df
    }
    graft.functions.TokenStats.register(spark)
    def tokenStats = call_function("token_stats", $"content", lit(mode.name))

    val docmetaDone = stageComplete(spark, dir, "docmeta")
    val postingsDone = stageComplete(spark, dir, "postings")

    // sampled buildAvgdl (see estimateBuildAvgdl): from the existing docmeta
    // when resuming past stage 1, else by tokenizing the ~1/128 sample of
    // the id-assigned corpus — one cheap job either way, identical value.
    lazy val buildAvgdl: Double = timedStage("estAvgdl") {
      val src =
        if (docmetaDone)
          readTable(spark, Tables.Docmeta, Seq(s"$dir/docmeta")).select($"docId", $"dl")
        else withIds().select($"docId", tokenStats.getField("dl").as("dl"))
      estimateBuildAvgdl(src)
    }

    // ---- stage 1: docmeta -------------------------------------------------
    // Pure column expressions (token_stats is a native codegen Expression) —
    // the only object pass is the lineage tally over the narrow final rows.
    // Lineage is tallied by an accumulator inside the SAME job that writes
    // the table (one pass, no read-back job). For docmeta, lineage.termCount
    // carries Σdl per partition, which lets the stats stage derive (N, avgdl)
    // with zero additional scans.
    // When this job runs in-process, its lineage stays on the driver so the
    // stats stage needs no read-back job at all (resume still reads disk).
    @volatile var freshDocmetaLineage: Seq[LineageRow] = null
    def docmetaJob(): Unit = timedStage("docmeta") {
      val acc = newLineageAcc(spark, "docmeta")
      val meta = withIds().select($"docId", $"repo", $"path", $"commit", $"lang",
          tokenStats.getField("dl").as("dl"),
          sha2($"content", 256).as("sha256"))
        .as[DocMeta]
      val instrumented = meta.mapPartitions(tally(acc, "docmeta")(
        m => m.docId, m => m.docId, m => m.dl.toLong,
        m => 48L + m.repo.length + m.path.length,
        m => mix3(m.docId, java.lang.Long.parseLong(m.sha256.substring(0, 15), 16),
          m.commit.hashCode.toLong)))
      instrumented.write.mode("overwrite").parquet(s"$dir/docmeta")
      writeLineageRows(spark, dir, "docmeta", acc.value)
      freshDocmetaLineage = dedupLineage(acc.value)
    }

    // ---- stage 2: postings ------------------------------------------------
    // docIds are deterministic (data-derived), so on a resumed build this
    // re-derives exactly the ids persisted in docmeta — cheaper than a
    // 3-string-key shuffle join of docmeta back to corpus; in a fresh
    // build the persisted dataset from stage 1 is reused directly. Block
    // maxima use the SAMPLED buildAvgdl so this stage has no dependency on
    // docmeta/stats — it runs concurrently with docmeta.
    def postingsJob(est: Double): Unit = timedStage("postings") {
      val n = sharedIds.n
      val salts = effectiveSalts(cfg, n)
      val acc = newLineageAcc(spark, "postings")
      // tokenize → explode → salt, all in whole-stage codegen (token_stats
      // evaluated once per row in the projection feeding the Generate);
      // objects materialize only at the block builder, on narrow TermDoc
      // rows — never on 1 KB content strings.
      def tokensOf(ids: DataFrame): DataFrame = ids
        .select($"docId", tokenStats.as("ts"))
        .select($"docId", $"ts.dl".as("dl"), explode($"ts.tfs").as("tt"))
        .select($"tt.term".as("term"),
          least(floor($"docId" * salts / math.max(n, 1L)), lit(salts - 1))
            .cast("int").as("salt"),
          $"docId", TermDoc.packMeta($"dl", $"tt.tf").as("meta"))
      // range bounds from the (term, salt) keys of a small docId-hash
      // sample of documents — only the sample is tokenized twice
      val rate = math.max(1L, n / TermRanges.sampleDocs(parts))
      val bounds = TermRanges.boundsOf(
        tokensOf(withIds().filter(pmod(xxhash64($"docId"), lit(rate)) === 0))
          .select($"term", $"salt").as[(String, Int)].collect().toSeq
          .map { case (t, s) => (TermRanges.utf8(t), s, 1.0) }, parts)
      val blocks = tokensOf(withIds())
        // one term range per partition (TermRanges): a (term, salt) run
        // stays whole, so blocks and lineage are those of any layout
        .repartition(parts, TermRanges.route(spark, bounds, parts, $"term", $"salt"))
        .sortWithinPartitions($"term", $"salt", $"docId")
        .as[TermDoc]
        .mapPartitions(buildBlocks(_, est))
        .mapPartitions(tally(acc, "postings")(
          b => b.firstDocId, b => b.lastDocId, _ => 1L,
          b => b.docDeltas.length.toLong + b.tfs.length + b.dls.length,
          b => mix3(b.term.hashCode.toLong, b.salt.toLong * 31 + b.blockIdx,
            java.util.Arrays.hashCode(b.docDeltas).toLong)))
      blocks.write.mode("overwrite").parquet(s"$dir/postings")
      writeLineageRows(spark, dir, "postings", acc.value)
    }

    if (!docmetaDone || !postingsDone) {
      withIds() // materialize the shared sort + exact count once
      // docmeta does not depend on buildAvgdl, so its job starts
      // immediately and the (small) sample-avgdl job runs CONCURRENTLY
      // with it inside the postings thread — the avgdl estimate leaves the
      // serial critical path entirely (it only gates postings' block
      // maxima). The lazy val makes a later stage's reference reuse it.
      val jobs = Seq(
        if (docmetaDone) None else Some(() => docmetaJob()),
        if (postingsDone) None else Some(() => postingsJob(buildAvgdl))).flatten
      // both pending → overlap the two tokenize passes (a single stage's
      // tasks leave local cores idle at stage tails; two independent jobs
      // fill them — on a cluster, two jobs pipelined over one cached input)
      if (jobs.size == 2) runConcurrently(jobs) else jobs.foreach(_())
    }

    // ---- stages 3+4: stats ∥ termstats ------------------------------------
    // Independent of each other (stats ← docmeta lineage, termstats ← the
    // postings table), so they run concurrently — together with the fused
    // lineage path below this removes ~1s of core-count-independent serial
    // tail per build, which is pure Amdahl loss at any cluster size.
    val statsJob =
      if (stageComplete(spark, dir, "stats")) None else Some(() => timedStage("stats") {
        // derived from docmeta lineage; when stage 1 ran in-process the
        // rows are already on the driver — no read-back job at all
        val lin =
          if (freshDocmetaLineage != null) freshDocmetaLineage
          else readTable(spark, Tables.Lineage, Seq(s"$dir/lineage/docmeta"))
            .as[LineageRow].collect().toSeq
        val n = lin.map(_.rows).sum
        val tot = lin.map(_.termCount).sum
        // avgdl defined as sum/count in double — transliterated identically in
        // the oracle SQL (DuckDB avg over ints computes the same).
        val st = IndexStats(n, tot.toDouble / n.toDouble, tot, buildAvgdl)
        Seq(st).toDS().write.mode("overwrite").parquet(s"$dir/stats")
        writeLineageRows(spark, dir, "stats",
          java.util.List.of(LineageRow("stats", 0, 0L, n - 1, 1L, 1L, 24L, n ^ tot)))
      })
    val termstatsJob =
      if (stageComplete(spark, dir, "termstats")) None else Some(() => timedStage("termstats") {
        // reads back only 3 pruned columns of the just-written postings
        val acc = newLineageAcc(spark, "termstats")
        val po = readTable(spark, Tables.Postings, Seq(s"$dir/postings"))
        // vocab-sized aggregate PERSISTED before the range sort: the range
        // exchange's boundary sampler executes its child subtree, so an
        // uncached plan pays the postings scan + groupBy TWICE (once to
        // sample term boundaries, once for real). Caching the (small)
        // aggregate makes the sampler read it back instead; rows, order
        // inside files and lineage are unchanged (the sampler sees the
        // identical data either way).
        val vocab = po.groupBy($"term")
          .agg(sum($"n").cast("long").as("df"), max($"maxImpact").as("maxImpact"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        vocab
          // range-sort the dictionary on term: prefix-suggest and fuzzy-dict
          // scans (Lexicon) then prune on parquet min/max term stats instead
          // of reading the whole vocabulary; the exchange is vocab-sized —
          // noise next to the postings shuffle it follows
          .repartitionByRange($"term")
          .sortWithinPartitions($"term")
          .as[TermStat]
          .mapPartitions(tally(acc, "termstats")(
            _ => 0L, _ => 0L, _ => 1L, t => 16L + t.term.length,
            t => mix3(t.term.hashCode.toLong, t.df, 0L)))
          .write.mode("overwrite").parquet(s"$dir/termstats")
        vocab.unpersist(blocking = false)
        writeLineageRows(spark, dir, "termstats", acc.value)
      })
    val tailJobs = Seq(statsJob, termstatsJob).flatten
    if (tailJobs.size == 2) runConcurrently(tailJobs) else tailJobs.foreach(_())

    if (sharedIds != null) sharedIds.release()
    // a rebuild in place rewrites tables the catalog may still describe
    // with a TTL-cached state (and fingerprint)
    Catalog.invalidate(dir)
    Handle(dir, mode)
  }

  /** OPTIONAL positional index stage — an EXPLICIT build (CLI: `export
    * --positions`; not part of the default build, and a phrase query on an
    * index without it fails loudly rather than launching it implicitly: it
    * shuffles every token OCCURRENCE, not just distinct (term, doc) pairs,
    * so it costs more than all other stages combined and an innocent query
    * must not be able to trigger the most expensive stage of the system).
    * One row per (term, docId): the 0-based token positions, delta+varint
    * encoded. docIds re-derive identically from the data (assignDocIds is a
    * pure function of the corpus — and the compactor's re-rank over
    * batch∪segments yields the same dense ids as a build over the union
    * corpus), so the stage can be added to an existing index at any time;
    * marker + idempotent overwrite make replays safe. Writes into the
    * handle's ACTIVE root (genesis dir or current epoch).
    */
  def buildPositions(spark: SparkSession, corpus: Dataset[CorpusDoc], dir: String,
                     mode: Analyzer.Mode, partitions: Int = 0): Unit = {
    import spark.implicits._
    val root = Handle(dir, mode).root
    if (Fs.exists(s"$root/_STAGE_positions")) return
    val parts = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val assigned = assignDocIds(spark, corpus, parts)
    try {
      val occs = assigned.df.select($"docId", $"content").as[(Long, String)]
        .flatMap { case (docId, content) =>
          val ts = Analyzer.tokens(content, mode)
          Iterator.tabulate(ts.length)(i => (ts(i), docId, i))
        }.toDF("term", "docId", "pos")
      occs
        // salted on docId too: a Zipfian hot term's OCCURRENCES (several
        // percent of all tokens) must not land on one reducer — same skew
        // the postings stage salts away; a (term, docId) group always stays
        // whole because the salt is a function of docId
        .repartition(parts, $"term", pmod($"docId", lit(64)))
        .sortWithinPartitions($"term", $"docId", $"pos")
        .as[(String, Long, Int)]
        .mapPartitions(buildPositionRows)
        .write.mode("overwrite").parquet(s"$root/positions")
      Fs.touch(s"$root/_STAGE_positions")
    } finally assigned.release()
  }

  /** Streaming run-length grouper over a (term, docId, pos)-sorted
    * partition → one PositionsRow per (term, docId).
    */
  private[graft] def buildPositionRows(it: Iterator[(String, Long, Int)]): Iterator[PositionsRow] = {
    val in = it.buffered
    new Iterator[PositionsRow] {
      def hasNext: Boolean = in.hasNext
      def next(): PositionsRow = {
        val (term, docId, _) = in.head
        val ps = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (in.hasNext && in.head._1 == term && in.head._2 == docId)
          ps += in.next()._3.toLong
        PositionsRow(term, docId, ps.length, Codec.encodeDeltas(ps.toArray, 0L))
      }
    }
  }

  def saltOf(docId: Long, n: Long, salts: Int): Int =
    math.min(((docId * salts) / math.max(n, 1L)).toInt, salts - 1)

  // MessageDigest.getInstance contends on provider locks when called per
  // row across many task threads — thread-local instance + manual hex
  // keeps hashing embarrassingly parallel.
  private val mdLocal: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("SHA-256"))
  private val hexChars = "0123456789abcdef".toCharArray

  def sha256Hex(s: String): String = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(i * 2) = hexChars((d(i) >> 4) & 0xf)
      out(i * 2 + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** One-pass block builder over a (term, salt, docId)-sorted partition.
    * Pure streaming: holds at most one block (128 postings) in memory.
    */
  private[graft] def buildBlocks(it: Iterator[TermDoc], avgdl: Double): Iterator[PostingBlock] =
    new Iterator[PostingBlock] {
      private val in = it.buffered
      private var blockIdxFor: (String, Int) = null
      private var blockIdx = 0
      def hasNext: Boolean = in.hasNext
      def next(): PostingBlock = {
        val head = in.head
        val key = (head.term, head.salt)
        if (key != blockIdxFor) { blockIdxFor = key; blockIdx = 0 }
        val docs = new Array[Long](Codec.BlockSize)
        val tfs = new Array[Int](Codec.BlockSize)
        val dls = new Array[Int](Codec.BlockSize)
        var m = 0
        var maxImp = 0.0
        while (m < Codec.BlockSize && in.hasNext &&
               in.head.term == key._1 && in.head.salt == key._2) {
          val td = in.next()
          docs(m) = td.docId; tfs(m) = td.tf; dls(m) = td.dl
          val imp = Bm25.impact(td.tf, td.dl, avgdl)
          if (imp > maxImp) maxImp = imp
          m += 1
        }
        val d = java.util.Arrays.copyOf(docs, m)
        val t = java.util.Arrays.copyOf(tfs, m)
        val l = java.util.Arrays.copyOf(dls, m)
        val out = PostingBlock(key._1, key._2, blockIdx, d(0), d(m - 1), m,
          Codec.encodeDeltas(d, d(0)), Codec.encodeInts(t), Codec.encodeInts(l), maxImp)
        blockIdx += 1
        out
      }
    }

  // ---- lineage / resume ----------------------------------------------------

  private[graft] def mix3(a: Long, b: Long, c: Long): Long = {
    var x = a ^ (b * 0x9e3779b97f4a7c15L) ^ (c * 0xc2b2ae3d27d4eb4fL)
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private[index] def newLineageAcc(spark: SparkSession, stage: String) =
    spark.sparkContext.collectionAccumulator[LineageRow](s"lineage-$stage")

  /** Wraps a partition iterator to tally one LineageRow per partition into
    * the accumulator as rows stream to the writer — lineage costs zero
    * extra jobs. Task retries/speculation may add duplicate rows for a
    * partition; tallies are a pure function of that partition's data, so
    * duplicates are identical and deduped by partitionId on the driver.
    */
  private[index] def tally[T](acc: org.apache.spark.util.CollectionAccumulator[LineageRow],
                       stage: String)(
      docIdMin: T => Long, docIdMax: T => Long, terms: T => Long,
      bytes: T => Long, hash: T => Long): Iterator[T] => Iterator[T] = { it =>
    new Iterator[T] {
      private val pid = org.apache.spark.TaskContext.getPartitionId()
      private var mn = Long.MaxValue
      private var mx = Long.MinValue
      private var tc = 0L
      private var rows = 0L
      private var bs = 0L
      private var h = 0L
      private var emitted = false
      def hasNext: Boolean = {
        val hn = it.hasNext
        if (!hn && !emitted) {
          emitted = true
          if (rows > 0) acc.add(LineageRow(stage, pid, mn, mx, tc, rows, bs, h))
        }
        hn
      }
      def next(): T = {
        val t = it.next()
        val lo = docIdMin(t); val hi = docIdMax(t)
        if (lo < mn) mn = lo
        if (hi > mx) mx = hi
        tc += terms(t); rows += 1; bs += bytes(t); h ^= hash(t)
        t
      }
    }
  }

  /** Lineage is written after the stage's table write returns (data is
    * committed), and the marker file last → crash between data and marker
    * ⇒ stage recomputes; stageComplete additionally reconciles row counts
    * against the actual table (SURVEY.md §7.4 item 5: never trust file
    * existence alone).
    */
  /** Accumulator rows → one row per partition (task retries/speculation add
    * identical duplicates — tallies are pure functions of a partition's
    * data), sorted for determinism.
    */
  private[index] def dedupLineage(rows: java.util.List[LineageRow]): Seq[LineageRow] = {
    import scala.jdk.CollectionConverters._
    rows.asScala.groupBy(_.partitionId).map(_._2.head).toSeq.sortBy(_.partitionId)
  }

  private[index] def writeLineageRows(spark: SparkSession, dir: String, stage: String,
                               rows: java.util.List[LineageRow]): Unit = {
    import spark.implicits._
    val dedup = dedupLineage(rows)
    // One lineage directory per stage, overwritten on recompute — so a
    // retried stage never leaves stale lineage that would break validation.
    dedup.toDS().coalesce(1).write.mode("overwrite").parquet(s"$dir/lineage/$stage")
    Fs.touch(s"$dir/_STAGE_$stage")
  }

  /** A stage is complete iff its marker exists AND its lineage rows exist
    * AND the written table's row count matches the lineage row count — the
    * stats-command reconciliation analog (commands/stats.go:44-64). Only a
    * MISSING table or lineage dir, an empty lineage or a row-count mismatch
    * (a partial table) makes a stage incomplete; any other read failure (a
    * corrupt file, an unreachable store) propagates instead of silently
    * scheduling a recompute over a broken index.
    */
  def stageComplete(spark: SparkSession, dir: String, stage: String): Boolean = {
    val lineage = s"$dir/lineage/$stage"
    val table = s"$dir/$stage"
    if (!Seq(s"$dir/_STAGE_$stage", lineage, table).forall(Fs.exists)) return false
    val expected = readTable(spark, Tables.Lineage, Seq(lineage))
      .agg(sum(col("rows"))).head()
    !expected.isNullAt(0) &&
      readTable(spark, Tables.ofStage(stage), Seq(table)).count() == expected.getLong(0)
  }
}
