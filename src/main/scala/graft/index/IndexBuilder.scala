package graft.index

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.storage.StorageLevel
import graft.analyze.Analyzer

/** Inverted-index build pipeline (SURVEY.md §7.2 M2–M4, north rule).
  *
  * Stages (each a checkpointed table under `indexDir/` with lineage rows —
  * a failed/killed build resumes at the first incomplete stage), written
  * by TableWriter as two concurrent chains over one id-assigned corpus:
  *
  *   corpus ──► docmeta  (docId assignment + dl + sha256)
  *                ──► stats     (N, avgdl from docmeta's lineage tally)
  *          ──► postings (salted range repartition → sortWithinPartitions
  *                        → one-pass block build)
  *                ──► termstats (df per term + global term max impact)
  *
  * Block maxima use a sampled buildAvgdl, so postings do not wait for
  * stats. The compaction fold writes the same tables through the same
  * writer from decoded, re-ranked rows (Compactor).
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

  /** The relation `readTable` resolves for the `listed` files, built from
    * a file index of exactly those: the files keep their statuses, so
    * nothing is listed, and DataSource's per-call path globbing and
    * existence checks (each on a new thread pool) are skipped. A query
    * reading a subset of listed files thus makes no filesystem call and
    * starts no thread.
    */
  def readFiles(spark: SparkSession, schema: StructType, listed: Seq[FileStatus]): DataFrame = {
    val known = listed.map(s => s.getPath -> Array(s)).toMap
    val statuses = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = known.get(path)
      override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, listed.map(_.getPath),
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
    * Catalog.scala), so a cold query pays only its postings read.
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
      // the listed stage dirs: a glob path would send Spark's metadata-dir
      // probe to a literal `*` dir, which warns with a stack trace per read
      val stages = Fs.listDirs(s"$root/lineage")
      if (stages.isEmpty) spark.emptyDataset[LineageRow]
      else readTable(spark, Tables.Lineage, stages).as[LineageRow]
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

    /** The postings of `terms` as a Spark relation — the distributed
      * path's read (the coordinator probe reads the same files on the
      * driver: Live.readBlocks). The relation is the root and segment
      * files whose footer term range can hold one of `terms`
      * (Live.filesHolding; a file without term statistics always
      * qualifies), filtered on `term isin terms`; parquet row-group
      * statistics then prune inside the files read. No qualifying file ⇒
      * an empty Dataset, which runs no job. The relation is built per call
      * from the files' statuses, listed once per state (`readFiles`): no
      * filesystem call, and a cost that does not depend on which file
      * subsets earlier queries read.
      */
    def postingsOf(spark: SparkSession, terms: Seq[String]): Dataset[PostingBlock] = {
      import spark.implicits._
      val picked = live(spark).filesHolding(terms).map(_.status)
      if (picked.isEmpty) spark.emptyDataset[PostingBlock]
      else readFiles(spark, Tables.Postings, picked)
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
      * `Searcher.MaxAllowDocs` (10M ≈ 80 MB): the set is
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
        val cap = graft.query.Searcher.MaxAllowDocs
        val ids = graft.Tuning.collectUpTo(
          readTable(spark, Tables.TombstoneIds, dirs.map(_ + "/ids")).distinct().as[Long],
          cap + 1)
        require(ids.length <= cap,
          s"tombstone set exceeds $cap resident docIds — run Compactor.compact " +
            "to purge deletes")
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
  def assignDocIds(spark: SparkSession, corpus: Dataset[CorpusDoc], partitions: Int): Assigned = {
    val a = withDenseIds(spark, corpus.toDF(), partitions,
      Seq("repo", "path", "commit"), "docId")
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
                   keys: Seq[String], idCol: String): Assigned = {
    import spark.implicits._
    val sorted = input
      .repartitionByRange(partitions, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
      // DISK_ONLY measured better than MEMORY_AND_DISK for
      // this transient shared sort (A/B: eff_2_8 0.865 vs 0.841, +2% wide
      // throughput, no narrow cost): the build's own tokenize/encode
      // passes are allocation-heavy, so keeping the cached batches out of
      // the on-heap store trades cheap page-cache-backed disk reads for
      // execution memory + GC headroom. On a cluster the same logic holds
      // (executor local disks; a transient build artifact should not
      // compete with execution memory).
      .persist(StorageLevel.DISK_ONLY)
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
    * first failure. Used to overlap the table writes (they share the cached
    * id-assigned input, and local cores are under-occupied by a single
    * stage's tail).
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

  /** Build (or resume) the full index at `dir`. Idempotent: stages whose
    * lineage validates are skipped; otherwise recomputed and atomically
    * replaced (parquet overwrite = write-then-swap per directory).
    */
  def build(spark: SparkSession, corpus: Dataset[CorpusDoc], dir: String,
            cfg: Config = Config()): Handle = {
    import spark.implicits._
    val parts = if (cfg.partitions > 0) cfg.partitions
      else spark.sessionState.conf.numShufflePartitions
    val mode = cfg.mode
    // persist the analyzer mode so readers (Cli search/stats, openHandle)
    // never have to guess how the index was tokenized
    Fs.writeString(s"$dir/analyzer_mode", mode.name)
    val done = Seq("docmeta", "postings", "stats", "termstats")
      .filter(stageComplete(spark, dir, _)).toSet

    // docmeta and postings both read the id-assigned corpus: one shared
    // materialization (the sorted cache inside assignDocIds), made only
    // when one of them is pending. docIds are deterministic, so a resumed
    // build re-derives exactly the ids persisted in docmeta.
    val ids =
      if (done("docmeta") && done("postings")) None
      else Some(assignDocIds(spark, corpus, parts))
    // sampled buildAvgdl (see estimateBuildAvgdl): from the existing
    // docmeta when resuming past it, else from the ~1/128 sample of the
    // id-assigned corpus — one cheap job either way, identical value. The
    // postings chain forces it, overlapping the docmeta write.
    lazy val est: Double = timedStage("estAvgdl")(estimateBuildAvgdl(
      (if (done("docmeta")) readTable(spark, Tables.Docmeta, Seq(s"$dir/docmeta"))
       else TableWriter.docmetaOf(ids.get.df, mode)).select($"docId", $"dl")))
    try TableWriter.writeRoot(spark, dir, parts, new TableWriter.Source {
        def docmeta: DataFrame = TableWriter.docmetaOf(ids.get.df, mode)
        def termDocs: DataFrame = TableWriter.termDocsOf(ids.get.df, mode)
        def n: Long = ids.get.n
        def salts: Int = effectiveSalts(cfg, n)
        // range bounds from the (term, salt) keys of a small docId-hash
        // sample of documents — only the sample is tokenized twice
        def bounds: (Array[Array[Byte]], Array[Int]) = {
          val rate = math.max(1L, n / TermRanges.sampleDocs(parts))
          val sample = ids.get.df.filter(pmod(xxhash64($"docId"), lit(rate)) === 0)
          TermRanges.boundsOf(
            TableWriter.keyed(TableWriter.termDocsOf(sample, mode), n, salts)
              .select($"term", $"salt").as[(String, Int)].collect().toSeq
              .map { case (t, s) => (TermRanges.utf8(t), s, 1.0) }, parts)
        }
        def buildAvgdl: Double = est
      }, done)
    finally ids.foreach(_.release())
    // a rebuild in place rewrites tables the catalog may still describe
    // with a TTL-cached state (and fingerprint)
    Catalog.invalidate(dir)
    Handle(dir, mode)
  }

  /** OPTIONAL positional index stage — an EXPLICIT build (CLI: `export
    * --positions`; not part of the default build, and a phrase query on an
    * index without it fails loudly rather than launching it implicitly: it
    * writes every token position, a larger table than the postings, and an
    * innocent query must not be able to trigger it). One row per
    * (term, docId): the 0-based token positions, delta+varint encoded
    * (TableWriter.positionsOf). docIds re-derive identically from the data
    * (assignDocIds is a pure function of the corpus — and the compactor's
    * re-rank over batch∪segments yields the same dense ids as a build over
    * the union corpus), so the stage can be added to an existing index at
    * any time; marker + idempotent overwrite make replays safe. Writes into
    * the handle's ACTIVE root (genesis dir or current epoch).
    */
  def buildPositions(spark: SparkSession, corpus: Dataset[CorpusDoc], dir: String,
                     mode: Analyzer.Mode, partitions: Int = 0): Unit = {
    val root = Handle(dir, mode).root
    if (Fs.exists(s"$root/_STAGE_positions")) return
    val parts = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val assigned = assignDocIds(spark, corpus, parts)
    try {
      TableWriter.writePositions(TableWriter.positionsOf(assigned.df, mode), parts,
        s"$root/positions")
      Fs.touch(s"$root/_STAGE_positions")
    } finally assigned.release()
  }

  private[graft] def mix3(a: Long, b: Long, c: Long): Long = {
    var x = a ^ (b * 0x9e3779b97f4a7c15L) ^ (c * 0xc2b2ae3d27d4eb4fL)
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
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
