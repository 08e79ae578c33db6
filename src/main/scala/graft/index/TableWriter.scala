package graft.index

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator
import graft.analyze.Analyzer
import graft.index.IndexBuilder.{Tables, mix3, readTable, runConcurrently, timedStage}
import graft.query.Bm25

/** The one writer of the index tables. The build, the compaction fold, the
  * streamed-segment append, the minor merge and the positions stage are
  * its callers; it owns each table's rows, physical layout and lineage:
  *
  *  - docmeta: one row per document. Its lineage tally carries Σdl
  *    (`termCount`), so the stats row needs no scan.
  *  - postings: one row per distinct (term, doc), salted by docId range
  *    (`keyed`), partitioned so a (term, salt) run stays whole — term
  *    ranges for a root (TermRanges), one partition for a segment — sorted by
  *    (term, salt, docId) and cut into blocks in one streaming pass.
  *  - termstats: a root's dictionary, aggregated from its fresh postings
  *    and written range-sorted on term.
  *  - stats: the one-row (n, avgdl, Σdl, buildAvgdl) table.
  *  - positions: one row per (term, doc), hash laid out on
  *    (term, docId mod 64).
  *
  * A root's stages commit lineage rows, then a `_STAGE_` marker
  * (`commit`), so a killed write resumes at the first incomplete stage.
  */
object TableWriter {

  /** What a root write is given. A member is read only by a stage that
    * runs: a resumed build re-derives nothing its complete stages hold.
    */
  trait Source {
    /** DocMeta rows over dense docIds [0, n). */
    def docmeta: DataFrame
    /** (term, docId, dl, tf) rows, one per distinct (term, doc). */
    def termDocs: DataFrame
    def n: Long
    def salts: Int
    /** (term, salt) range bounds of the postings partitions. */
    def bounds: (Array[Array[Byte]], Array[Int])
    /** The avgdl block maxima are computed at (see
      * IndexBuilder.estimateBuildAvgdl); read from two chains, so a caller
      * backs it with a lazy val.
      */
    def buildAvgdl: Double
    /** Finished positions rows, when the root carries the positional tier. */
    def positions: Option[DataFrame] = None
  }

  /** Write the tables of the root `dir`, skipping the stages in `done`.
    * Two chains run concurrently, docmeta → stats and postings →
    * termstats, plus positions when given: each tail depends only on its
    * own head (stats on docmeta's lineage tally, termstats on the fresh
    * postings files), so the critical path is the longest chain, not the
    * longest head plus the longest tail.
    */
  def writeRoot(spark: SparkSession, dir: String, parts: Int, src: Source,
                done: Set[String] = Set.empty): Unit = {
    import spark.implicits._
    val docmetaThenStats = () => {
      val lineage =
        if (done("docmeta")) None
        else Some(timedStage("docmeta")(writeDocmeta(spark, src.docmeta, s"$dir/docmeta")))
      lineage.foreach(commit(spark, dir, "docmeta", _))
      if (!done("stats")) timedStage("stats") {
        // when docmeta was written here its lineage is on the driver;
        // a resumed build reads it back
        val rows = lineage.getOrElse(readTable(spark, Tables.Lineage,
          Seq(s"$dir/lineage/docmeta")).as[LineageRow].collect().toSeq)
        val n = rows.map(_.rows).sum
        val tot = rows.map(_.termCount).sum
        writeStats(spark, s"$dir/stats", n, tot, src.buildAvgdl)
        commit(spark, dir, "stats", Seq(LineageRow("stats", 0, 0L, n - 1, 1L, 1L, 24L, n ^ tot)))
      }
    }
    val postingsThenTermstats = () => {
      if (!done("postings")) timedStage("postings") {
        // forced here, on the driver thread: read inside the block
        // builder's closure it would run its job in a task (SPARK-28702)
        val est = src.buildAvgdl
        val bounds = src.bounds
        val acc = tallyAcc[LineageTally](spark, "postings")
        writeBlocks(keyed(src.termDocs, src.n, src.salts),
          Seq(TermRanges.route(spark, bounds, parts, $"term", $"salt")), parts, est,
          s"$dir/postings")(lineage(acc)(b => b.firstDocId, b => b.lastDocId, _ => 1L,
          b => b.docDeltas.length.toLong + b.tfs.length + b.dls.length,
          b => mix3(b.term.hashCode.toLong, b.salt.toLong * 31 + b.blockIdx,
            java.util.Arrays.hashCode(b.docDeltas).toLong)))
        commit(spark, dir, "postings", lineageRows("postings", acc))
      }
      if (!done("termstats"))
        timedStage("termstats")(commit(spark, dir, "termstats", writeTermstats(spark, dir)))
    }
    val positions = src.positions.map(rows => () => timedStage("positions") {
      writePositions(rows, parts, s"$dir/positions")
      Fs.touch(s"$dir/_STAGE_positions")
    })
    runConcurrently(Seq(docmetaThenStats, postingsThenTermstats) ++ positions)
  }

  // ---- rows ---------------------------------------------------------------

  /** `token_stats(content, mode)`, registered in the session of the frame
    * it is used on (a micro-batch's is a clone of the stream's).
    */
  private def tokenStats(ids: DataFrame, mode: Analyzer.Mode): Column = {
    graft.functions.TokenStats.register(ids.sparkSession)
    call_function("token_stats", col("content"), lit(mode.name))
  }

  /** DocMeta rows of an id-assigned corpus frame. Pure column expressions
    * (token_stats is a native codegen Expression).
    */
  def docmetaOf(ids: DataFrame, mode: Analyzer.Mode): DataFrame =
    ids.select(col("docId"), col("repo"), col("path"), col("commit"), col("lang"),
      tokenStats(ids, mode).getField("dl").as("dl"), sha2(col("content"), 256).as("sha256"))

  /** (term, docId, dl, tf) rows of an id-assigned corpus frame: tokenize →
    * explode in whole-stage codegen (token_stats computes a document's term
    * frequencies locally, so there is one row per distinct (term, doc), not
    * per occurrence); objects materialize only at the block builder, on
    * narrow rows — never on content strings.
    */
  def termDocsOf(ids: DataFrame, mode: Analyzer.Mode): DataFrame =
    ids.select(col("docId"), tokenStats(ids, mode).as("ts"))
      .select(col("docId"), col("ts.dl").as("dl"), explode(col("ts.tfs")).as("tt"))
      .select(col("tt.term").as("term"), col("docId"), col("dl"), col("tt.tf").as("tf"))

  /** Positions rows of an id-assigned corpus frame, built per document:
    * every (term, docId) row comes from one document, so only finished
    * rows are shuffled, never token occurrences.
    */
  def positionsOf(ids: DataFrame, mode: Analyzer.Mode): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select($"docId", $"content").as[(Long, String)].flatMap { case (docId, content) =>
      val at = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
      val ts = Analyzer.tokens(content, mode)
      var i = 0
      while (i < ts.length) {
        at.getOrElseUpdate(ts(i), new scala.collection.mutable.ArrayBuilder.ofLong) += i.toLong
        i += 1
      }
      at.iterator.map { case (t, ps) =>
        val p = ps.result()
        PositionsRow(t, docId, p.length, Codec.encodeDeltas(p, 0L))
      }
    }.toDF()
  }

  /** Postings rows keyed for the shuffle: (term, salt, docId, meta). The
    * salt is the docId-range bucket: a hot term is split across `salts`
    * contiguous docId ranges, so no reducer owns a whole Zipfian list, and
    * the query side merges per-salt top-k lists. A segment places its salts
    * and docIds in its reserved ranges (`saltBase`, `docIdBase`); its salts
    * bucket the batch's dense ranks.
    */
  def keyed(termDocs: DataFrame, n: Long, salts: Int,
            saltBase: Long = 0L, docIdBase: Long = 0L): DataFrame = {
    val spark = termDocs.sparkSession
    import spark.implicits._
    termDocs.select($"term",
      (lit(saltBase) + least(floor($"docId" * salts / math.max(n, 1L)), lit(salts - 1)))
        .cast("int").as("salt"),
      ($"docId" + docIdBase).as("docId"), TermDoc.packMeta($"dl", $"tf").as("meta"))
  }

  // ---- tables -------------------------------------------------------------

  /** Write docmeta rows to `path`; their lineage is tallied inside the same
    * job and returned, one row per partition (termCount = Σdl).
    */
  def writeDocmeta(spark: SparkSession, rows: DataFrame, path: String): Seq[LineageRow] = {
    import spark.implicits._
    val acc = tallyAcc[LineageTally](spark, "docmeta")
    rows.as[DocMeta]
      .mapPartitions(lineage[DocMeta](acc)(m => m.docId, m => m.docId, m => m.dl.toLong,
        m => 48L + m.repo.length + m.path.length,
        m => mix3(m.docId, java.lang.Long.parseLong(m.sha256.substring(0, 15), 16),
          m.commit.hashCode.toLong)))
      .write.mode("overwrite").parquet(path)
    lineageRows("docmeta", acc)
  }

  /** Write the posting blocks of `keyed` rows to `path`: `partitioning`
    * keeps every (term, salt) run whole in one of `parts` partitions (see
    * `partitioned`), a sort by (term, salt, docId) orders it, and one
    * streaming pass cuts it into blocks whose maxima are computed at
    * `buildAvgdl`. `tally` observes the blocks as they stream to the
    * writer.
    */
  def writeBlocks(keyed: DataFrame, partitioning: Seq[Column], parts: Int, buildAvgdl: Double,
                  path: String)(tally: Iterator[PostingBlock] => Iterator[PostingBlock]): Unit = {
    val spark = keyed.sparkSession
    import spark.implicits._
    partitioned(keyed, parts, partitioning)
      .sortWithinPartitions($"term", $"salt", $"docId")
      .as[TermDoc]
      .mapPartitions(buildBlocks(_, buildAvgdl))
      .mapPartitions(tally)
      .write.mode("overwrite").parquet(path)
  }

  /** Write `dir`'s termstats from its fresh postings (3 pruned columns
    * read back), range-sorted on term: prefix-suggest and fuzzy-dict scans
    * (Lexicon) then prune on parquet min/max term statistics instead of
    * reading the whole vocabulary.
    */
  private def writeTermstats(spark: SparkSession, dir: String): Seq[LineageRow] = {
    import spark.implicits._
    val acc = tallyAcc[LineageTally](spark, "termstats")
    // the vocab-sized aggregate is PERSISTED before the range sort: the
    // range exchange's boundary sampler executes its child subtree, so an
    // uncached plan pays the postings scan + groupBy twice. Rows, order
    // inside files and lineage are unchanged (the sampler sees the same
    // data either way).
    val vocab = readTable(spark, Tables.Postings, Seq(s"$dir/postings"))
      .groupBy($"term")
      .agg(sum($"n").cast("long").as("df"), max($"maxImpact").as("maxImpact"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try vocab
      .repartitionByRange($"term")
      .sortWithinPartitions($"term")
      .as[TermStat]
      .mapPartitions(lineage[TermStat](acc)(_ => 0L, _ => 0L, _ => 1L, t => 16L + t.term.length,
        t => mix3(t.term.hashCode.toLong, t.df, 0L)))
      .write.mode("overwrite").parquet(s"$dir/termstats")
    finally vocab.unpersist(blocking = false)
    lineageRows("termstats", acc)
  }

  /** Write the one-row stats table. avgdl is Σdl / n in double — the
    * oracle SQL computes the same (DuckDB avg over ints).
    */
  def writeStats(spark: SparkSession, path: String, n: Long, totalTokens: Long,
                 buildAvgdl: Double): Unit = {
    import spark.implicits._
    Seq(IndexStats(n, totalTokens.toDouble / n.toDouble, totalTokens, buildAvgdl)).toDS()
      .write.mode("overwrite").parquet(path)
  }

  /** Write positions rows to `path`, hash partitioned on
    * (term, docId mod 64) and sorted by (term, docId): salted on docId like
    * the postings, so a hot term's rows spread over reducers.
    */
  def writePositions(rows: DataFrame, parts: Int, path: String): Unit = {
    val spark = rows.sparkSession
    import spark.implicits._
    partitioned(rows, parts, Seq($"term", pmod($"docId", lit(64))))
      .sortWithinPartitions($"term", $"docId")
      .write.mode("overwrite").parquet(path)
  }

  /** `rows` in `parts` partitions on `by`. One partition takes the rows
    * as they are, with no exchange: it holds every run whole, and a
    * micro-batch segment's input is one partition already
    * (StreamingIngest.appendSegment).
    */
  private def partitioned(rows: DataFrame, parts: Int, by: Seq[Column]): DataFrame =
    if (parts == 1) rows.coalesce(1) else rows.repartition(parts, by: _*)

  /** One-pass block builder over a (term, salt, docId)-sorted partition.
    * Pure streaming: holds at most one block (128 postings) in memory.
    */
  private def buildBlocks(it: Iterator[TermDoc], avgdl: Double): Iterator[PostingBlock] =
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

  // ---- tallies and lineage --------------------------------------------------

  def tallyAcc[S](spark: SparkSession, name: String): CollectionAccumulator[(Int, S)] =
    spark.sparkContext.collectionAccumulator[(Int, S)](s"tally-$name")

  /** Wraps a partition iterator so `add` folds each row into the
    * partition's tally as the writer drains it; the tally is added to `acc`
    * once, at the end — a tally costs no extra job. Task retries and
    * speculation may add a partition twice; a tally is a pure function of
    * its partition's rows, so the copies are identical (`perPartition`
    * keeps one).
    */
  def tallied[T, S](acc: CollectionAccumulator[(Int, S)], zero: => S)(
      add: (S, T) => S): Iterator[T] => Iterator[T] = { it =>
    new Iterator[T] {
      private val pid = TaskContext.getPartitionId()
      private var s = zero
      private var any = false
      private var emitted = false
      def hasNext: Boolean = {
        val hn = it.hasNext
        if (!hn && !emitted) { emitted = true; if (any) acc.add((pid, s)) }
        hn
      }
      def next(): T = {
        val t = it.next()
        s = add(s, t)
        any = true
        t
      }
    }
  }

  /** The accumulated tallies, one per partition, in partition order. */
  def perPartition[S](acc: CollectionAccumulator[(Int, S)]): Seq[(Int, S)] = {
    import scala.jdk.CollectionConverters._
    acc.value.asScala.groupBy(_._1).map(_._2.head).toSeq.sortBy(_._1)
  }

  /** A partition's lineage, accumulated in place. */
  private final class LineageTally extends Serializable {
    var docIdMin: Long = Long.MaxValue
    var docIdMax: Long = Long.MinValue
    var terms, rows, bytes, hash = 0L
  }

  /** A stage's lineage tally: per partition, the docId range, Σterms, the
    * row and byte counts and an order-independent XOR of row hashes.
    */
  private def lineage[T](acc: CollectionAccumulator[(Int, LineageTally)])(
      docIdMin: T => Long, docIdMax: T => Long, terms: T => Long,
      bytes: T => Long, hash: T => Long): Iterator[T] => Iterator[T] =
    tallied(acc, new LineageTally) { (l, t: T) =>
      l.docIdMin = math.min(l.docIdMin, docIdMin(t))
      l.docIdMax = math.max(l.docIdMax, docIdMax(t))
      l.terms += terms(t); l.rows += 1; l.bytes += bytes(t); l.hash ^= hash(t)
      l
    }

  private def lineageRows(stage: String, acc: CollectionAccumulator[(Int, LineageTally)]): Seq[LineageRow] =
    perPartition(acc).map { case (pid, l) =>
      LineageRow(stage, pid, l.docIdMin, l.docIdMax, l.terms, l.rows, l.bytes, l.hash)
    }

  /** Commit a root stage: its lineage rows, written after the stage's table
    * write returned (data committed), then its marker. A crash between data
    * and marker ⇒ the stage recomputes; stageComplete also reconciles the
    * table's row count against the lineage (SURVEY.md §7.4 item 5: never
    * trust file existence alone). One lineage directory per stage,
    * overwritten on recompute, so a retried stage leaves no stale lineage.
    */
  private def commit(spark: SparkSession, dir: String, stage: String, rows: Seq[LineageRow]): Unit = {
    import spark.implicits._
    rows.toDS().coalesce(1).write.mode("overwrite").parquet(s"$dir/lineage/$stage")
    Fs.touch(s"$dir/_STAGE_$stage")
  }
}
