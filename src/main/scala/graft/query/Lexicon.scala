package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.analyze.Analyzer
import graft.index.{Fs, Hit}
import graft.index.IndexBuilder.Snapshot

/** Term-dictionary query surface: prefix suggestions (the ES
  * `terms`-prefix / completion analog), fuzzy term matching (ES `fuzziness`
  * — reference queries run through ES 7.5, whose fuzzy terms resolve
  * against the Lucene term dictionary FST), and more-like-this term
  * selection (ES `more_like_this`, max_query_terms semantics).
  *
  * Everything here reads the index's TERM DICTIONARY (termstats: one row
  * per term per source with df), never the postings — the dictionary is
  * orders of magnitude smaller than the corpus (vocab vs corpus tokens), and
  * both the batch build and every compaction write it RANGE-SORTED on
  * `term`, so equality/IN/prefix predicates push down to the parquet scan
  * and prune to the matching row groups.
  *
  * Scale design for fuzzy match: Lucene walks an FST with a Levenshtein
  * automaton; a distributed re-statement of that walk would scan the
  * dictionary per query. Instead we precompute the SymSpell
  * deletion-neighborhood table once per index state — for every vocab term,
  * every string obtainable by deleting ≤ maxDist characters, stored
  * range-sorted on the deletion key. A query term's own ≤ maxDist-deletion
  * neighborhood (|t|+1 keys at d=1) is then a tiny pushed IN-filter: lookup
  * cost is independent of vocabulary size, exactly the property the FST
  * walk has on a single node. Sharing a deletion key is necessary but not
  * sufficient (e.g. "ab"/"ba" share "a" at edit distance 2), so candidates
  * are verified with exact Levenshtein (codegen'd built-in) before use.
  */
object Lexicon {

  /** df per term over batch ∪ streamed segments, summed across sources.
    * Tombstoned docs still count (Lucene pre-merge semantics — identical to
    * the df the scorer uses); a compaction purges them from the dictionary
    * and from here at the same instant, since both read the same table.
    */
  def termDictionary(spark: SparkSession, v: Snapshot): DataFrame =
    v.termstatsAll(spark).toDF()
      .groupBy("term").agg(sum("df").as("df"))

  // ---- prefix suggest -------------------------------------------------------

  /** Top-k terms by document frequency under a prefix — autocomplete over
    * the live index (batch ∪ streamed segments). One pruned dictionary
    * scan: `startsWith` pushes down as StringStartsWith and the term-sorted
    * layout confines it to the prefix's row groups; the groupBy shuffles
    * only the surviving prefix rows; TakeOrderedAndProject merges top-k.
    * Ties break by term ascending — deterministic across engines and runs.
    */
  def suggestSnap(spark: SparkSession, v: Snapshot, prefix: String,
                  k: Int = 10): DataFrame =
    v.termstatsAll(spark).toDF()
      .filter(col("term").startsWith(prefix))
      .groupBy("term").agg(sum("df").as("df"))
      .orderBy(desc("df"), col("term"))
      .limit(k)

  def suggest(spark: SparkSession, h: graft.index.IndexBuilder.Handle,
              prefix: String, k: Int = 10): DataFrame =
    suggestSnap(spark, h.snapshot, prefix, k)

  // ---- wildcard ------------------------------------------------------------

  /** Translate an ES `wildcard` pattern (`*` = any run, `?` = one char)
    * into (literal prefix, anchored Java regex). The prefix before the
    * first wildcard prunes the dictionary scan exactly like [[suggestSnap]]
    * (termstats is range-sorted on `term`, so StringStartsWith prunes to
    * the prefix's row groups); `rlike` (codegen'd) verifies survivors.
    */
  private[graft] def wildcardPlan(pattern: String): (String, String) = {
    require(pattern.nonEmpty, "empty wildcard pattern")
    val i = pattern.indexWhere(c => c == '*' || c == '?')
    val prefix = if (i < 0) pattern else pattern.substring(0, i)
    val sb = new StringBuilder("^")
    pattern.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c => sb.append(java.util.regex.Pattern.quote(c.toString))
    }
    (prefix, sb.append('$').toString)
  }

  /** Vocabulary terms matching the wildcard, df-ranked cap (the ES
    * `top_terms_N` rewrite). A LEADING-wildcard pattern is refused loudly:
    * it forces a full dictionary scan — ES disables `allow_leading_
    * wildcard`-style patterns on the same grounds; at 100 TB the right
    * structure is a reversed-term dictionary, not a silent full scan.
    */
  def wildcardTermsSnap(spark: SparkSession, v: Snapshot, pattern: String,
                        maxExpansions: Int = 50): Seq[String] = {
    val (prefix, re) = wildcardPlan(pattern)
    require(prefix.nonEmpty,
      s"leading-wildcard pattern '$pattern' would scan the whole " +
        "dictionary — anchor it with a literal prefix")
    import spark.implicits._
    v.termstatsAll(spark).toDF()
      .filter(col("term").startsWith(prefix) && col("term").rlike(re))
      .groupBy("term").agg(sum("df").as("df"))
      .orderBy(desc("df"), col("term"))
      .limit(maxExpansions)
      .select("term").as[String].collect().toSeq.sorted
  }

  /** Wildcard BM25 search — the expansion set scores as one disjunctive
    * query, identical to the fuzzy composition (same scorer, different
    * rewrite).
    */
  def wildcardSearch(spark: SparkSession, h: graft.index.IndexBuilder.Handle,
                     pattern: String, k: Int,
                     maxExpansions: Int = 50): Dataset[Hit] = {
    import spark.implicits._
    val v = h.snapshot
    val terms = wildcardTermsSnap(spark, v, pattern, maxExpansions)
    if (terms.isEmpty) spark.emptyDataset[Hit]
    else Searcher.topKTermsSnap(spark, v, terms, k)
  }

  // ---- regexp --------------------------------------------------------------

  /** Translate an ES `regexp` pattern (RE2/Java-compatible subset, always
    * anchored — Lucene regexp semantics) into (mandatory literal prefix,
    * anchored verify regex). The prefix is the leading run of literal
    * characters none of which carries a quantifier — every match of the
    * anchored pattern must start with it, so it prunes the term-sorted
    * dictionary scan exactly like [[wildcardPlan]]. A TOP-LEVEL alternation
    * is refused loudly: `ab|cd` matches need not share the `ab` prefix, so
    * prefix pruning would silently drop the `cd` arm — parenthesize
    * (`s(p|t)…`) to keep a shared mandatory prefix.
    */
  private[graft] def regexpPlan(pattern: String): (String, String) = {
    require(pattern.nonEmpty, "empty regexp pattern")
    var depth = 0; var inClass = false; var i = 0
    while (i < pattern.length) {
      pattern(i) match {
        case '\\' => i += 1 // escaped char: never opens/closes a group
        case '[' if !inClass => inClass = true
        case ']' if inClass => inClass = false
        case '(' if !inClass => depth += 1
        case ')' if !inClass => depth -= 1
        case '|' if !inClass && depth == 0 =>
          throw new IllegalArgumentException(
            s"top-level alternation in regexp '$pattern' defeats prefix " +
              "pruning — parenthesize the alternation so all arms share " +
              "a literal prefix")
        case _ =>
      }
      i += 1
    }
    val meta = ".?*+()[]{}|\\^$"
    val sb = new StringBuilder
    var j = 0; var stop = false
    while (!stop && j < pattern.length && meta.indexOf(pattern(j)) < 0) {
      // a literal followed by a quantifier is optional/repeatable — not a
      // mandatory prefix char (`ab*c` matches "ac"); stop BEFORE it
      if (j + 1 < pattern.length && "*?+{".indexOf(pattern(j + 1)) >= 0) stop = true
      else { sb.append(pattern(j)); j += 1 }
    }
    (sb.toString, s"^(?:$pattern)$$")
  }

  /** Vocabulary terms matching the regexp — the ES `regexp` query rewrite:
    * prefix-pruned dictionary scan (StringStartsWith pushes to the
    * term-sorted row groups), anchored `rlike` (codegen'd) verifies
    * survivors, df-ranked cap (`top_terms_N`). A pattern with NO mandatory
    * literal prefix is refused loudly — same grounds as leading wildcards:
    * it forces a full dictionary scan, and at 100 TB the right structure
    * for those is a reversed/trigram term dictionary, not a silent scan.
    */
  def regexpTermsSnap(spark: SparkSession, v: Snapshot, pattern: String,
                      maxExpansions: Int = 50): Seq[String] = {
    val (prefix, re) = regexpPlan(pattern)
    require(prefix.nonEmpty,
      s"regexp '$pattern' has no mandatory literal prefix — it would scan " +
        "the whole dictionary; lead with literal characters")
    import spark.implicits._
    v.termstatsAll(spark).toDF()
      .filter(col("term").startsWith(prefix) && col("term").rlike(re))
      .groupBy("term").agg(sum("df").as("df"))
      .orderBy(desc("df"), col("term"))
      .limit(maxExpansions)
      .select("term").as[String].collect().toSeq.sorted
  }

  /** Regexp BM25 search — the expansion set scores as one disjunctive
    * query: same scorer as wildcard/fuzzy, different dictionary rewrite.
    */
  def regexpSearch(spark: SparkSession, h: graft.index.IndexBuilder.Handle,
                   pattern: String, k: Int,
                   maxExpansions: Int = 50): Dataset[Hit] = {
    import spark.implicits._
    val v = h.snapshot
    val terms = regexpTermsSnap(spark, v, pattern, maxExpansions)
    if (terms.isEmpty) spark.emptyDataset[Hit]
    else Searcher.topKTermsSnap(spark, v, terms, k)
  }

  // ---- SymSpell fuzzy dictionary -------------------------------------------

  /** All strings obtainable from `s` by deleting at most `maxDist`
    * characters (including `s` itself), distinct. |result| ≤ 1 + L + L²/2
    * for maxDist = 2.
    */
  private[graft] def deletions(s: String, maxDist: Int): Seq[String] = {
    var frontier = Set(s)
    val out = scala.collection.mutable.LinkedHashSet(s)
    var d = 0
    while (d < maxDist) {
      // deleting from a 1-char string yields "" — a REQUIRED key: without
      // it, 1-char vocab terms and 1-char probes never share a key with
      // their edit-distance-1 neighbors (lev("a","b")=1 via the empty
      // alignment), breaking SymSpell ≡ brute-force completeness
      frontier = frontier.flatMap(w =>
        if (w.isEmpty) Set.empty[String]
        else (0 until w.length).map(i => w.substring(0, i) + w.substring(i + 1)).toSet)
      out ++= frontier.toSeq.sorted
      d += 1
    }
    out.toSeq
  }

  /** Artifact location for the deletion-neighborhood table: one per
    * (index dir, snapshot fingerprint, maxDist) — a new segment, tombstone
    * batch or epoch fold advances the fingerprint and mints a fresh dict
    * (the old one is swept at the next build, same discipline as the ANN
    * artifact dirs). The fingerprint rides in the name as a hex content
    * stamp, and is also written INTO the dir and re-verified at open.
    */
  private[graft] def fuzzyDictDir(v: Snapshot, maxDist: Int): String = {
    // the raw dir's hash rides in the sweep-stable prefix: sanitization
    // alone collapses distinct dirs (/data/idx-a vs /data/idx_a) into one
    // namespace, and Fs.sweepStaleStamps would then evict the OTHER index's
    // dict on every alternation
    val key = v.dir.replaceAll("[^A-Za-z0-9.]", "_") +
      Integer.toHexString(v.dir.hashCode)
    val fp = Integer.toHexString(v.fingerprint.hashCode)
    s"${sys.props("java.io.tmpdir")}/graft-lex/v1-d$maxDist-$key-$fp"
  }

  /** Build (or reuse) the SymSpell deletion table for this snapshot:
    * (delkey, term, df), range-sorted on delkey so probe IN-filters prune.
    * Cost: one dictionary scan fanning out ×(1+L) rows at d=1 — vocab-sized
    * work, done once per index state, amortized over every fuzzy query
    * until the next commit. df rides in the row so probes never join back
    * to termstats.
    */
  def buildFuzzyDict(spark: SparkSession, v: Snapshot, maxDist: Int = 1): String = {
    import spark.implicits._
    val dir = fuzzyDictDir(v, maxDist)
    if (!Fs.exists(s"$dir/_DONE") ||
        !Fs.readString(s"$dir/fingerprint").map(_.trim).contains(v.fingerprint)) {
      Fs.sweepStaleStamps(dir)
      Fs.delete(dir)
      val d = maxDist
      // persisted before the range sort: the boundary sampler executes the
      // child subtree, so the uncached plan ran the dictionary scan + the
      // ×(1+L) deletion fan-out TWICE; rows and layout are unchanged
      val fanout = termDictionary(spark, v)
        .select(col("term"), col("df")).as[(String, Long)]
        .flatMap { case (t, df) => deletions(t, d).iterator.map(k => (k, t, df)) }
        .toDF("delkey", "term", "df")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      fanout
        .repartitionByRange(col("delkey"))
        .sortWithinPartitions(col("delkey"))
        .write.mode("overwrite").parquet(s"$dir/dict")
      fanout.unpersist(blocking = false)
      Fs.writeString(s"$dir/fingerprint", v.fingerprint)
      Fs.touch(s"$dir/_DONE")
    }
    dir
  }

  /** Expand each query token to the vocabulary terms within Levenshtein
    * `maxDist`, capped at `maxExpansions` per token by (df desc, term asc)
    * — ES fuzzy keeps the highest-frequency expansions too
    * (`max_expansions`, default 50). ONE job for all tokens: the dict scan
    * is IN-pruned to the union of the tokens' deletion neighborhoods, each
    * candidate is attributed to its token by joining the (tiny, broadcast)
    * neighborhood table, verified with exact `levenshtein`, then top-N'd
    * per token by a window over candidates only. The collect is bounded by
    * tokens × maxExpansions.
    */
  def expandTerms(spark: SparkSession, v: Snapshot, tokens: Seq[String],
                  maxDist: Int = 1, maxExpansions: Int = 50): Map[String, Seq[String]] = {
    if (tokens.isEmpty) return Map.empty
    val dir = buildFuzzyDict(spark, v, maxDist)
    val keyPairs = tokens.distinct.flatMap(t => deletions(t, maxDist).map(k => (k, t)))
    val keys = keyPairs.map(_._1).distinct
    import spark.implicits._
    val probe = broadcast(keyPairs.toDF("delkey", "qtoken"))
    val w = Window.partitionBy("qtoken").orderBy(desc("df"), col("term"))
    val rows = spark.read.parquet(s"$dir/dict")
      .filter(col("delkey").isin(keys: _*))
      .join(probe, "delkey")
      .select(col("qtoken"), col("term"), col("df")).distinct()
      .filter(levenshtein(col("qtoken"), col("term")) <= maxDist)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxExpansions)
      .select(col("qtoken"), col("term"))
      .as[(String, String)].collect()
    rows.groupBy(_._1).map { case (q, ts) => q -> ts.map(_._2).toSeq.sorted }
  }

  /** Fuzzy BM25 search — ES `match` with `fuzziness` semantics restated:
    * each analyzed query token expands to its ≤ maxDist vocabulary
    * neighbors (capped at maxExpansions by df), and the union of expansions
    * scores as a disjunctive BM25 query (each matched expansion contributes
    * its own idf·impact — the multi-term scorer unchanged). Cost on top of
    * the equivalent literal query: one pruned deletion-table lookup.
    *
    * `conjunctive` = ES `operator: AND` with fuzziness: every ORIGINAL
    * token must match via at least one of ITS OWN expansions (Lucene's
    * bool-must over per-token fuzzy clauses). A flat conjunction over the
    * expansion union would instead demand EVERY expansion of EVERY token —
    * wrongly empty whenever a token has >1 expansion. Composition: one
    * disjunctive scored pass over the union (tombstone-filtered as usual),
    * then one semi-join per token against the docs holding any of that
    * token's expansions (each a pruned postings scan of terms the scoring
    * pass already touched); score stays the sum over ALL matched
    * expansions. A token with zero expansions makes the query
    * unsatisfiable → empty.
    */
  def fuzzySearch(spark: SparkSession, h: graft.index.IndexBuilder.Handle,
                  query: String, k: Int, maxDist: Int = 1,
                  maxExpansions: Int = 50,
                  conjunctive: Boolean = false): Dataset[Hit] = {
    val v = h.snapshot
    val toks = Analyzer.tokens(query, v.mode).toSeq.distinct
    val expanded = expandTerms(spark, v, toks, maxDist, maxExpansions)
    // key EVERY original token — a token with zero expansions must make a
    // conjunctive query unsatisfiable, not silently drop out of the groups
    val groups = toks.map(t => t -> expanded.getOrElse(t, Seq.empty)).toMap
    groupedSearch(spark, v, groups, k, conjunctive)
  }

  /** Shared composition for every expansion-group query (fuzzy, synonyms):
    * the union of all groups' terms scores as ONE disjunctive BM25 pass;
    * `conjunctive` restricts membership to docs matching ≥1 term of EVERY
    * group (grouped bool-must — a flat conjunction over the union would
    * wrongly demand every expansion of every token). A group with zero
    * terms makes a conjunctive query unsatisfiable → empty.
    */
  private[graft] def groupedSearch(spark: SparkSession, v: Snapshot,
                                   groups: Map[String, Seq[String]], k: Int,
                                   conjunctive: Boolean): Dataset[Hit] = {
    import spark.implicits._
    val expanded = groups.values.flatten.toSeq.distinct
    if (expanded.isEmpty) spark.emptyDataset[Hit]
    else if (!conjunctive) Searcher.topKTermsSnap(spark, v, expanded, k)
    else if (groups.values.exists(_.isEmpty)) spark.emptyDataset[Hit]
    else {
      val scored = Searcher.topKTermsSnap(spark, v, expanded, Int.MaxValue,
        ranked = false).toDF()
      // deterministic semi-join order (sorted keys) — result-equivalent in
      // any order, but keeps plans reproducible run to run
      val covered = groups.keys.toSeq.sorted.foldLeft(scored) { (acc, t) =>
        acc.join(Searcher.docsWithAnySnap(spark, v, groups(t)),
          Seq("docId"), "left_semi")
      }
      // rank and cut in QUANTIZED score space (floor(s·10⁴+0.5) desc,
      // docId asc) — the total order every other ranked surface (cursor
      // pages, hitsAsDocIds) guarantees; a raw-score cut could keep a
      // different doc at a quantized tie than the printed order implies
      val ranked = covered.orderBy(
        graft.Engine.quantized(col("score")).desc, col("docId"))
      (if (k == Int.MaxValue) ranked else ranked.limit(k)).as[Hit]
    }
  }

  // ---- query-time synonyms -------------------------------------------------

  /** Query-time synonym expansion — the ES `match` query under a
    * query-side `synonym` filter, OR-rewrite semantics: each analyzed
    * token's group is the token plus its synonym list, the union scores as
    * one disjunctive BM25 pass, and `conjunctive` (operator AND) demands
    * every ORIGINAL token match via its own group — the same grouped
    * composition as fuzzy, with a user-supplied map instead of an
    * edit-distance rewrite. DELIBERATE ANALOG, documented: Lucene's
    * SynonymQuery blends statistics (df = max over the set, tf summed) so
    * synonyms score as one pseudo-term; this engine keeps the one shared
    * disjunctive scorer — each expansion contributes its own idf·impact —
    * which is Lucene's own behavior for multi-term boolean rewrites and
    * keeps every expansion surface (fuzzy/wildcard/regexp/synonyms)
    * bit-consistent with each other and the SQL oracle.
    *
    * Synonyms are DIRECTIONAL (`spark -> [flink]` does not imply the
    * reverse); pass both directions for symmetric vocabularies. Unknown
    * synonym terms cost nothing: absent terms have no postings and a
    * pruned df lookup each.
    */
  def synonymSearch(spark: SparkSession, h: graft.index.IndexBuilder.Handle,
                    query: String, synonyms: Map[String, Seq[String]], k: Int,
                    conjunctive: Boolean = false): Dataset[Hit] = {
    val v = h.snapshot
    val toks = Analyzer.tokens(query, v.mode).toSeq.distinct
    val groups = toks.map(t =>
      t -> (t +: synonyms.getOrElse(t, Seq.empty)).distinct).toMap
    groupedSearch(spark, v, groups, k, conjunctive)
  }

  // ---- more-like-this -------------------------------------------------------

  /** Select the `topTerms` most characteristic terms of `text` by tf·idf
    * against the live index stats — the ES `more_like_this` term-selection
    * step (max_query_terms, default 25). The ranking key is QUANTIZED
    * (floor(tf·idf·10⁴ + 0.5), ties by term asc) so the selected set is
    * reproducible across engines — the same convention as score_q
    * everywhere else. Cost: tokenizing one document driver-side + one
    * pruned df lookup for its distinct terms.
    */
  def moreLikeThisTerms(spark: SparkSession, v: Snapshot, text: String,
                        topTerms: Int = 5): Seq[String] = {
    val toks = Analyzer.tokens(text, v.mode)
    if (toks.isEmpty) return Seq.empty
    val tf: Map[String, Int] =
      toks.groupBy(identity).map { case (t, xs) => t -> xs.length }
    val dfs = v.dfFor(spark, tf.keys.toSeq)
    val n = v.liveStats(spark)._1.n
    tf.toSeq
      // index-resolvable terms only (ES MLT semantics): a df=0 term would
      // take the MAXIMUM idf, crowd out real terms from the top-N, and
      // then match nothing — source text not fully covered by the index
      // (external docs, markup) must not degrade the query
      .filter { case (t, _) => dfs.getOrElse(t, 0L) > 0L }
      .map { case (t, f) =>
        (t, Searcher.quantize(f.toDouble * Bm25.idf(n, dfs(t))))
      }
      .sortBy { case (t, s) => (-s, t) }
      .take(topTerms)
      .map(_._1)
  }

  /** More-like-this search: docs scored by disjunctive BM25 over the source
    * text's top tf·idf terms. Callers exclude the source doc itself.
    */
  def moreLikeThis(spark: SparkSession, h: graft.index.IndexBuilder.Handle,
                   text: String, topTerms: Int = 5,
                   k: Int = Int.MaxValue): Dataset[Hit] = {
    import spark.implicits._
    val v = h.snapshot
    val terms = moreLikeThisTerms(spark, v, text, topTerms)
    if (terms.isEmpty) spark.emptyDataset[Hit]
    else Searcher.topKTermsSnap(spark, v, terms, k)
  }
}
