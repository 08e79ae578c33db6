package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analyze.Analyzer
import graft.query.{Aggs, ScalarOps, Searcher}
import graft.ops.{Dedup, Multimodal, Similarity, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry runs the engine on `sfDir`'s parquet tables; the
  * matching `oracleSql` entry is ANSI SQL DuckDB runs on the same tables.
  * Column names and ordering are aligned pairwise; float outputs are
  * quantized (see Engine.quantized — identical float ops both sides) so
  * cross-engine hashing is stable. Entries without oracleSql (approximate /
  * not SQL-expressible ops) get the driver's rows-only check and are
  * asserted against exact ground truth in ScalaTest instead.
  */
object SparkEntry {

  /** Flagship (SURVEY.md §7.5): build the inverted index over the sf0.001
    * corpus, answer a BM25 top-10, map hits back to doc ids.
    */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val h = Engine.indexFor(spark, sfDir)
    Engine.hitsAsDocIds(spark, h,
      Searcher.topK(spark, h, "spark merge", 10).toDF())
  }

  // ---- shared SQL fragments (DuckDB dialect) ------------------------------

  /** The Simple-mode tokenizer, transliterated (Analyzer.simple ≡ this). */
  private val toksCte =
    """toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      |  FROM documents
      |), t2 AS (SELECT doc_id, term FROM toks WHERE term <> '')""".stripMargin

  /** Word 3-gram shingles (Dedup.shingles transliterated). */
  private val shinglesCte =
    """pos AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w,
      |         generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS i
      |  FROM documents
      |), posnz AS (SELECT * FROM pos WHERE w <> ''),
      |sh AS (
      |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
      |  FROM posnz a
      |  JOIN posnz b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |  JOIN posnz c ON a.doc_id = c.doc_id AND c.i = a.i + 2
      |)""".stripMargin

  private val jaccardSql =
    s"""WITH $shinglesCte,
       |sz AS (SELECT doc_id, count(*)::DOUBLE AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, count(*)::DOUBLE AS i
       |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT a, b, CAST(floor(i / (sa.n + sb.n - i) * 10000 + 0.5) AS BIGINT) AS jacc_q
       |FROM inter JOIN sz sa ON inter.a = sa.doc_id JOIN sz sb ON inter.b = sb.doc_id
       |WHERE i / (sa.n + sb.n - i) >= 0.6
       |ORDER BY a, b""".stripMargin

  /** Full BM25 pipeline over `documents` (Bm25.scala transliterated).
    * `docWhere` restricts the corpus (the tombstone-compaction oracle:
    * after a compact purges deletes, the index IS a fresh build over the
    * surviving docs, so the oracle is BM25 over the filtered corpus).
    */
  private def bm25Sql(terms: Seq[String], conjunctive: Boolean,
                      docWhere: String = "TRUE", minMatch: Int = 1,
                      hitWhere: String = "TRUE",
                      notTerms: Seq[String] = Nil,
                      boosts: Map[String, Double] = Map.empty,
                      collapseBy: Option[String] = None): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    // tft has one row per (doc, term), so count(*) = matched distinct terms
    val having =
      if (conjunctive) s"HAVING count(*) = ${terms.distinct.size}"
      else if (minMatch > 1) s"HAVING count(*) >= $minMatch"
      else ""
    // per-clause boost factor (ES term^boost): multiplies the term's score
    // contribution; interpolated only when boosts are set so the plain
    // oracles stay byte-identical to their long-validated form
    val boostFactor =
      if (boosts.isEmpty) ""
      else "(CASE tft.term " + boosts.toSeq.sortBy(_._1).map { case (t, b) =>
        s"WHEN '$t' THEN $b" }.mkString(" ") + " ELSE 1.0 END) * "
    // the filter-context restriction / must_not exclusion are interpolated
    // only when asked for, so the ~5 unfiltered oracles stay byte-identical
    // to their long-validated form (no vacuous semi-join against documents)
    val hitConds =
      (if (hitWhere == "TRUE") Nil
       else Seq(s"doc_id IN (SELECT doc_id FROM documents WHERE $hitWhere)")) ++
      (if (notTerms.isEmpty) Nil
       else Seq(s"doc_id NOT IN (SELECT DISTINCT doc_id FROM t2 WHERE term IN " +
         s"(${notTerms.map(t => s"'$t'").mkString(", ")}))"))
    val hitFilter =
      if (hitConds.isEmpty) "" else "WHERE " + hitConds.mkString(" AND ")
    // field collapsing (ES `collapse`): winner per group on the QUANTIZED
    // score with a doc_id tiebreak — mirrors Searcher.collapseTop exactly
    val finalSelect = collapseBy match {
      case Some(f) =>
        s"""q AS (SELECT doc_id, CAST(floor(score * 10000 + 0.5) AS BIGINT) AS score_q
           |      FROM scores $hitFilter),
           |g AS (SELECT d.$f AS $f, q.doc_id AS doc_id, q.score_q AS score_q,
           |        row_number() OVER (PARTITION BY d.$f
           |                           ORDER BY q.score_q DESC, q.doc_id) AS rn
           |      FROM q JOIN documents d USING (doc_id))
           |SELECT $f, doc_id, score_q FROM g WHERE rn = 1 ORDER BY $f""".stripMargin
      case None =>
        s"""SELECT doc_id, CAST(floor(score * 10000 + 0.5) AS BIGINT) AS score_q
           |FROM scores
           |$hitFilter
           |ORDER BY score_q DESC, doc_id""".stripMargin
    }
    s"""WITH dsrc AS (SELECT * FROM documents WHERE $docWhere),
       |toks AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
       |  FROM dsrc
       |), t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
       |tft AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM t2 GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM t2 GROUP BY 1),
       |stats AS (SELECT (SELECT count(*) FROM dsrc)::DOUBLE AS n,
       |                 (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM dsrc)::DOUBLE AS avgdl),
       |dft AS (SELECT term, count(*)::DOUBLE AS df FROM tft GROUP BY 1),
       |scores AS (
       |  SELECT tft.doc_id AS doc_id,
       |         sum( $boostFactor ln(1 + (stats.n - dft.df + 0.5) / (dft.df + 0.5))
       |              * tft.tf / (tft.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ) AS score
       |  FROM tft
       |  JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       |  WHERE tft.term IN ($termList)
       |  GROUP BY 1 $having)${if (collapseBy.isDefined) "," else ""}
       |$finalSelect""".stripMargin
  }

  private def q4(e: String): String = s"CAST(floor(($e) * 10000 + 0.5) AS BIGINT)"

  /** BM25 where the term set comes from a QUERY-REWRITE CTE (named `xp`,
    * one column `term`) instead of a literal list — the oracle shape shared
    * by fuzzy search (xp = levenshtein expansion of the probe tokens) and
    * more-like-this (xp = the source doc's top tf·idf terms). `scoreWhere`
    * further restricts scored rows (MLT excludes the source doc).
    */
  private def bm25ExpandedSql(xpCte: String, scoreWhere: String = "TRUE"): String =
    s"""WITH dsrc AS (SELECT * FROM documents WHERE TRUE),
       |toks AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
       |  FROM dsrc
       |), t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
       |tft AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM t2 GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM t2 GROUP BY 1),
       |stats AS (SELECT (SELECT count(*) FROM dsrc)::DOUBLE AS n,
       |                 (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM dsrc)::DOUBLE AS avgdl),
       |dft AS (SELECT term, count(*)::DOUBLE AS df FROM tft GROUP BY 1),
       |$xpCte,
       |scores AS (
       |  SELECT tft.doc_id AS doc_id,
       |         sum( ln(1 + (stats.n - dft.df + 0.5) / (dft.df + 0.5))
       |              * tft.tf / (tft.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ) AS score
       |  FROM tft
       |  JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       |  WHERE tft.term IN (SELECT term FROM xp) AND ($scoreWhere)
       |  GROUP BY 1)
       |SELECT doc_id, CAST(floor(score * 10000 + 0.5) AS BIGINT) AS score_q
       |FROM scores ORDER BY score_q DESC, doc_id""".stripMargin

  /** Brute-force cosine top-20 from vec 0 — the oracle shared by every
    * exact-equivalent ANN entry (ann_cosine_topk, and the exhaustive-probe
    * IVF identities ann_ivf_topk / ann_ivf_append_topk): one SQL string, so
    * an arithmetic/quantization fix cannot make the ops silently disagree.
    */
  private def bruteCosineSql(eWhere: String): String =
    s"""WITH q AS (
        |  SELECT generate_subscripts(embedding, 1) AS i, unnest(embedding)::DOUBLE AS v
        |  FROM embeddings WHERE vec_id = 0),
        |e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding)::DOUBLE AS v
        |  FROM embeddings WHERE vec_id <> 0 AND ($eWhere)),
        |s AS (
        |  SELECT e.vec_id, sum(e.v * q.v) AS dot, sum(e.v * e.v) AS nv,
        |         (SELECT sum(v * v) FROM q) AS nq
        |  FROM e JOIN q USING (i) GROUP BY e.vec_id)
        |SELECT vec_id, CAST(floor(dot / (sqrt(nq) * sqrt(nv)) * 10000 + 0.5) AS BIGINT) AS cos_q
        |FROM s ORDER BY cos_q DESC, vec_id LIMIT 20""".stripMargin

  private val bruteCosineTopKSql = bruteCosineSql("TRUE")

  /** Trigram tokens (Analyzer.Trigram(Simple) transliterated): char 3-grams
    * per token, whole token when length ≤ 3; constant series bound (40)
    * because DuckDB 1.0 lacks lateral generate_series.
    */
  private val trigramCte =
    s"""$toksCte,
       |tri AS (
       |  SELECT doc_id,
       |         CASE WHEN length(term) <= 3 THEN term ELSE substring(term, gs, 3) END AS term
       |  FROM t2 CROSS JOIN generate_series(1, 40) g(gs)
       |  WHERE gs <= greatest(length(term) - 2, 1))""".stripMargin

  /** BM25 over the trigram token stream (substring-search mode, FIXTURES.md
    * q6), conjunctive.
    */
  private def bm25TrigramSql(terms: Seq[String]): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""WITH $trigramCte,
       |tft AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tri GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tri GROUP BY 1),
       |stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
       |                 (SELECT sum(dl) FROM dl) / (SELECT count(*) FROM documents)::DOUBLE AS avgdl),
       |dft AS (SELECT term, count(*)::DOUBLE AS df FROM tft GROUP BY 1),
       |scores AS (
       |  SELECT tft.doc_id AS doc_id,
       |         sum( ln(1 + (stats.n - dft.df + 0.5) / (dft.df + 0.5))
       |              * tft.tf / (tft.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ) AS score
       |  FROM tft
       |  JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       |  WHERE tft.term IN ($termList)
       |  GROUP BY 1 HAVING count(*) = ${terms.distinct.size})
       |SELECT doc_id, CAST(floor(score * 10000 + 0.5) AS BIGINT) AS score_q
       |FROM scores ORDER BY score_q DESC, doc_id""".stripMargin
  }

  // ---- engine-side query helpers ------------------------------------------

  private def bm25(spark: SparkSession, sfDir: String, q: String,
                   conjunctive: Boolean = false, minMatch: Int = 1): DataFrame = {
    val h = Engine.indexFor(spark, sfDir)
    // exhaustive mode (k = ∞): membership is complete, so the DuckDB compare
    // is robust — rank-identity of true top-k is asserted in ScalaTest
    // against the naive oracle instead.
    Engine.hitsAsDocIds(spark, h,
      Searcher.topK(spark, h, q, Int.MaxValue, conjunctive,
        minMatch = minMatch).toDF())
  }

  // ---- driver contract ------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // === full-text core (SURVEY §2 F10/F11/F1) ===
    "ft_bm25_single" -> ((s, dir) => bm25(s, dir, "spark")),
    "ft_bm25_multi" -> ((s, dir) => bm25(s, dir, "spark merge window")),
    "ft_bm25_and" -> ((s, dir) => bm25(s, dir, "join filter", conjunctive = true)),
    // ES minimum_should_match: docs matching >= 2 of the 3 terms
    "ft_bm25_min_match" -> ((s, dir) => bm25(s, dir, "spark merge window", minMatch = 2)),
    // ES term^boost clause weights: score = Σ boost_t · bm25_t
    "ft_bm25_boost" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      Engine.hitsAsDocIds(s, h,
        Searcher.topKBoosted(s, h, "spark^2.5 merge", Int.MaxValue).toDF())
    },
    // ES bool.must_not: scored must, non-scoring exclusion of docs
    // containing the excluded term (denylist inside the collectors)
    "ft_bm25_must_not" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      Engine.hitsAsDocIds(s, h,
        Searcher.topKMustNot(s, h, "spark merge", "window", Int.MaxValue).toDF())
    },
    // ES sort-by-field: the query decides membership, a doc field (dl)
    // decides order; top-50 via TakeOrderedAndProject, never a global sort
    "ft_search_sortby" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      val docIdExpr = element_at(split(col("path"), "/"), 2).cast("long")
      Searcher.searchSortBy(s, h, "spark merge",
          Seq(col("dl").desc, docIdExpr.asc), 50)
        .select(docIdExpr.as("doc_id"), col("dl").cast("long").as("dl"))
        .orderBy(desc("dl"), col("doc_id"))
    },
    // ES field collapsing: ONE best-scoring hit per language — the group
    // field and the contract doc_id both come from the stored docmeta path
    // ("lang/doc_id"), winner chosen on (score_q desc, doc_id asc)
    "ft_collapse" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      Searcher.collapseTop(s, h, "spark merge",
          element_at(split(col("path"), "/"), 1), "lang",
          element_at(split(col("path"), "/"), 2), "doc_id")
        .orderBy("lang")
    },
    // ES wildcard query: the pattern rewrites against the term dictionary
    // (prefix-pruned scan + anchored regex), expansion scores disjunctive
    // BM25 — cap provably non-binding on this corpus (6-term expansion)
    "ft_wildcard_search" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      Engine.hitsAsDocIds(s, h,
        graft.query.Lexicon.wildcardSearch(s, h, "s*", Int.MaxValue).toDF())
    },
    // ES regexp query: anchored-pattern dictionary rewrite (mandatory-
    // prefix-pruned scan + rlike verify), expansion scores disjunctive
    // BM25 — cap non-binding on this corpus (2-term expansion)
    "ft_regexp_search" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      Engine.hitsAsDocIds(s, h,
        graft.query.Lexicon.regexpSearch(s, h, "s(p|t)[a-z]*", Int.MaxValue).toDF())
    },
    // ES multi-index search (GET /a,b/_search, dfs global stats): two
    // disjoint half-corpus indexes scored against union stats — the union
    // of per-index hits must equal single-index BM25 over the full corpus
    "ft_federated_search" -> { (s, dir) =>
      val parts = Engine.federatedIndexesFor(s, dir)
      val out = Searcher.topKFederated(s, parts, "stream filter", Int.MaxValue)
      parts.map { case (tag, h) =>
        Engine.hitsAsDocIds(s, h,
          out.filter(col("index") === tag).select(col("docId"), col("score")),
          ranked = false)
      }.reduce(_ union _).orderBy(desc("score_q"), col("doc_id"))
    },
    // ES _explain: per-clause BM25 breakdown for one (query, doc) pair —
    // tf/df/dl and quantized idf/impact/contribution per matched term
    "ft_explain" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      val id = h.docmetaAll(s).toDF()
        .filter(element_at(split(col("path"), "/"), 2) === "7")
        .select(col("docId")).collect().head.getLong(0)
      Searcher.explainScore(s, h, "spark merge window", id)
    },
    // ES bool filter context: scored must + non-scoring metadata filter —
    // membership restricted inside the collectors, BM25 stats corpus-wide
    "ft_search_filtered" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      Engine.hitsAsDocIds(s, h,
        Searcher.topKFiltered(s, h, "spark merge", Int.MaxValue,
          element_at(split(col("path"), "/"), 1) === "en").toDF())
    },
    "ft_term_lookup" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      val dm = h.docmeta(s).toDF()
      Searcher.termLookup(s, h, "customer")
        .join(dm.select(col("docId"),
          element_at(split(col("path"), "/"), 2).cast("long").as("doc_id")), "docId")
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
    "ft_docmeta" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      h.docmeta(s).toDF()
        .select(element_at(split(col("path"), "/"), 2).cast("long").as("doc_id"),
          col("dl").cast("long").as("dl"), col("sha256"))
        .orderBy(col("doc_id"))
    },
    "ft_termstats" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      h.termstats(s).toDF().select(col("term"), col("df")).orderBy(col("term"))
    },
    // the ES `_cat/indices` / `_stats` readback: index-level totals served
    // from the stored stats table (n, totalTokens — written once at build,
    // lineage-verified) plus the dictionary size (one termstats scan);
    // avgdl quantized with the standard convention. The oracle recomputes
    // all four from the raw corpus.
    "ft_index_stats" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      val v = h.snapshot
      val st = v.liveStats(s)._1
      graft.query.Lexicon.termDictionary(s, v)
        .agg(count(lit(1)).as("vocab_size"))
        .select(lit(st.n).as("n_docs"),
          lit(st.totalTokens).as("total_tokens"),
          col("vocab_size"),
          lit(graft.query.Searcher.quantize(st.avgdl)).as("avgdl_q"))
    },
    // F10/q6: substring search via a trigram index, conjunctive BM25
    "ft_trigram_search" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir, Analyzer.Trigram(Analyzer.Simple))
      Engine.hitsAsDocIds(s, h,
        Searcher.topK(s, h, "windo", Int.MaxValue, conjunctive = true).toDF())
    },
    // live ingest searchability (SURVEY §2 G1): batch index over 80% of the
    // corpus + one streamed segment (built through the actual streaming
    // segment writer) holding the rest; the query runs over the union with
    // refreshed N/avgdl/df, so the result must equal — and is checked
    // against — the full-corpus oracle.
    "ft_streamed_search" -> { (s, dir) =>
      val h = Engine.streamedIndexFor(s, dir)
      Engine.hitsAsDocIds(s, h,
        Searcher.topK(s, h, "stream data", Int.MaxValue).toDF())
    },
    // index-backed phrase search: conjunctive WAND candidates + adjacency
    // verified against the positional postings stage (no source re-read);
    // oracle = conjunctive BM25 filtered by token adjacency in SQL. The
    // positional tier is provisioned by the Engine FIXTURE helper — the
    // query path itself fails loudly on an index without positions.
    "ft_phrase_positional" -> { (s, dir) =>
      val h = Engine.positionalIndexFor(s, dir)
      Engine.hitsAsDocIds(s, h, graft.query.Phrase.search(s, h, "join order"))
    },
    // segment compaction (the ES background-merge analog, Compactor.scala):
    // batch index over 80% + one streamed segment, then compact — all
    // segments fold into a new epoch (re-ranked dense docIds, main salt
    // scheme, maxImpact at the union avgdl, atomic CURRENT flip). The
    // compacted single-table index must still equal the full-corpus oracle.
    "ft_compacted_search" -> { (s, dir) =>
      val h = Engine.compactedIndexFor(s, dir)
      Engine.hitsAsDocIds(s, h,
        graft.query.Searcher.topK(s, h, "merge batch", Int.MaxValue).toDF())
    },
    // index-level DELETE, tier 1 (LIVE tombstones, Compactor.tombstone):
    // docs with doc_id % 7 == 3 are tombstoned; every query path excludes
    // them immediately while scores keep the stored full-corpus stats
    // (Lucene deleted-docs-count-until-merge semantics) — the oracle is
    // full-corpus BM25 filtered OUTSIDE the scoring pipeline.
    "ft_tombstone_search" -> { (s, dir) =>
      val h = Engine.tombstonedLiveIndexFor(s, dir)
      Engine.hitsAsDocIds(s, h,
        Searcher.topK(s, h, "merge spark", Int.MaxValue).toDF())
    },
    // index-level DELETE, tier 2 (PURGED at compaction): the fold drops
    // tombstoned docs before re-ranking, so the epoch equals a fresh build
    // over the survivors — the oracle is BM25 over the FILTERED corpus
    // (restricted N/avgdl/df and all).
    "ft_tombstone_compact" -> { (s, dir) =>
      val h = Engine.tombstonedCompactedIndexFor(s, dir)
      Engine.hitsAsDocIds(s, h,
        Searcher.topK(s, h, "merge spark", Int.MaxValue).toDF())
    },
    // COMPOSED query + aggregation in one pass (the ES `_search` body
    // shape: query + aggs per request — Searcher.searchAgg): per-lang
    // bucket stats over the docs matching a two-term disjunctive query.
    // Per-doc scores are quantized BEFORE summing so the aggregate is
    // summation-order independent in both engines.
    "ft_search_agg" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      Searcher.searchAgg(s, h, "merge window") { hits =>
        hits.groupBy(col("lang"))
          .agg(count(lit(1)).as("n"),
            sum(col("dl")).cast("long").as("sum_dl"),
            sum(Engine.quantized(col("score"))).as("sum_score_q"))
          .orderBy(col("lang"))
      }
    },
    // the reference's own composed request, exactly (postman :152-183:
    // a `query` paired with `significant_terms` in ONE body): JLH-scored
    // significant terms where the FOREGROUND is the docs matching the
    // search and the background is the whole corpus — same arithmetic as
    // agg_sig_terms, foreground swapped from a lang filter to query hits.
    "ft_search_sigterms" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      Searcher.searchAgg(s, h, "stream data") { hits =>
        val hitIds = hits.select(
          element_at(split(col("path"), "/"), 2).cast("long").as("doc_id")).distinct()
        val docs = s.read.parquet(s"$dir/documents.parquet")
        val toks = docs.select(col("doc_id"),
            explode(split(lower(col("text")), "[^a-z0-9]+")).as("term"))
          .filter(col("term") =!= "").distinct()
        val flagged = toks.join(hitIds.withColumn("is_fg", lit(true)), Seq("doc_id"), "left")
        val perTerm = flagged.groupBy(col("term")).agg(
          count(lit(1)).cast("double").as("bg"),
          count(when(col("is_fg"), 1)).cast("double").as("fg"))
        val totals = docs.agg(count(lit(1)).cast("double").as("bg_total"))
          .crossJoin(hitIds.agg(count(lit(1)).cast("double").as("fg_total")))
        perTerm.filter(col("fg") > 0).crossJoin(broadcast(totals))
          .withColumn("fgp", col("fg") / col("fg_total"))
          .withColumn("bgp", col("bg") / col("bg_total"))
          .withColumn("jlh", (col("fgp") - col("bgp")) * (col("fgp") / col("bgp")))
          .select(col("term"), Engine.quantized(col("jlh") * 1000).as("jlh_q"))
          .orderBy(desc("jlh_q"), col("term"))
          .limit(10)
      }
    },
    // keyset pagination over RANKED hits — the ES search_after analog
    // (es/adapter.go:156-182 pages its readback exactly this way): page 1 =
    // top-10 by (score_q desc, doc_id); its last row is the cursor; the
    // entry returns PAGE 2 — the next 10 strictly after the cursor. The
    // page-2 plan re-scans the query's postings ONCE with the cursor's
    // score bound applied inside the per-salt collectors (docs above the
    // cursor never emit), then TakeOrderedAndProject(10): per-partition
    // top-k, no global sort, no top-2k re-run. One snapshot covers both
    // pages (the ES point-in-time analog).
    "ft_search_after" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      val snap = h.snapshot
      val q = "merge stream"
      val page1 = Engine.hitsAsDocIds(s, h,
        Searcher.topKSnap(s, snap, q, Int.MaxValue, ranked = false).toDF())
        .limit(10).collect()
      if (page1.length < 10)
        s.range(0).select(col("id").as("doc_id"), col("id").as("score_q"))
      else {
        val cs = page1.last.getAs[Long]("score_q")
        val cd = page1.last.getAs[Long]("doc_id")
        Engine.hitsAsDocIds(s, h,
            Searcher.topKSnap(s, snap, q, Int.MaxValue, ranked = false,
              maxScoreQ = cs).toDF(), ranked = false)
          .filter(col("score_q") < cs ||
            (col("score_q") === cs && col("doc_id") > cd))
          .orderBy(desc("score_q"), col("doc_id"))
          .limit(10)
      }
    },
    // ES _count: live docs matching the query — membership only, NO BM25
    // evaluation (the cheapest request in the ES API: result-size probes,
    // facet denominators). The OR form exercises the per-salt tally path;
    // the m-of-n form the minMatch filter; the single-term zero-IO
    // metadata fast path is spec-asserted (EngineSpec).
    "ft_count" -> ((s, dir) =>
      Searcher.countMatching(s, Engine.indexFor(s, dir), "spark merge")),
    "ft_count_min2" -> ((s, dir) =>
      Searcher.countMatching(s, Engine.indexFor(s, dir), "spark merge window",
        minMatch = 2)),
    // ES rescore: two-phase ranking — the broad OR match re-ranked by the
    // phrase tier before the final cut (combined_q = 1·base_q + 2·phrase_q,
    // integer weights in quantized space — the cross-engine-exact analog of
    // ES query_weight/rescore_query_weight). Exhaustive window here so the
    // k=10 cut is taken in (score_q, doc_id) space on both engines; the
    // finite-window semantics (outside-window docs never re-enter) are
    // spec-asserted (EngineSpec).
    "ft_rescore" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      val v = h.snapshot
      val mapping = v.docmetaAll(s).toDF().select(col("docId"),
        element_at(split(col("path"), "/"), 2).cast("long").as("doc_id"))
      val phrase = Searcher.topKSnap(s, v, "join order", Int.MaxValue,
          conjunctive = true, ranked = false).toDF()
        .join(mapping, "docId")
        .join(s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text")), "doc_id")
        .filter(lower(col("text")).contains("join order"))
        .select(col("docId"), col("score"))
      Searcher.rescoreSnap(s, v, "spark merge", Int.MaxValue, Int.MaxValue,
          queryWeightQ = 1L, rescoreWeightQ = 2L, conjunctive = false,
          rescoreHits = phrase)
        .join(mapping, "docId")
        .select(col("doc_id"), col("score_q"))
        .orderBy(desc("score_q"), col("doc_id"))
        .limit(10)
    },
    // prefix suggest (ES terms-prefix / completion analog): top-10
    // dictionary terms under the prefix by df — ONE pruned scan of the
    // term-sorted termstats table (StringStartsWith pushes down), ties by
    // term asc (Lexicon.suggest)
    "ft_prefix_suggest" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      graft.query.Lexicon.suggest(s, h, "s", 10)
    },
    // fuzzy search (ES match + fuzziness): BOTH probe tokens are
    // out-of-vocabulary typos ("spork", "strean"); the SymSpell deletion
    // dictionary expands them to their edit-distance-≤1 vocabulary
    // neighbors and the union scores as a disjunctive BM25 query. The
    // max_expansions cap (1000) provably never binds on this corpus, so
    // the oracle is the UNCAPPED SQL expansion via levenshtein().
    "ft_fuzzy_search" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      Engine.hitsAsDocIds(s, h,
        graft.query.Lexicon.fuzzySearch(s, h, "spork strean", Int.MaxValue,
          maxDist = 1, maxExpansions = 1000).toDF())
    },
    // query-time synonyms (ES match + synonym filter, OR-rewrite): each
    // token's group = token + synonym list; disjunctive union scoring
    "ft_synonym_search" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      Engine.hitsAsDocIds(s, h,
        graft.query.Lexicon.synonymSearch(s, h, "spark merge",
          Map("spark" -> Seq("stream")), Int.MaxValue).toDF())
    },
    // synonyms with operator AND (grouped bool-must): membership =
    // (spark OR stream) AND merge, scores over ALL matched expansions
    "ft_synonym_search_and" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      Engine.hitsAsDocIds(s, h,
        graft.query.Lexicon.synonymSearch(s, h, "spark merge",
          Map("spark" -> Seq("stream")), Int.MaxValue,
          conjunctive = true).toDF())
    },
    // ES percolator: stored queries (all / any / m-of-n / unmatchable
    // shapes) match incoming docs — the corpus plays the incoming stream
    "ft_percolate" -> { (s, dir) =>
      import s.implicits._
      val queries = Seq(
        ("q_all", Seq("spark", "merge"), 2),
        ("q_any", Seq("stream", "filter"), 1),
        ("q_mofn", Seq("spark", "window", "scan", "sort"), 2),
        ("q_nohit", Seq("spark", "zzz"), 2)
      ).toDF("query_id", "terms", "min_match")
      graft.ops.Percolator
        .percolate(s, queries, s.read.parquet(s"$dir/documents.parquet"))
        .orderBy(col("query_id"), col("doc_id"))
    },
    // more-like-this (ES more_like_this): the source doc's top-5 terms by
    // QUANTIZED tf·idf (ties by term asc — reproducible across engines)
    // become a disjunctive BM25 query; the source doc itself is excluded
    // from the results, not from the corpus stats (ES semantics).
    "ft_more_like_this" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      val srcId = 7L
      val text = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") === srcId).select(col("text")).head().getString(0)
      Engine.hitsAsDocIds(s, h,
          graft.query.Lexicon.moreLikeThis(s, h, text, topTerms = 5).toDF(),
          ranked = false)
        .filter(col("doc_id") =!= srcId)
        .orderBy(desc("score_q"), col("doc_id"))
    },
    // highlight (ES `highlight`, plain-highlighter semantics): every hit
    // carries the `window`-token fragment starting at the FIRST occurrence
    // of any query term — snippet from re-analyzing the hit docs' source
    // (the ES architecture choice), so the cost scales with hits returned,
    // never the corpus
    "ft_highlight" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      graft.query.Highlight.snippets(s, h,
        s.read.parquet(s"$dir/documents.parquet"), "merge stream")
    },
    // phrase search: candidate-then-verify — conjunctive WAND candidates,
    // then exact phrase check against the source text (the cheap pattern
    // when the index has no positions; ft_phrase_positional is the
    // index-backed variant)
    "ft_phrase_search" -> { (s, dir) =>
      val h = Engine.indexFor(s, dir)
      val ranked = Engine.hitsAsDocIds(s, h,
        Searcher.topK(s, h, "join order", Int.MaxValue, conjunctive = true).toDF())
      ranked.join(s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        .filter(lower(col("text")).contains("join order"))
        .select(col("doc_id"), col("score_q"))
        .orderBy(desc("score_q"), col("doc_id"))
    },

    // === analytical surface (SURVEY §2 E/F) ===
    "agg_date_histogram" -> ((s, d) => Aggs.dateHistogram(s, d)),
    "agg_sum_by_day" -> ((s, d) => Aggs.sumByDay(s, d)),
    "agg_exists_filter" -> ((s, d) => Aggs.existsFilter(s, d)),
    "agg_sig_terms" -> ((s, d) => Aggs.significantTerms(s, d)),
    "agg_terms_top10" -> ((s, d) => Aggs.termsTop10(s, d)),
    "agg_must_filter" -> ((s, d) => Aggs.mustFilter(s, d)),
    "agg_hourly_avg" -> ((s, d) => Aggs.hourlyAvg(s, d)),
    "agg_top10_values" -> ((s, d) => Aggs.top10Values(s, d)),
    "agg_stats" -> ((s, d) => Aggs.statsAgg(s, d)),
    "agg_range" -> ((s, d) => Aggs.rangeAgg(s, d)),
    "agg_count_range" -> ((s, d) => Aggs.countRange(s, d)),
    "agg_first_last" -> ((s, d) => Aggs.firstLast(s, d)),
    // ES percentiles agg, exact-rank semantics (value at rank
    // floor((n-1)·p) per group — ES's own t-digest is approximate and
    // un-oracle-able; Aggs.cardinalityApprox/percentile sketch parity is
    // spec-tested instead)
    "agg_percentiles" -> ((s, d) => Aggs.percentiles(s, d)),
    // ES cardinality agg (exact form; the HLL++ sketch variant is
    // Aggs.cardinalityApprox, spec-tested within its rsd bound)
    "agg_cardinality" -> ((s, d) => Aggs.cardinality(s, d)),
    // ES extended_stats (one-pass sums → population variance/std — exact
    // doubles for integral inputs, so quantization is cross-engine-safe)
    // and rare_terms (the long-tail complement of terms top-N: buckets
    // with doc count ≤ 2, count-ascending — exact here, no CuckooFilter,
    // because the full agg is distributed)
    "agg_extended_stats" -> ((s, d) => Aggs.extendedStats(s, d)),
    "agg_rare_terms" -> ((s, d) => Aggs.rareTerms(s, d)),
    // ES histogram agg (numeric interval) and top_hits-under-terms
    "agg_histogram" -> ((s, d) => Aggs.histogram(s, d)),
    "agg_top_hits" -> ((s, d) => Aggs.topHits(s, d)),
    // ES filters agg (named predicate buckets + other_bucket) and
    // date_range agg (named half-open ranges) — one conditional-agg scan
    "agg_filters" -> ((s, d) => Aggs.filtersAgg(s, d)),
    "agg_date_range" -> ((s, d) => Aggs.dateRangeAgg(s, d)),
    // ES composite agg with `after`: page 2 (buckets 11-20) of the
    // (event_type, day) bucket space, resumed from page 1's after_key —
    // the collect is the 10-row page 1, exactly the ES client round-trip
    "agg_composite_page" -> { (s, d) =>
      val p1 = Aggs.compositePage(s, d, 10).select("event_type", "day").collect()
      require(p1.length == 10, s"composite page 1 short: ${p1.length}")
      Aggs.compositePage(s, d, 10,
        afterKey = Some((p1.last.getString(0), p1.last.getString(1))))
    },
    "win_gap_detect" -> ((s, d) => Aggs.gapDetect(s, d)),
    "agg_range_reconcile" -> ((s, d) => Aggs.rangeReconcile(s, d)),
    "join_revenue" -> ((s, d) => Aggs.joinRevenue(s, d)),
    "join_semi" -> ((s, d) => Aggs.semiJoin(s, d)),
    "gen_explode_tokens" -> ((s, d) => Aggs.explodeTokens(s, d)),
    "win_lag_diff" -> ((s, d) => Aggs.lagDiff(s, d)),
    "page_cursor" -> ((s, d) => Aggs.pageAfterCursor(s, d)),
    "fn_enum_prettify" -> ((s, d) => Aggs.enumPrettify(s, d)),
    "fn_bitmask_flags" -> ((s, d) => Aggs.bitmaskFlags(s, d)),
    "fn_composite_token" -> ((s, d) => Aggs.compositeToken(s, d)),
    "fn_memo_normalize" -> ((s, d) => Aggs.memoNormalize(s, d)),
    "fn_fixed_point" -> ((s, d) => ScalarOps.fixedPoint(s, d)),
    "fn_rational" -> ((s, d) => ScalarOps.rationalPrice(s, d)),
    "fn_nullable_struct" -> ((s, d) => ScalarOps.nullableStruct(s, d)),
    "fn_asset_id" -> ((s, d) => ScalarOps.assetId(s, d)),
    "fn_success_gate" -> ((s, d) => ScalarOps.successGate(s, d)),
    "fn_epoch_ts" -> ((s, d) => ScalarOps.epochTs(s, d)),
    "fn_type_dispatch" -> ((s, d) => ScalarOps.typeDispatch(s, d)),
    "gen_mirror_fanout" -> ((s, d) => ScalarOps.mirrorFanout(s, d)),
    // native Catalyst expression (codegen'd) — code-aware tokenizer. The
    // corpus is all-lowercase, so both engines first derive the same
    // deterministic mixed-case text (two uppercased slices ⇒ camelCase +
    // acronym boundaries on every doc); the oracle transliterates the full
    // boundary rules into regex passes and checks token CONTENT (md5 of the
    // joined stream), not just the count.
    "fn_code_tokens" -> { (s, d) =>
      graft.functions.CodeTokens.register(s)
      s.read.parquet(s"$d/documents.parquet")
        .withColumn("mixed", concat(
          upper(substring(col("text"), 1, 8)), substring(col("text"), 9, 12),
          upper(substring(col("text"), 21, 5)), expr("substring(text, 26)")))
        .withColumn("toks", call_function("code_tokens", col("mixed")))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          md5(concat_ws(" ", col("toks"))).as("fp"))
        .orderBy(col("doc_id"))
    },

    // === training-data pipeline ops ===
    "dedup_exact" -> ((s, d) => Dedup.exact(s, d)),
    // the APPLY step: the deduplicated corpus (non-keepers anti-joined out)
    "dedup_apply" -> ((s, d) => Dedup.applyClusters(s, d)),
    "dedup_jaccard" -> ((s, d) => Dedup.jaccardPairs(s, d)),
    "dedup_minhash_lsh" -> ((s, d) => Dedup.minhashLshPairs(s, d)),
    // connected-component keeper assignment over the verified pair set
    // (same recall=1 oracle contract as dedup_minhash_lsh above)
    "dedup_clusters" -> ((s, d) => Dedup.dedupClusters(s, d)),
    // benchmark decontamination: corpus (doc_id % 3 != 0) vs an external
    // reference/eval set (doc_id % 3 == 0) — cross-table MinHash bands +
    // exact verify; same recall=1 oracle contract as dedup_minhash_lsh
    // (planted near-dups straddle the split; OpsSpec pins the recall)
    "dedup_decontaminate" -> { (s, d) =>
      val docsDf = s.read.parquet(s"$d/documents.parquet")
      Dedup.decontaminatePairs(s,
        docsDf.filter(col("doc_id") % 3 =!= 0),
        docsDf.filter(col("doc_id") % 3 === 0))
    },
    // exact-tier decontamination — the verbatim eval-doc-in-training case:
    // the reference set is docs doc_id % 7 == 0 (their texts ARE in the
    // corpus, modeling leaked eval items); drop set = every corpus doc
    // whose digest appears in the reference
    "dedup_decontam_exact" -> { (s, d) =>
      val docsDf = s.read.parquet(s"$d/documents.parquet")
      Dedup.decontaminateExact(s, docsDf, docsDf.filter(col("doc_id") % 7 === 0))
    },
    "dedup_simhash" -> ((s, d) => Dedup.simhashPairs(s, d)),
    // value-level oracle for the simhash ALGORITHM (md5 basis — the pair
    // queries above keep the faster seeded mixer and stay rows-only)
    "dedup_simhash_fp" -> ((s, d) => Dedup.simhashMd5Fingerprint(s, d)),
    "dedup_simhash_wide" -> ((s, d) => Dedup.simhashPairsWide(s, d)),
    "ann_cosine_topk" -> ((s, d) => Similarity.cosineTopK(s, d)),
    "ann_cosine_pairs" -> ((s, d) => Similarity.cosinePairs(s, d)),
    "ann_lsh_topk" -> ((s, d) => Similarity.lshTopK(s, d)),
    // IVF ANN under the oracle: with nprobe = lists the probe is exhaustive,
    // so the result is exactly the brute-force top-k arithmetic — which
    // makes the whole buildIvf → partitioned-layout → probe → rescore
    // pipeline oracle-checkable (that a pruned probe reads only its lists'
    // files is asserted in OpsSpec; ann_ivf_probe below exercises it).
    "ann_ivf_topk" -> ((s, d) => Similarity.ivfTopK(s, d, lists = 16, nprobe = 16)),
    // INCREMENTAL IVF under the oracle: index built over 3/4 of the corpus,
    // the rest ivfAppend'ed against the frozen centroids (marker-committed
    // delta, partition-pruned like the base); the exhaustive probe must
    // equal brute force over the FULL table — green only if the append
    // committed every new vector exactly once.
    "ann_ivf_append_topk" -> ((s, d) => Similarity.ivfAppendTopK(s, d)),
    // ANN-level DELETE (the Compactor.tombstone twin): vec_ids ≡ 1 (mod 5)
    // tombstoned as a marker-committed del delta; the exhaustive probe
    // filters them live, so it must equal brute force over the SURVIVORS
    "ann_tombstone_topk" -> ((s, d) => Similarity.ivfTombstoneTopK(s, d)),
    // default approximate probe (nprobe < lists): reads only nprobe/lists of
    // the table, the files of its lists — rows-only check (recall vs brute is
    // asserted in OpsSpec), like the other approximate ops.
    "ann_ivf_probe" -> ((s, d) => Similarity.ivfTopK(s, d, lists = 16, nprobe = 4)),
    "ann_centroid_assign" -> ((s, d) => Similarity.centroidAssign(s, d)),
    // embedding-space decontamination (the semantic tier): corpus vectors
    // (vec_id % 3 != 0) within cosine 0.45 of any reference vector
    // (% 3 == 0) — one narrow broadcast map, zero shuffles
    "ann_decontaminate" -> { (s, d) =>
      val e = s.read.parquet(s"$d/embeddings.parquet")
      Similarity.decontaminateEmbeddings(s,
        e.filter(col("vec_id") % 3 =!= 0), e.filter(col("vec_id") % 3 === 0),
        threshold = 0.45)
    },
    "text_langid" -> ((s, d) => TextOps.langId(s, d)),
    "text_quality" -> ((s, d) => TextOps.qualityScore(s, d)),
    "text_token_count" -> ((s, d) => TextOps.tokenCount(s, d)),
    "text_fingerprint" -> ((s, d) => TextOps.fingerprint(s, d)),
    "text_winnow" -> ((s, d) => TextOps.winnowFingerprint(s, d)),
    "mm_meta" -> ((s, d) => Multimodal.metaColumns(s, d)),
    "mm_extract" -> ((s, d) => Multimodal.extractMeta(s, d)),
  )

  def oracleSql: Map[String, String] = Map(
    // === full-text ===
    "ft_bm25_single" -> bm25Sql(Seq("spark"), conjunctive = false),
    "ft_bm25_multi" -> bm25Sql(Seq("merge", "spark", "window"), conjunctive = false),
    "ft_bm25_and" -> bm25Sql(Seq("filter", "join"), conjunctive = true),
    "ft_bm25_min_match" ->
      bm25Sql(Seq("merge", "spark", "window"), conjunctive = false, minMatch = 2),
    "ft_search_filtered" ->
      bm25Sql(Seq("merge", "spark"), conjunctive = false, hitWhere = "lang = 'en'"),
    // term^boost clause weights: spark's contribution scaled 2.5×
    "ft_bm25_boost" ->
      bm25Sql(Seq("merge", "spark"), conjunctive = false,
        boosts = Map("spark" -> 2.5)),
    // bool.must_not: scored must, docs containing 'window' excluded
    "ft_bm25_must_not" ->
      bm25Sql(Seq("merge", "spark"), conjunctive = false,
        notTerms = Seq("window")),
    // sort-by-field: membership from the query (≥1 term), order from a doc
    // field (dl desc), doc_id tiebreaker making the top-50 cut total
    "ft_search_sortby" ->
      s"""WITH $toksCte,
         |dlt AS (SELECT doc_id, count(*) AS dl FROM t2 GROUP BY 1),
         |m AS (SELECT DISTINCT doc_id FROM t2 WHERE term IN ('merge', 'spark'))
         |SELECT m.doc_id AS doc_id, dlt.dl AS dl
         |FROM m JOIN dlt USING (doc_id)
         |ORDER BY dl DESC, doc_id LIMIT 50""".stripMargin,
    // field collapsing: best (score_q desc, doc_id) hit per lang
    "ft_collapse" ->
      bm25Sql(Seq("merge", "spark"), conjunctive = false,
        collapseBy = Some("lang")),
    // wildcard: the UNCAPPED SQL expansion (every vocab term LIKE 's%')
    "ft_wildcard_search" -> bm25ExpandedSql(
      """fz AS (SELECT DISTINCT term FROM dft WHERE term LIKE 's%'),
        |xp AS (SELECT term FROM fz)""".stripMargin),
    // regexp: the UNCAPPED SQL expansion (every vocab term fully matching
    // the anchored pattern — DuckDB regexp_full_match ≡ our ^(?:…)$ rlike)
    "ft_regexp_search" -> bm25ExpandedSql(
      """fz AS (SELECT DISTINCT term FROM dft
        |       WHERE regexp_full_match(term, 's(p|t)[a-z]*')),
        |xp AS (SELECT term FROM fz)""".stripMargin),
    // federated two-index search ≡ BM25 over the undivided corpus
    "ft_federated_search" -> bm25Sql(Seq("filter", "stream"), conjunctive = false),
    // _explain: per-clause breakdown for doc_id 7 — impact parenthesized
    // exactly as the engine associates it (idf * (tf / denom))
    "ft_explain" ->
      s"""WITH $toksCte,
         |tft AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM t2 GROUP BY 1, 2),
         |dlt AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM t2 GROUP BY 1),
         |stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         |                 (SELECT sum(dl) FROM dlt) / (SELECT count(*) FROM documents)::DOUBLE AS avgdl),
         |dft AS (SELECT term, count(*)::DOUBLE AS df FROM tft GROUP BY 1)
         |SELECT tft.term AS term, CAST(tft.tf AS BIGINT) AS tf,
         |       CAST(dft.df AS BIGINT) AS df, CAST(dlt.dl AS BIGINT) AS dl,
         |       ${q4("ln(1 + (stats.n - dft.df + 0.5) / (dft.df + 0.5))")} AS idf_q,
         |       ${q4("tft.tf / (tft.tf + 1.2 * (1 - 0.75 + 0.75 * dlt.dl / stats.avgdl))")} AS impact_q,
         |       ${q4("ln(1 + (stats.n - dft.df + 0.5) / (dft.df + 0.5)) * (tft.tf / (tft.tf + 1.2 * (1 - 0.75 + 0.75 * dlt.dl / stats.avgdl)))")} AS contrib_q
         |FROM tft JOIN dft USING (term) JOIN dlt USING (doc_id) CROSS JOIN stats
         |WHERE tft.doc_id = 7 AND tft.term IN ('merge', 'spark', 'window')
         |ORDER BY term""".stripMargin,
    "ft_term_lookup" ->
      s"""WITH $toksCte
         |SELECT DISTINCT doc_id FROM t2 WHERE term = 'customer' ORDER BY doc_id""".stripMargin,
    "ft_docmeta" ->
      s"""WITH $toksCte
         |SELECT d.doc_id AS doc_id, count(t2.term) AS dl, sha256(d.text) AS sha256
         |FROM documents d LEFT JOIN t2 ON d.doc_id = t2.doc_id
         |GROUP BY d.doc_id, d.text ORDER BY d.doc_id""".stripMargin,
    "ft_termstats" ->
      s"""WITH $toksCte
         |SELECT term, count(DISTINCT doc_id) AS df FROM t2 GROUP BY term ORDER BY term""".stripMargin,
    "ft_index_stats" ->
      s"""WITH $toksCte
         |SELECT (SELECT count(*) FROM documents) AS n_docs,
         |       count(*) AS total_tokens,
         |       count(DISTINCT term) AS vocab_size,
         |       CAST(floor(count(*)::DOUBLE / (SELECT count(*) FROM documents) * 10000 + 0.5) AS BIGINT) AS avgdl_q
         |FROM t2""".stripMargin,
    "ft_trigram_search" -> bm25TrigramSql(Seq("ind", "ndo", "win")),
    // the streamed-union search must equal BM25 over the FULL corpus
    "ft_streamed_search" -> bm25Sql(Seq("data", "stream"), conjunctive = false),
    // LIVE tombstones: full-corpus scoring, deleted docs filtered AFTER —
    // the stored stats still count them (Lucene pre-merge semantics)
    "ft_tombstone_search" ->
      s"""WITH full_scores AS (${bm25Sql(Seq("merge", "spark"), conjunctive = false)})
         |SELECT doc_id, score_q FROM full_scores
         |WHERE doc_id % 7 <> 3
         |ORDER BY score_q DESC, doc_id""".stripMargin,
    // PURGED tombstones: the compacted epoch equals a fresh build over the
    // surviving corpus — scoring itself runs on the filtered doc set
    "ft_tombstone_compact" ->
      bm25Sql(Seq("merge", "spark"), conjunctive = false, docWhere = "doc_id % 7 <> 3"),
    // ...and so must the COMPACTED index (segments folded into one epoch)
    "ft_compacted_search" -> bm25Sql(Seq("batch", "merge"), conjunctive = false),
    // the composed significant_terms: foreground = docs matching the query
    // (the bm25 CTE), background = the corpus — same JLH arithmetic as the
    // agg_sig_terms oracle with the foreground predicate swapped
    "ft_search_sigterms" ->
      s"""WITH sc AS (${bm25Sql(Seq("data", "stream"), conjunctive = false)}),
         |$toksCte,
         |dt AS (SELECT DISTINCT doc_id, term FROM t2),
         |fgt AS (SELECT count(*)::DOUBLE AS v FROM sc),
         |bgt AS (SELECT count(*)::DOUBLE AS v FROM documents),
         |fg AS (SELECT dt.term, count(*)::DOUBLE AS fg
         |       FROM dt JOIN sc ON dt.doc_id = sc.doc_id GROUP BY 1),
         |bg AS (SELECT term, count(*)::DOUBLE AS bg FROM dt GROUP BY 1),
         |j AS (SELECT fg.term,
         |             (fg.fg / (SELECT v FROM fgt) - bg.bg / (SELECT v FROM bgt))
         |             * ((fg.fg / (SELECT v FROM fgt)) / (bg.bg / (SELECT v FROM bgt))) AS jlh
         |      FROM fg JOIN bg USING (term))
         |SELECT term, ${q4("jlh * 1000")} AS jlh_q
         |FROM j ORDER BY jlh_q DESC, term LIMIT 10""".stripMargin,
    // query + aggs composed: the bm25 CTE feeds a GROUP BY over doc meta
    // (lang from documents, dl = the token count the index stores)
    "ft_search_agg" ->
      s"""WITH $toksCte,
         |dlt AS (SELECT doc_id, count(*) AS dl FROM t2 GROUP BY 1),
         |sc AS (${bm25Sql(Seq("merge", "window"), conjunctive = false)})
         |SELECT d.lang AS lang, count(*) AS n,
         |       sum(dlt.dl)::BIGINT AS sum_dl,
         |       sum(sc.score_q)::BIGINT AS sum_score_q
         |FROM sc JOIN documents d ON sc.doc_id = d.doc_id
         |        JOIN dlt ON sc.doc_id = dlt.doc_id
         |GROUP BY d.lang ORDER BY lang""".stripMargin,
    // search_after page 2: the cursor is row 10 of the ranked list; page 2 =
    // the next 10 strictly after the (score_q, doc_id) cursor tuple
    "ft_search_after" ->
      s"""WITH sc AS (${bm25Sql(Seq("merge", "stream"), conjunctive = false)}),
         |cur AS (SELECT doc_id, score_q FROM sc
         |        ORDER BY score_q DESC, doc_id LIMIT 1 OFFSET 9)
         |SELECT s.doc_id AS doc_id, s.score_q AS score_q
         |FROM sc s CROSS JOIN cur c
         |WHERE s.score_q < c.score_q
         |   OR (s.score_q = c.score_q AND s.doc_id > c.doc_id)
         |ORDER BY s.score_q DESC, s.doc_id LIMIT 10""".stripMargin,
    // _count: distinct docs containing ≥1 / ≥2 of the terms (membership
    // only — the count must equal the scored surfaces' membership exactly)
    "ft_count" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
        |  FROM documents),
        |t2 AS (SELECT DISTINCT doc_id, term FROM toks WHERE term <> '')
        |SELECT count(*) AS n FROM (
        |  SELECT doc_id FROM t2 WHERE term IN ('spark', 'merge') GROUP BY 1)""".stripMargin,
    "ft_count_min2" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
        |  FROM documents),
        |t2 AS (SELECT DISTINCT doc_id, term FROM toks WHERE term <> '')
        |SELECT count(*) AS n FROM (
        |  SELECT doc_id FROM t2 WHERE term IN ('spark', 'merge', 'window')
        |  GROUP BY 1 HAVING count(*) >= 2)""".stripMargin,
    // rescore: base OR scores, phrase-tier scores for contains-verified
    // docs, combined with integer weights in quantized space; final cut in
    // (score_q, doc_id) order on both engines
    "ft_rescore" ->
      s"""WITH base AS (${bm25Sql(Seq("merge", "spark"), conjunctive = false)}),
         |ph AS (${bm25Sql(Seq("join", "order"), conjunctive = true)}),
         |phv AS (SELECT p.doc_id, p.score_q FROM ph p
         |        JOIN documents d USING (doc_id)
         |        WHERE lower(d.text) LIKE '%join order%')
         |SELECT b.doc_id AS doc_id,
         |       b.score_q * 1 + coalesce(p.score_q, 0) * 2 AS score_q
         |FROM base b LEFT JOIN phv p USING (doc_id)
         |ORDER BY score_q DESC, doc_id LIMIT 10""".stripMargin,
    // prefix suggest: dictionary df under the prefix, ties by term asc
    "ft_prefix_suggest" ->
      s"""WITH $toksCte
         |SELECT term, count(DISTINCT doc_id) AS df FROM t2
         |WHERE term LIKE 's%' GROUP BY term
         |ORDER BY df DESC, term LIMIT 10""".stripMargin,
    // synonyms OR-rewrite: expansion set {merge, spark, stream}, each term
    // scoring with its own stats — identical shape to a 3-term query
    "ft_synonym_search" ->
      bm25Sql(Seq("merge", "spark", "stream"), conjunctive = false),
    // synonyms with operator AND: grouped membership — (spark OR stream)
    // AND merge — scored over all three expansions
    "ft_synonym_search_and" -> bm25ExpandedSql(
      """fz AS (SELECT DISTINCT term FROM dft
        |       WHERE term IN ('merge', 'spark', 'stream')),
        |xp AS (SELECT term FROM fz)""".stripMargin,
      scoreWhere =
        "tft.doc_id IN (SELECT doc_id FROM t2 WHERE term IN ('spark', 'stream'))" +
          " AND tft.doc_id IN (SELECT doc_id FROM t2 WHERE term = 'merge')"),
    // percolator: distinct-term overlap count per (stored query, doc)
    // against each query's min_match threshold
    "ft_percolate" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
         |  FROM documents
         |), t2 AS (SELECT DISTINCT doc_id, term FROM toks WHERE term <> ''),
         |q(query_id, term, min_match) AS (VALUES
         |  ('q_all', 'spark', 2), ('q_all', 'merge', 2),
         |  ('q_any', 'stream', 1), ('q_any', 'filter', 1),
         |  ('q_mofn', 'spark', 2), ('q_mofn', 'window', 2),
         |  ('q_mofn', 'scan', 2), ('q_mofn', 'sort', 2),
         |  ('q_nohit', 'spark', 2), ('q_nohit', 'zzz', 2)),
         |m AS (SELECT q.query_id, t2.doc_id, count(*) AS c, min(q.min_match) AS mm
         |      FROM t2 JOIN q USING (term) GROUP BY 1, 2)
         |SELECT query_id, doc_id FROM m WHERE c >= mm
         |ORDER BY query_id, doc_id""".stripMargin,
    // fuzzy: the UNCAPPED SQL expansion — every vocab term within
    // levenshtein 1 of either probe token (the engine's max_expansions cap
    // provably never binds on this corpus)
    "ft_fuzzy_search" -> bm25ExpandedSql(
      """fz AS (SELECT DISTINCT term FROM dft
        |       WHERE levenshtein(term, 'spork') <= 1
        |          OR levenshtein(term, 'strean') <= 1),
        |xp AS (SELECT term FROM fz)""".stripMargin),
    // more-like-this: top-5 terms of doc 7 by QUANTIZED tf·idf (ties by
    // term asc), scored disjunctively over everyone else
    "ft_more_like_this" -> bm25ExpandedSql(
      """idf AS (SELECT dft.term, ln(1 + (stats.n - dft.df + 0.5) / (dft.df + 0.5)) AS idf
        |        FROM dft CROSS JOIN stats),
        |xp AS (SELECT tft.term FROM tft JOIN idf USING (term) WHERE tft.doc_id = 7
        |       ORDER BY CAST(floor(tft.tf * idf.idf * 10000 + 0.5) AS BIGINT) DESC, tft.term
        |       LIMIT 5)""".stripMargin,
      scoreWhere = "tft.doc_id <> 7"),
    // highlight: fragment = 6 tokens from the first occurrence of any
    // query term, over the analyzed (non-empty, 1-based-position) stream
    "ft_highlight" ->
      s"""WITH sc AS (${bm25Sql(Seq("merge", "stream"), conjunctive = false)}),
         |posq AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w,
         |         generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS i
         |  FROM documents),
         |pnz AS (
         |  SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS p
         |  FROM posq WHERE w <> ''),
         |p0 AS (SELECT doc_id, min(p) AS p0 FROM pnz
         |       WHERE w IN ('merge', 'stream') GROUP BY 1),
         |win AS (SELECT pnz.doc_id, string_agg(pnz.w, ' ' ORDER BY pnz.p) AS snippet
         |        FROM pnz JOIN p0 USING (doc_id)
         |        WHERE pnz.p >= p0.p0 AND pnz.p < p0.p0 + 6 GROUP BY 1)
         |SELECT sc.doc_id AS doc_id, sc.score_q AS score_q, win.snippet AS snippet
         |FROM sc JOIN win USING (doc_id)
         |ORDER BY score_q DESC, doc_id""".stripMargin,
    "ft_phrase_search" ->
      s"""WITH base AS (${bm25Sql(Seq("join", "order"), conjunctive = true)})
         |SELECT b.doc_id AS doc_id, b.score_q AS score_q
         |FROM base b JOIN documents d ON b.doc_id = d.doc_id
         |WHERE lower(d.text) LIKE '%join order%'
         |ORDER BY score_q DESC, doc_id""".stripMargin,
    // token-adjacency semantics (not substring): row_number over the
    // non-empty token stream = the analyzer's 0-based positions, shifted
    "ft_phrase_positional" ->
      s"""WITH base AS (${bm25Sql(Seq("join", "order"), conjunctive = true)}),
         |posq AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w,
         |         generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS i
         |  FROM documents),
         |pnz AS (
         |  SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS p
         |  FROM posq WHERE w <> ''),
         |adj AS (
         |  SELECT DISTINCT a.doc_id
         |  FROM pnz a JOIN pnz b ON a.doc_id = b.doc_id AND b.p = a.p + 1
         |  WHERE a.w = 'join' AND b.w = 'order')
         |SELECT base.doc_id AS doc_id, base.score_q AS score_q
         |FROM base JOIN adj USING (doc_id)
         |ORDER BY score_q DESC, doc_id""".stripMargin,

    // === analytical surface ===
    "agg_date_histogram" ->
      """SELECT strftime(date_trunc('day', l_shipdate), '%Y-%m-%d') AS day,
        |       count(*) AS n, min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
        |FROM lineitem GROUP BY 1 ORDER BY day""".stripMargin,
    "agg_sum_by_day" ->
      s"""SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
         |       ${q4("sum(o_totalprice)")} AS total_q, count(*) AS n
         |FROM orders GROUP BY 1 ORDER BY day""".stripMargin,
    "agg_exists_filter" ->
      """SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k
        |FROM events
        |WHERE props IS NOT NULL AND event_type = 'click'
        |  AND json_extract_string(props, '$.k')::BIGINT > 80
        |ORDER BY event_id""".stripMargin,
    "agg_sig_terms" ->
      s"""WITH $toksCte,
         |dt AS (SELECT DISTINCT t.doc_id, d.lang, t.term
         |       FROM t2 t JOIN documents d ON t.doc_id = d.doc_id),
         |fgt AS (SELECT count(*)::DOUBLE AS v FROM documents WHERE lang = 'en'),
         |bgt AS (SELECT count(*)::DOUBLE AS v FROM documents),
         |fg AS (SELECT term, count(*)::DOUBLE AS fg FROM dt WHERE lang = 'en' GROUP BY 1),
         |bg AS (SELECT term, count(*)::DOUBLE AS bg FROM dt GROUP BY 1),
         |j AS (SELECT fg.term,
         |             (fg.fg / (SELECT v FROM fgt) - bg.bg / (SELECT v FROM bgt))
         |             * ((fg.fg / (SELECT v FROM fgt)) / (bg.bg / (SELECT v FROM bgt))) AS jlh
         |      FROM fg JOIN bg USING (term))
         |SELECT term, ${q4("jlh * 1000")} AS jlh_q
         |FROM j ORDER BY jlh_q DESC, term LIMIT 10""".stripMargin,
    "agg_terms_top10" ->
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY 1 ORDER BY n DESC, event_type LIMIT 10""".stripMargin,
    "agg_must_filter" ->
      """SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber FROM lineitem
        |WHERE l_returnflag = 'A' AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "agg_hourly_avg" ->
      s"""SELECT user_id, strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
         |       ${q4("avg(value)")} AS avg_q, count(*) AS n
         |FROM events WHERE user_id < 10
         |GROUP BY 1, 2 ORDER BY user_id, hour""".stripMargin,
    "agg_top10_values" ->
      s"""SELECT event_id, ${q4("value")} AS value_q FROM events
         |ORDER BY value_q DESC, event_id LIMIT 10""".stripMargin,
    // exact-rank percentiles: identical integer rank arithmetic both sides
    "agg_percentiles" ->
      s"""WITH r AS (
         |  SELECT l_returnflag, l_extendedprice,
         |         row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) - 1 AS rn,
         |         count(*) OVER (PARTITION BY l_returnflag) AS cnt
         |  FROM lineitem)
         |SELECT l_returnflag,
         |  max(CASE WHEN rn = CAST(floor(((cnt-1) * 25) / 100.0) AS BIGINT) THEN ${q4("l_extendedprice")} END) AS p25,
         |  max(CASE WHEN rn = CAST(floor(((cnt-1) * 50) / 100.0) AS BIGINT) THEN ${q4("l_extendedprice")} END) AS p50,
         |  max(CASE WHEN rn = CAST(floor(((cnt-1) * 75) / 100.0) AS BIGINT) THEN ${q4("l_extendedprice")} END) AS p75,
         |  max(CASE WHEN rn = CAST(floor(((cnt-1) * 95) / 100.0) AS BIGINT) THEN ${q4("l_extendedprice")} END) AS p95
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_cardinality" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // numeric histogram: integer-exact bucket keys both sides
    "agg_histogram" ->
      s"""SELECT CAST(floor(value / 10.0) AS BIGINT) * 10 AS bucket,
         |       count(*) AS n, ${q4("avg(value)")} AS avg_q
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // top_hits: per-bucket top-3 in quantized-score order, unique tiebreak
    "agg_top_hits" ->
      s"""WITH r AS (
         |  SELECT event_type, event_id, ${q4("value")} AS value_q,
         |         row_number() OVER (PARTITION BY event_type
         |                            ORDER BY ${q4("value")} DESC, event_id) AS rank
         |  FROM events)
         |SELECT event_type, rank, event_id, value_q FROM r
         |WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin,
    // filters agg: overlapping named predicate buckets + other_bucket
    "agg_filters" ->
      s"""SELECT 'clicks' AS bucket, count(*) AS n, ${q4("sum(value)")} AS sum_q
         |FROM events WHERE event_type = 'click'
         |UNION ALL
         |SELECT 'errors', count(*), ${q4("sum(value)")}
         |FROM events WHERE event_type = 'error'
         |UNION ALL
         |SELECT 'high_value', count(*), ${q4("sum(value)")}
         |FROM events WHERE value > 90
         |UNION ALL
         |SELECT '_other', count(*), ${q4("sum(value)")}
         |FROM events
         |WHERE NOT (event_type = 'click' OR event_type = 'error' OR value > 90)
         |ORDER BY bucket""".stripMargin,
    // date_range agg: half-open [from, to) named ranges, ES convention
    "agg_date_range" ->
      s"""SELECT 'early' AS bucket, count(*) AS n, ${q4("sum(o_totalprice)")} AS sum_q
         |FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
         |              AND o_orderdate <  TIMESTAMP '1997-01-01'
         |UNION ALL
         |SELECT 'mid', count(*), ${q4("sum(o_totalprice)")}
         |FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         |              AND o_orderdate <  TIMESTAMP '1999-01-01'
         |UNION ALL
         |SELECT 'late', count(*), ${q4("sum(o_totalprice)")}
         |FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
         |ORDER BY bucket""".stripMargin,
    // composite-with-after page 2: the cursor is bucket 10 of the
    // (event_type, day) keyset; page 2 = the next 10 strictly after it
    "agg_composite_page" ->
      s"""WITH g AS (
         |  SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         |         count(*) AS n, ${q4("sum(value)")} AS sum_q
         |  FROM events GROUP BY 1, 2),
         |cur AS (SELECT event_type, day FROM g
         |        ORDER BY event_type, day LIMIT 1 OFFSET 9)
         |SELECT g.event_type AS event_type, g.day AS day, g.n AS n, g.sum_q AS sum_q
         |FROM g CROSS JOIN cur c
         |WHERE g.event_type > c.event_type
         |   OR (g.event_type = c.event_type AND g.day > c.day)
         |ORDER BY event_type, day LIMIT 10""".stripMargin,
    "agg_stats" ->
      s"""SELECT CAST(min(l_quantity) AS BIGINT) AS min_q,
         |       CAST(max(l_quantity) AS BIGINT) AS max_q,
         |       count(*) AS n,
         |       ${q4("sum(l_quantity)")} AS sum_q,
         |       ${q4("avg(l_quantity)")} AS avg_q
         |FROM lineitem""".stripMargin,
    "agg_extended_stats" ->
      s"""WITH g AS (
         |  SELECT l_returnflag, count(*)::DOUBLE AS n, sum(l_quantity) AS s,
         |         sum(l_quantity * l_quantity) AS ss,
         |         min(l_quantity) AS mn, max(l_quantity) AS mx
         |  FROM lineitem GROUP BY 1)
         |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
         |       ${q4("s")} AS sum_q, ${q4("ss")} AS sumsq_q,
         |       ${q4("s / n")} AS avg_q,
         |       ${q4("(ss - s * s / n) / n")} AS var_q,
         |       ${q4("sqrt((ss - s * s / n) / n)")} AS std_q,
         |       CAST(mn AS BIGINT) AS min_q, CAST(mx AS BIGINT) AS max_q
         |FROM g ORDER BY l_returnflag""".stripMargin,
    "agg_rare_terms" ->
      """SELECT o_custkey, count(*) AS n FROM orders
        |GROUP BY 1 HAVING count(*) <= 2 ORDER BY n, o_custkey""".stripMargin,
    "agg_range" ->
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    "agg_count_range" ->
      "SELECT count(*) AS n FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 2000",
    "agg_first_last" ->
      "SELECT min(o_orderkey) AS first_key, max(o_orderkey) AS last_key FROM orders",
    "win_gap_detect" ->
      """WITH ks AS (SELECT DISTINCT l_orderkey AS seq FROM lineitem),
        |w AS (SELECT seq, lead(seq) OVER (ORDER BY seq) AS nxt FROM ks)
        |SELECT seq + 1 AS gap_start, nxt - 1 AS gap_end
        |FROM w WHERE nxt IS NOT NULL AND nxt <> seq + 1 ORDER BY gap_start""".stripMargin,
    "agg_range_reconcile" ->
      """SELECT CAST(floor(doc_id / 100) AS BIGINT) AS bucket, count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin,
    "join_revenue" ->
      s"""SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
         |       ${q4("sum(l_extendedprice * (1 - l_discount))")} AS rev_q
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1 ORDER BY day""".stripMargin,
    "join_semi" ->
      """SELECT count(*) AS n FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')""".stripMargin,
    "gen_explode_tokens" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos,
        |         unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
        |  FROM documents WHERE doc_id < 20)
        |SELECT doc_id, pos::BIGINT AS pos, term FROM p WHERE term <> ''
        |ORDER BY doc_id, pos""".stripMargin,
    "win_lag_diff" ->
      s"""WITH w AS (
         |  SELECT event_id, value,
         |         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |  FROM events)
         |SELECT event_id, ${q4("value - prev")} AS diff_q
         |FROM w WHERE prev IS NOT NULL AND ${q4("value - prev")} <> 0
         |ORDER BY event_id""".stripMargin,
    "page_cursor" ->
      """SELECT event_id, event_type FROM events WHERE event_id > 500
        |ORDER BY event_id LIMIT 20""".stripMargin,
    "fn_enum_prettify" ->
      """SELECT regexp_replace(o_orderpriority, '^[0-9]-', '') AS priority, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin,
    "fn_bitmask_flags" ->
      """SELECT event_id & 3 AS flags, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY flags""".stripMargin,
    "fn_composite_token" ->
      """SELECT printf('%012d-%04d', l_orderkey, l_linenumber) AS token
        |FROM lineitem WHERE l_orderkey < 50 ORDER BY token""".stripMargin,
    "fn_memo_normalize" ->
      """SELECT doc_id,
        |       CASE WHEN n_chars % 3 = 0 THEN printf('id:%d', doc_id)
        |            WHEN n_chars % 3 = 1 THEN to_base64(encode(substr(text, 1, 9)))
        |            ELSE NULL END AS memo_value
        |FROM documents ORDER BY doc_id""".stripMargin,

    "fn_fixed_point" ->
      """SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
        |       printf('%d.%07d', (l_orderkey * 10000000 + l_partkey) // 10000000,
        |              (l_orderkey * 10000000 + l_partkey) % 10000000) AS amount
        |FROM lineitem WHERE l_orderkey < 100 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "fn_rational" ->
      s"""SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
         |       l_partkey + 1 AS n, l_suppkey + 1 AS d,
         |       ${q4("(l_partkey + 1)::DOUBLE / (l_suppkey + 1)::DOUBLE")} AS price_q
         |FROM lineitem WHERE l_orderkey < 200 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "fn_nullable_struct" ->
      s"""SELECT event_id,
         |       (value > 25 OR value > 75) AS has_thresholds,
         |       CASE WHEN value > 25 THEN ${q4("value")} END AS low_q,
         |       CASE WHEN value > 75 THEN ${q4("value")} END AS high_q
         |FROM events ORDER BY event_id""".stripMargin,
    "fn_asset_id" ->
      """SELECT p_partkey,
        |       CASE WHEN p_partkey % 10 = 0 THEN 'native'
        |            ELSE p_brand || '-' || p_type END AS asset_id
        |FROM part ORDER BY p_partkey""".stripMargin,
    "fn_success_gate" ->
      s"""SELECT event_type, count(*) AS n, ${q4("sum(value)")} AS sum_q
         |FROM events WHERE event_type <> 'error' AND value >= 1.0
         |GROUP BY 1 ORDER BY event_type""".stripMargin,
    "fn_epoch_ts" ->
      """SELECT o_orderkey, epoch(o_orderdate)::BIGINT AS epoch_s,
        |       strftime(to_timestamp(epoch(o_orderdate)::BIGINT), '%Y-%m-%d %H:%M:%S') AS roundtrip
        |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin,
    "fn_type_dispatch" ->
      s"""SELECT event_id, event_type,
         |       CASE WHEN event_type = 'click' THEN ${q4("value * 2")}
         |            WHEN event_type = 'view' THEN ${q4("value / 2")}
         |            WHEN event_type = 'purchase' THEN ${q4("value * 100")}
         |            WHEN event_type = 'signup' THEN 1
         |            ELSE -1 END AS typed_value,
         |       CASE WHEN event_type IN ('click', 'view') THEN user_id END AS actor
         |FROM events ORDER BY event_id""".stripMargin,
    "gen_mirror_fanout" ->
      s"""WITH src AS (SELECT * FROM lineitem WHERE l_orderkey < 100)
         |SELECT * FROM (
         |  SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber, 'seller' AS side,
         |         CASE WHEN l_quantity <> 0 THEN ${q4("l_extendedprice / l_quantity")} ELSE 0 END AS px_q
         |  FROM src
         |  UNION ALL
         |  SELECT l_orderkey, l_linenumber::BIGINT, 'buyer',
         |         CASE WHEN l_extendedprice <> 0 THEN ${q4("l_quantity / l_extendedprice")} ELSE 0 END
         |  FROM src)
         |ORDER BY l_orderkey, l_linenumber, side""".stripMargin,

    // Analyzer.code transliterated: acronym rule first (upper-run keeps its
    // last char for the following lower), then lower→upper, then the two
    // letter↔digit boundaries; validated case-by-case against the Scala
    // single-pass tokenizer (AnalyzerSpec).
    "fn_code_tokens" ->
      """WITH m AS (
        |  SELECT doc_id, upper(substr(text, 1, 8)) || substr(text, 9, 12) ||
        |         upper(substr(text, 21, 5)) || substr(text, 26) AS mixed
        |  FROM documents),
        |norm AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(
        |           regexp_replace(regexp_replace(regexp_replace(regexp_replace(mixed,
        |             '([A-Z]+)([A-Z][a-z])', '\1 \2', 'g'),
        |             '([a-z])([A-Z])', '\1 \2', 'g'),
        |             '([0-9])([A-Za-z])', '\1 \2', 'g'),
        |             '([A-Za-z])([0-9])', '\1 \2', 'g')
        |         ), '[^a-z0-9]+'), x -> x <> '') AS toks
        |  FROM m)
        |SELECT doc_id, len(toks)::BIGINT AS n_tokens,
        |       md5(array_to_string(toks, ' ')) AS fp
        |FROM norm ORDER BY doc_id""".stripMargin,

    // === training-data ops ===
    "dedup_exact" ->
      """SELECT md5(text) AS digest, count(*) AS n, min(doc_id) AS keeper
        |FROM documents GROUP BY 1 ORDER BY digest""".stripMargin,
    // the APPLY step: keep docs in no cluster, or that ARE their cluster's
    // keeper (cluster = transitive closure over the exact pair set — same
    // recall=1 contract as dedup_minhash_lsh / dedup_clusters above)
    "dedup_apply" ->
      s"""WITH RECURSIVE jp AS ($jaccardSql),
         |edges AS (SELECT a AS s, b AS t FROM jp UNION SELECT b, a FROM jp),
         |reach AS (
         |  SELECT s AS id, t AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.t FROM reach JOIN edges ON reach.r = edges.s
         |),
         |cl AS (SELECT id AS doc_id, least(id, min(r)) AS keeper
         |       FROM reach GROUP BY id)
         |SELECT d.doc_id AS doc_id, d.lang AS lang, md5(d.text) AS digest
         |FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
         |WHERE cl.doc_id IS NULL OR cl.keeper = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "dedup_jaccard" -> jaccardSql,
    // cross-corpus decontamination ground truth: exact Jaccard between the
    // two splits' shingle sets (same recall=1 contract as dedup_minhash_lsh
    // — the engine output is exact-verified LSH candidates, a subset of
    // this equal to it while band recall = 1, which OpsSpec asserts)
    "dedup_decontaminate" ->
      s"""WITH $shinglesCte,
         |c AS (SELECT * FROM sh WHERE doc_id % 3 <> 0),
         |r AS (SELECT * FROM sh WHERE doc_id % 3 = 0),
         |szc AS (SELECT doc_id, count(*)::DOUBLE AS n FROM c GROUP BY 1),
         |szr AS (SELECT doc_id, count(*)::DOUBLE AS n FROM r GROUP BY 1),
         |inter AS (
         |  SELECT c.doc_id AS doc_id, r.doc_id AS ref_id, count(*)::DOUBLE AS i
         |  FROM c JOIN r ON c.sh = r.sh GROUP BY 1, 2)
         |SELECT inter.doc_id AS doc_id, inter.ref_id AS ref_id,
         |       CAST(floor(i / (sa.n + sb.n - i) * 10000 + 0.5) AS BIGINT) AS jacc_q
         |FROM inter JOIN szc sa ON inter.doc_id = sa.doc_id
         |           JOIN szr sb ON inter.ref_id = sb.doc_id
         |WHERE i / (sa.n + sb.n - i) >= 0.6
         |ORDER BY inter.doc_id, inter.ref_id""".stripMargin,
    // md5-based simhash, bit votes and all, transliterated: low-64 of
    // md5(term) as UBIGINT, tf-weighted ±votes per bit, sign → bit string
    "dedup_simhash_fp" ->
      s"""WITH $toksCte,
         |tft AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM t2 GROUP BY 1, 2),
         |hb AS (SELECT doc_id, term, tf,
         |              ('0x' || substr(md5(term),17,16))::UBIGINT AS h FROM tft),
         |v AS (
         |  SELECT doc_id, g.gs AS bit,
         |         sum(CASE WHEN (h >> g.gs) & 1 = 1 THEN tf ELSE -tf END) AS votes
         |  FROM hb CROSS JOIN generate_series(0, 63) g(gs)
         |  GROUP BY 1, 2)
         |SELECT doc_id,
         |       string_agg(CASE WHEN votes > 0 THEN '1' ELSE '0' END, ''
         |                  ORDER BY bit DESC) AS simhash
         |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // dedup_minhash_lsh ORACLE CONTRACT: the engine output is exact-verified
    // LSH candidates — a SUBSET of the exact pair set by construction, equal
    // to it only while LSH recall = 1, which OpsSpec asserts on exactly this
    // deterministic corpus (planted near-dups at j≥0.6 with b=24/r=3 ⇒
    // P(miss) < 1e-2 per pair, and the assertion pins it). If the driver
    // corpus ever changes and this row goes red with a few MISSING pairs
    // (never extra ones), suspect the approximation contract before the
    // engine: re-run OpsSpec's recall check first.
    "dedup_minhash_lsh" -> jaccardSql,
    // transitive closure over the exact pair set (recursive CTE): keeper =
    // min doc reachable — must equal the engine's union-find / label
    // propagation over its (recall=1, see above) verified pairs
    "dedup_clusters" ->
      s"""WITH RECURSIVE jp AS ($jaccardSql),
         |edges AS (SELECT a AS s, b AS t FROM jp UNION SELECT b, a FROM jp),
         |reach AS (
         |  SELECT s AS id, t AS r FROM edges
         |  UNION
         |  SELECT reach.id, edges.t FROM reach JOIN edges ON reach.r = edges.s
         |)
         |SELECT id AS doc_id, least(id, min(r)) AS keeper
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // exhaustive-probe IVF ≡ brute-force cosine top-k (same arithmetic,
    // same quantization/ordering) — the oracle checks the full IVF pipeline
    "ann_ivf_topk" ->
      bruteCosineTopKSql,
    // append fixture probes exhaustively ⇒ brute-force arithmetic over the
    // full table (same oracle as ann_ivf_topk)
    "ann_ivf_append_topk" ->
      bruteCosineTopKSql,
    // live ANN deletes: brute force restricted to the surviving vectors
    // (pairwise cosine is independent of other rows, so filtering outside
    // the scoring is exact)
    "ann_tombstone_topk" ->
      bruteCosineSql("vec_id % 5 <> 1"),
    "ann_cosine_topk" ->
      bruteCosineTopKSql,
    "ann_cosine_pairs" ->
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding)::DOUBLE AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, sum(v * v) AS nn FROM e GROUP BY 1),
        |d AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b, sum(x.v * y.v) AS dot
        |  FROM e x JOIN e y ON x.i = y.i AND x.vec_id < y.vec_id
        |  GROUP BY 1, 2)
        |SELECT a, b, CAST(floor(dot / (sqrt(na.nn) * sqrt(nb.nn)) * 10000 + 0.5) AS BIGINT) AS cos_q
        |FROM d JOIN n na ON d.a = na.vec_id JOIN n nb ON d.b = nb.vec_id
        |WHERE dot / (sqrt(na.nn) * sqrt(nb.nn)) >= 0.45
        |ORDER BY a, b""".stripMargin,
    // exact-tier decontamination: digest membership against the reference
    "dedup_decontam_exact" ->
      """SELECT DISTINCT d.doc_id AS doc_id
        |FROM documents d
        |JOIN (SELECT DISTINCT md5(text) AS dg FROM documents WHERE doc_id % 7 = 0) r
        |  ON md5(d.text) = r.dg
        |ORDER BY doc_id""".stripMargin,
    // embedding-space decontamination: cross-split cosine ≥ 0.45 (same
    // arithmetic/quantization shape as the ann_cosine_pairs oracle)
    "ann_decontaminate" ->
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding)::DOUBLE AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, sum(v * v) AS nn FROM e GROUP BY 1),
        |d AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b, sum(x.v * y.v) AS dot
        |  FROM e x JOIN e y ON x.i = y.i AND x.vec_id % 3 <> 0 AND y.vec_id % 3 = 0
        |  GROUP BY 1, 2)
        |SELECT a AS vec_id, b AS ref_id,
        |       CAST(floor(dot / (sqrt(na.nn) * sqrt(nb.nn)) * 10000 + 0.5) AS BIGINT) AS cos_q
        |FROM d JOIN n na ON d.a = na.vec_id JOIN n nb ON d.b = nb.vec_id
        |WHERE dot / (sqrt(na.nn) * sqrt(nb.nn)) >= 0.45
        |ORDER BY vec_id, ref_id""".stripMargin,
    "text_langid" ->
      s"""WITH $toksCte,
         |r AS (
         |  SELECT doc_id, count(*)::DOUBLE AS n,
         |         sum(CASE WHEN term IN ('the','a','of','to','and','in','is') THEN 1 ELSE 0 END)::DOUBLE AS m
         |  FROM t2 GROUP BY 1)
         |SELECT doc_id, ${q4("m / n")} AS ratio_q,
         |       CASE WHEN m / n > 0.02 THEN 'en' ELSE 'other' END AS pred_lang
         |FROM r ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""WITH $toksCte,
         |tok AS (
         |  SELECT doc_id, count(*)::DOUBLE AS ntok, avg(length(term)::DOUBLE) AS wlen,
         |         sum(CASE WHEN term IN ('the','a','of','to','and') THEN 1 ELSE 0 END)::DOUBLE AS nstop
         |  FROM t2 GROUP BY 1),
         |base AS (
         |  SELECT doc_id,
         |         length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))::DOUBLE / length(text)::DOUBLE AS punct_ratio
         |  FROM documents)
         |SELECT b.doc_id AS doc_id, CAST(t.ntok AS BIGINT) AS ntok,
         |       ${q4("t.wlen")} AS wlen_q,
         |       ${q4("t.nstop / t.ntok")} AS stop_q,
         |       ${q4("b.punct_ratio")} AS punct_q,
         |       ${q4("least(t.ntok / 100.0, 1.0) * 0.5 + (1.0 - b.punct_ratio) * 0.3 + (t.nstop / t.ntok) * 0.2")} AS quality_q
         |FROM base b JOIN tok t ON b.doc_id = t.doc_id ORDER BY doc_id""".stripMargin,
    // bpe_tokens: RE2's leftmost-first alternation ≡ Java regex on ASCII —
    // parity verified per-doc before this oracle was added
    "text_token_count" ->
      s"""SELECT doc_id,
         |       len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS ws_tokens,
         |       len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))::BIGINT AS word_tokens,
         |       len(regexp_extract_all(text, '${TextOps.BpePattern.replace("'", "''")}'))::BIGINT AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    // winnowing (k=8 char grams, window w=4): identical md5 gram hashes and
    // lexical window minima both engines; constant series bound 2000 ≫ max
    // doc length (DuckDB 1.0 has no lateral series)
    "text_winnow" ->
      """WITH g AS (
        |  SELECT doc_id, t.gs AS pos, md5(substr(text, t.gs, 8)) AS h
        |  FROM documents CROSS JOIN generate_series(1, 2000) t(gs)
        |  WHERE t.gs <= length(text) - 7),
        |cnt AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY 1),
        |mw AS (
        |  SELECT g.doc_id, g.pos,
        |         min(h) OVER (PARTITION BY g.doc_id ORDER BY g.pos
        |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh
        |  FROM g),
        |sel AS (
        |  SELECT DISTINCT mw.doc_id, mw.mh
        |  FROM mw JOIN cnt ON mw.doc_id = cnt.doc_id
        |  WHERE cnt.ng >= 4 AND mw.pos <= cnt.ng - 3
        |  UNION
        |  SELECT DISTINCT g.doc_id, g.h AS mh
        |  FROM g JOIN cnt ON g.doc_id = cnt.doc_id
        |  WHERE cnt.ng < 4)
        |SELECT doc_id, count(*)::BIGINT AS n_fp,
        |       md5(string_agg(mh, ',' ORDER BY mh)) AS fp
        |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      s"""WITH $toksCte,
         |d AS (SELECT DISTINCT doc_id, term FROM t2)
         |SELECT doc_id, md5(string_agg(term, ' ' ORDER BY term)) AS fp
         |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "mm_meta" ->
      """SELECT doc_id, octet_length(encode(text))::BIGINT AS byte_len,
        |       (16 + octet_length(encode(text)) % 640)::BIGINT AS width,
        |       (16 + octet_length(encode(text)) % 480)::BIGINT AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    // mm_extract's stubbed decode is deterministic arithmetic over the
    // blob bytes (ASCII corpus ⇒ ord(char) = byte) — fully SQL-expressible;
    // the every-10th-byte frame sample uses a constant generate_series
    // (DuckDB 1.0 has no lateral series; bound 2000 steps ≫ max doc len/10).
    "mm_extract" ->
      """WITH cs AS (
        |  SELECT d.doc_id, sum(ord(substr(d.text, 1 + g.gs * 10, 1)))::BIGINT AS frame_checksum
        |  FROM documents d CROSS JOIN generate_series(0, 2000) g(gs)
        |  WHERE 1 + g.gs * 10 <= length(d.text)
        |  GROUP BY 1)
        |SELECT d.doc_id AS doc_id, octet_length(encode(d.text))::BIGINT AS byte_len,
        |       (16 + octet_length(encode(d.text)) % 640)::INT AS width,
        |       (16 + octet_length(encode(d.text)) % 480)::INT AS height,
        |       CASE WHEN length(d.text) > 0 THEN ord(substr(d.text, 1, 1)) ELSE 0 END::INT AS first_byte,
        |       coalesce(cs.frame_checksum, 0)::BIGINT AS frame_checksum
        |FROM documents d LEFT JOIN cs ON d.doc_id = cs.doc_id
        |ORDER BY doc_id""".stripMargin,
    // ann_centroid_assign: per-label mean centroid (same double accumulation
    // as the Scala mapGroups pass) + argmax cosine with lowest-label
    // tie-break — plain SQL, same arithmetic shape as the cosine oracles.
    "ann_centroid_assign" ->
      """WITH e AS (
        |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
        |         unnest(embedding)::DOUBLE AS v
        |  FROM embeddings),
        |c AS (SELECT label AS clabel, i, avg(v) AS cv FROM e GROUP BY 1, 2),
        |s AS (
        |  SELECT e.vec_id, e.label, c.clabel,
        |         sum(e.v * c.cv) AS dot, sum(e.v * e.v) AS nv, sum(c.cv * c.cv) AS nc
        |  FROM e JOIN c USING (i) GROUP BY 1, 2, 3)
        |SELECT vec_id, label, clabel::INT AS assigned
        |FROM s
        |QUALIFY row_number() OVER (PARTITION BY vec_id
        |  ORDER BY dot / (sqrt(nv) * sqrt(nc)) DESC, clabel ASC) = 1
        |ORDER BY vec_id""".stripMargin,
    // dedup_simhash, ann_lsh_topk: approximate, hash-seeded — not
    // SQL-expressible; rows-only check, exact ground truth in OpsSpec.
  )
}
