package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.CodeTokens

/** CLI command surface (reference main.go analog) + the native Catalyst
  * code_tokens expression (eval + codegen + SQL registration).
  */
class CliAndFunctionsSpec extends AnyFunSuite with SparkSuite {

  test("code_tokens expression: SQL + Column paths, codegen result equals Analyzer.code") {
    import spark.implicits._
    CodeTokens.register(spark)
    val df = Seq("fooBarHTTP x_1", "readParquet2Disk", "", "HTTPServer café")
      .toDF("content")
    df.createOrReplaceTempView("ct_input")
    val viaSql = spark.sql("SELECT code_tokens(content) AS t FROM ct_input")
      .as[Seq[String]].collect()
    val viaCol = df.select(CodeTokens.code_tokens(spark, col("content")).as("t"))
      .as[Seq[String]].collect()
    val want = Seq("fooBarHTTP x_1", "readParquet2Disk", "", "HTTPServer café")
      .map(s => graft.analyze.Analyzer.code(s).toSeq)
    assert(viaSql.toSeq == want)
    assert(viaCol.toSeq == want)
    // expression participates in whole-stage codegen (no ScalaUDF node)
    val plan = df.select(CodeTokens.code_tokens(spark, col("content")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"))
  }

  test("token_stats + code_tokens: generated code COMPILES (no interpreted fallback)") {
    // Regression guard for the round-1 defect: doGenCode referenced a
    // companion method shadowed by Expression.eval, Janino failed to resolve
    // it, and every plan silently ran interpreted (78 ERROR CodeGenerator
    // lines per test run). codegen.fallback=false turns that silent
    // degradation into a test failure; factoryMode=CODEGEN_ONLY does the
    // same for non-wholestage projections.
    import spark.implicits._
    graft.functions.TokenStats.register(spark)
    CodeTokens.register(spark)
    val conf = spark.sessionState.conf
    val prevFallback = conf.getConfString("spark.sql.codegen.fallback", "true")
    val prevFactory = conf.getConfString("spark.sql.codegen.factoryMode", "FALLBACK")
    conf.setConfString("spark.sql.codegen.fallback", "false")
    conf.setConfString("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val df = Seq("spark merge window", "fooBar HTTPServer baz baz").toDF("content")
      val out = df.select(
          call_function("token_stats", col("content"), lit("simple")).as("ts"),
          CodeTokens.code_tokens(spark, col("content")).as("ct"))
        .select(col("ts.dl").as("dl"), size(col("ct")).as("n"))
        .as[(Int, Int)].collect().toSet
      assert(out == Set((3, 3), (4, 6)))
    } finally {
      conf.setConfString("spark.sql.codegen.fallback", prevFallback)
      conf.setConfString("spark.sql.codegen.factoryMode", prevFactory)
    }
  }

  test("flagship entry: builds sf0.001 index, returns ranked rows (driver smoke)") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 10)
    assert(rows.head.schema.fieldNames.toSet == Set("doc_id", "score_q"))
  }

  test("cli stats prints the postings layout; reconcile reports a missing table, a corrupt one fails with its read error") {
    import spark.implicits._
    import graft.index.{Fs, IndexBuilder}
    val idx = tmpDir("graft-cli-layout-idx")
    IndexBuilder.build(spark, (0 until 40).map(i => graft.corpus.Corpus.synthDoc(i, 59L)).toDS(),
      idx, IndexBuilder.Config(salts = 2))
    val out = new java.io.ByteArrayOutputStream()
    def run(args: String*): Unit = Console.withOut(out)(Cli.run(spark, args))
    run("stats", idx)
    assert(out.toString.linesIterator.exists(l =>
      l.startsWith("postings layout: ") && l.contains("term ranges disjoint")), out.toString)
    // a table that cannot be read: its error propagates, not a count of -2
    val part = Fs.listFiles(s"$idx/termstats").find(_.endsWith(".parquet")).get
    Fs.writeString(part, "not a parquet file")
    val corrupt = intercept[Exception](run("reconcile", idx))
    assert(!corrupt.isInstanceOf[IllegalArgumentException], s"read error swallowed: $corrupt")
    // a missing table is reported as missing and fails the reconciliation
    Fs.delete(s"$idx/termstats")
    out.reset()
    intercept[IllegalArgumentException](run("reconcile", idx))
    assert(out.toString.linesIterator.exists(l => l.startsWith("termstats") && l.endsWith("MISSING")),
      out.toString)
  }

  test("cli: create-index/export/stats/search round-trip") {
    val idx = tmpDir("graft-cli-idx")
    new java.io.File(idx).delete()
    Cli.run(spark, Seq("create-index", idx))
    Cli.run(spark, Seq("export", "/root/testdata/sf0.001", idx, "--salts", "2"))
    // index is queryable
    val h = graft.index.IndexBuilder.Handle(idx, graft.analyze.Analyzer.Simple)
    assert(h.stats(spark).n == 500)
    val hits = graft.query.Searcher.topK(spark, h, "spark merge", 10).collect()
    assert(hits.length == 10)
    Cli.run(spark, Seq("stats", idx)) // prints lineage table; must not throw
    Cli.run(spark, Seq("reconcile", idx)) // two-sided check; throws on mismatch
    Cli.run(spark, Seq("search", idx, "5", "spark"))
    // fuzzy search: the typo'd token expands to its vocab neighbor and
    // returns the SAME hits as the literal query
    val lit = graft.query.Searcher.topK(spark, h, "spark", 5).collect()
      .map(x => (x.docId, x.score)).toSeq
    val fz = graft.query.Lexicon.fuzzySearch(spark, h, "spork", 5).collect()
      .map(x => (x.docId, x.score)).toSeq
    assert(fz == lit, s"fuzzy 'spork' should equal literal 'spark': $fz vs $lit")
    Cli.run(spark, Seq("search", idx, "5", "spork", "--fuzzy"))
    Cli.run(spark, Seq("search", idx, "5", "spork", "strean", "--and", "--fuzzy"))
    // min-match: runs, and a query term equal to the flag's value survives
    // the positional arg walk (term "2" is not swallowed)
    Cli.run(spark, Seq("search", idx, "5", "spark", "stream", "--min-match", "2"))
    Cli.run(spark, Seq("search", idx, "5", "spark", "2", "--min-match", "2"))
    // invalid compositions fail loudly
    intercept[IllegalArgumentException] {
      Cli.run(spark, Seq("search", idx, "5", "a", "b", "--and", "--min-match", "2"))
    }
    intercept[IllegalArgumentException] {
      Cli.run(spark, Seq("search", idx, "5", "a", "b", "--fuzzy", "--min-match", "2"))
    }
    // boosted clauses, must_not exclusion, field-sorted results
    Cli.run(spark, Seq("search", idx, "5", "spark^2.5", "merge"))
    Cli.run(spark, Seq("search", idx, "5", "spark", "merge", "--not", "window"))
    Cli.run(spark, Seq("search", idx, "5", "spark", "merge", "--sort-by", "dl:desc"))
    Cli.run(spark, Seq("search", idx, "5", "spark", "merge", "--sort-by", "dl:asc"))
    // ES field collapsing: one best hit per docmeta field value
    Cli.run(spark, Seq("search", idx, "5", "spark", "merge", "--collapse", "dl"))
    intercept[IllegalArgumentException] {
      Cli.run(spark, Seq("search", idx, "5", "spark", "--collapse", "dl",
        "--min-match", "2"))
    }
    // refused compositions fail loudly instead of silently mis-scoring
    intercept[IllegalArgumentException] {
      Cli.run(spark, Seq("search", idx, "5", "spark^2", "--fuzzy"))
    }
    intercept[IllegalArgumentException] {
      Cli.run(spark, Seq("search", idx, "5", "spark", "--sort-by", "dl", "--fuzzy"))
    }
    intercept[IllegalArgumentException] {
      Cli.run(spark, Seq("search", idx, "5", "spork", "strean", "--and", "--fuzzy",
        "--not", "window"))
    }
    Cli.run(spark, Seq("explain", idx, "3", "spark", "merge"))
    Cli.run(spark, Seq("wildcard", idx, "5", "s*"))
    // leading wildcard = unpruned dictionary scan — refused loudly
    intercept[IllegalArgumentException] {
      Cli.run(spark, Seq("wildcard", idx, "5", "*ream"))
    }
    Cli.run(spark, Seq("regexp", idx, "5", "s(p|t)[a-z]*"))
    // prefix-free regexp = unpruned dictionary scan — refused loudly
    intercept[IllegalArgumentException] {
      Cli.run(spark, Seq("regexp", idx, "5", ".*eam"))
    }
    Cli.run(spark, Seq("suggest", idx, "s", "--k", "5"))
    Cli.run(spark, Seq("mlt", idx, "/root/testdata/sf0.001/documents.parquet", "3"))
    // missing doc_id fails loudly, not with a bare head() crash
    intercept[IllegalArgumentException] {
      Cli.run(spark, Seq("mlt", idx, "/root/testdata/sf0.001/documents.parquet", "999999"))
    }
    Cli.run(spark, Seq("export", "/root/testdata/sf0.001", idx, "--dry-run"))
    // dry-run must not have touched the committed index
    Cli.run(spark, Seq("reconcile", idx))
    // reconcile also recounts streamed segments against their stats
    import spark.implicits._
    val streamed = (0 until 15).map(i => graft.corpus.Corpus.synthDoc(i, 21L)).toDS()
    graft.streaming.StreamingIngest.appendSegment(spark, streamed, batchId = 0L,
      indexDir = idx, avgdl = h.stats(spark).avgdl, salts = 2, baseDocId = 1L << 40)
    Cli.run(spark, Seq("reconcile", idx))
    // create-index without --force on non-empty dir fails
    intercept[IllegalArgumentException] {
      Cli.run(spark, Seq("create-index", idx))
    }
    Cli.run(spark, Seq("create-index", idx, "--force"))
    assert(new java.io.File(idx).listFiles().isEmpty)
  }

  test("cli: export --positions builds the positional tier; compact folds segments") {
    val idx = tmpDir("graft-cli-pos-idx")
    new java.io.File(idx).delete()
    Cli.run(spark, Seq("export", "/root/testdata/sf0.001", idx, "--salts", "2", "--positions"))
    val h = graft.index.IndexBuilder.openHandle(idx)
    assert(graft.index.Fs.exists(s"${h.root}/positions"))
    // phrase search works over the explicitly built tier
    assert(graft.query.Phrase.search(spark, h, "the").collect().nonEmpty)
    // compact over one streamed segment via the CLI
    import spark.implicits._
    val streamed = (0 until 10).map(i => graft.corpus.Corpus.synthDoc(i, 33L)).toDS()
    graft.streaming.StreamingIngest.appendSegment(spark, streamed, batchId = 0L,
      indexDir = idx, avgdl = h.stats(spark).avgdl, salts = 2, baseDocId = 1L << 40)
    Cli.run(spark, Seq("compact", idx))
    val hc = graft.index.IndexBuilder.openHandle(idx)
    assert(hc.segmentDirs.isEmpty && hc.root.contains("epoch-"))
    Cli.run(spark, Seq("reconcile", idx))
    Cli.run(spark, Seq("compact", idx)) // idempotent no-op path prints, no throw
  }

  test("cli tombstone: --dedup enforces cluster verdicts; explicit id list; purged by compact") {
    import spark.implicits._
    // corpus with planted near-dups: docs 0/1 are a tight near-dup pair
    val dir = tmpDir("graft-cli-tomb-src")
    val dup = "the quick brown fox jumps over the lazy dog again and again today"
    Seq((0L, dup, "en", "web", dup.length), (1L, dup + " x", "en", "web", dup.length + 2),
        (2L, "totally different content with other tokens entirely here now", "en", "web", 60))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val idx = tmpDir("graft-cli-tomb-idx")
    new java.io.File(idx).delete()
    Cli.run(spark, Seq("export", dir, idx, "--salts", "2"))
    val h = graft.index.IndexBuilder.openHandle(idx)
    assert(graft.query.Searcher.termLookup(spark, h, "quick").count() == 2)
    // dedup verdicts: doc 1 loses to keeper 0 → its index docId is tombstoned
    Cli.run(spark, Seq("tombstone", idx, "--dedup", dir))
    assert(h.snapshot.tombstoneDirs.nonEmpty)
    assert(graft.query.Searcher.termLookup(spark, h, "quick").count() == 1)
    // explicit docId-list form stacks a second delta
    val dead2 = h.docmeta(spark).toDF()
      .filter(element_at(split(col("path"), "/"), 2) === "2").select(col("docId"))
    val idsP = tmpDir("graft-cli-tomb-ids")
    dead2.write.mode("overwrite").parquet(s"$idsP/ids.parquet")
    Cli.run(spark, Seq("tombstone", idx, s"$idsP/ids.parquet"))
    assert(graft.query.Searcher.termLookup(spark, h, "tokens").count() == 0)
    // compact purges: delete set resets, corpus shrinks to the keeper doc
    Cli.run(spark, Seq("compact", idx))
    val hc = graft.index.IndexBuilder.openHandle(idx)
    assert(hc.snapshot.tombstoneDirs.isEmpty && hc.docmeta(spark).count() == 1)
  }

  test("persisted analyzer_mode with an unknown name fails loudly on open") {
    val idx = tmpDir("graft-cli-badmode-idx")
    graft.index.Fs.writeString(s"$idx/analyzer_mode", "quantum-tokenizer")
    val ex = intercept[IllegalArgumentException] {
      graft.index.IndexBuilder.openHandle(idx)
    }
    assert(ex.getMessage.contains("quantum-tokenizer"))
    // missing file still defaults to Simple (legacy layout)
    val idx2 = tmpDir("graft-cli-nomode-idx")
    assert(graft.index.IndexBuilder.openHandle(idx2).mode == graft.analyze.Analyzer.Simple)
  }

  test("cli decontaminate-emb --tombstone: contaminated vectors vanish from IVF probes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val corpusDir = tmpDir("graft-cli-demb-c")
    val refDir = tmpDir("graft-cli-demb-r")
    // ref = an exact copy of a corpus slice (cos 1.0 contamination)
    graft.ops.Similarity.synthEmbeddings(spark, corpusDir, 300L, 16, centers = 10)
    spark.read.parquet(s"$corpusDir/embeddings.parquet")
      .filter(col("vec_id") % 50 === 0)
      .write.mode("overwrite").parquet(s"$refDir/embeddings.parquet")
    val ivf = s"$corpusDir/ivf"
    graft.ops.Similarity.buildIvfFrom(spark,
      spark.read.parquet(s"$corpusDir/embeddings.parquet"), ivf, 8)
    Cli.run(spark, Seq("decontaminate-emb", corpusDir, refDir,
      "--threshold", "0.99", "--tombstone", ivf))
    val q = spark.read.parquet(s"$corpusDir/embeddings.parquet")
      .filter(col("vec_id") === 1L).select(col("embedding"))
      .as[Array[Float]].head()
    val ids = graft.ops.Similarity.ivfProbe(spark, ivf, q, 1L, 1000, 8)
      .collect().map(_.getLong(0)).toSet
    assert((0L until 300L by 50L).forall(!ids.contains(_)),
      "contaminated (ref-identical) vectors must be tombstoned out of probes")
    assert(ids.contains(2L))
  }

  test("cli search infers the persisted analyzer mode (code-mode index)") {
    val idx = tmpDir("graft-cli-code-idx")
    new java.io.File(idx).delete()
    Cli.run(spark, Seq("export", "/root/testdata/sf0.001", idx,
      "--mode", "code", "--salts", "2"))
    val opened = graft.index.IndexBuilder.openHandle(idx)
    assert(opened.mode == graft.analyze.Analyzer.Code)
    // openHandle-based search ≡ explicit Code-mode search (the round-1 bug:
    // search always used Simple, returning wrong hits on code indexes)
    val viaOpen = graft.query.Searcher.topK(spark, opened, "customerValue", 10).collect()
    val viaCode = graft.query.Searcher.topK(spark,
      graft.index.IndexBuilder.Handle(idx, graft.analyze.Analyzer.Code),
      "customerValue", 10).collect()
    assert(viaOpen.toSeq == viaCode.toSeq && viaOpen.nonEmpty)
  }
}
