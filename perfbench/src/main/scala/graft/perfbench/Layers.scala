package graft.perfbench

/** Per-layer metrics of a traced run: Spark jobs attributed to the span
  * that launched them (and, inside it, to the engine method or the table
  * they write), plus the samples the phases and [[Micro]] recorded.
  */
object Layers {

  type Metric = (String, (Double, String))

  def jobsJson(log: JobLog): String =
    log.all.map { j =>
      Json.obj("job" -> j.jobId, "span" -> j.span, "req" -> j.req, "site" -> j.site,
        "target" -> j.exec.target, "frames" -> j.frames, "start_ms" -> j.startMs,
        "wall_ms" -> j.wallMs, "tasks" -> j.tasks, "stages" -> j.stages.size, "cpu_s" -> j.cpuS,
        "shuffle_write_b" -> j.sum(_.shuffleWriteBytes), "input_b" -> j.sum(_.inputBytes),
        "output_b" -> j.sum(_.outputBytes))
    }.mkString("[\n", ",\n", "\n]")

  private def spanS(run: Run, name: String): Double =
    run.tracer.all.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def compute(run: Run): Seq[Metric] = {
    val jobs = run.log.all
    def in(span: String) = jobs.filter(_.span == span)
    def sample(k: String): Seq[Double] = run.samples.getOrElse(k, Nil)
    def one(k: String): Double = sample(k).headOption.getOrElse(0.0)
    val out = Seq.newBuilder[Metric]
    def put(name: String, v: Double, unit: String): Unit = out += name -> (v, unit)

    // analyze / codec (single-thread timings)
    put("analyze.ns_per_doc", one("analyze.ns_per_doc"), "ns")
    put("analyze.terms_per_doc", one("analyze.terms_per_doc"), "count")
    put("codec.encode_ns_per_posting", one("codec.encode_ns_per_posting"), "ns")
    put("codec.decode_ns_per_posting", one("codec.decode_ns_per_posting"), "ns")

    // index build at local[4]: jobs split by the table they write
    val build = in("build.local4")
    def buildPart(j: JobRec): String =
      if (j.exec.target == "docmeta") "docmeta"
      else if (j.exec.target == "postings" || j.calledFrom("estimateBuildAvgdl")) "postings"
      else if (j.calledFrom("withDenseIds")) "ids"
      else "termstats"
    Seq("ids", "docmeta", "postings", "termstats").foreach { part =>
      put(s"index.build.${part}_s", JobLog.unionS(build.filter(buildPart(_) == part)), "s")
    }
    put("index.build.eff_1_4", one("index.build.eff_1_4"), "ratio")
    put("index.build.exec_cpu_s", build.map(_.cpuS).sum, "s")
    put("index.build.jobs", build.size.toDouble, "count")
    put("index.build.shuffle_write_bytes", build.map(_.sum(_.shuffleWriteBytes)).sum.toDouble, "B")
    put("index.build.spill_bytes", build.map(_.sum(_.spillBytes)).sum.toDouble, "B")
    val reduce = build.filter(_.exec.target == "postings").flatMap(_.stages)
      .filter(s => s.hasShuffleRead && s.taskMs.nonEmpty).sortBy(-_.taskMs.size).headOption
    put("index.build.postings_task_skew",
      reduce.map(s => s.taskMs.max / math.max(1.0, med(s.taskMs.map(_.toDouble).toSeq))).getOrElse(0.0),
      "ratio")
    val buildWall = spanS(run, "build.local4")
    val busy = build.flatMap(_.stages).distinct.map(_.taskMs.sum).sum / 1e3
    put("index.build.core_idle_share",
      if (buildWall > 0) 1.0 - busy / (Sizes.Cores * buildWall) else 0.0, "ratio")
    put("index.bytes.postings_per_posting",
      one("index.postings_bytes") / math.max(1.0, one("index.postings")), "B")
    put("index.bytes.docmeta_per_doc", one("index.docmeta_bytes") / Sizes.Docs, "B")

    // query: the search phase's closed loop (requests q<i>)
    val loop = jobs.filter(_.req.matches("q\\d+")).groupBy(_.req)
    val queries = sample("query.plan_ms").size.max(1).toDouble
    put("query.plan_ms_p50", med(sample("query.plan_ms")), "ms")
    put("query.exec_ms_p50", med(sample("query.exec_ms")), "ms")
    put("query.jobs_per_query", loop.values.map(_.size).sum / queries, "count")
    put("query.tasks_per_query", loop.values.flatten.map(_.tasks).sum / queries, "count")
    put("query.zero_job_share", 1.0 - loop.size / queries, "ratio")
    put("query.distributed_share",
      loop.values.count(_.exists(_.span == "Dataset.collect")) / queries, "ratio")
    put("query.input_bytes_per_query",
      loop.values.flatten.map(_.sum(_.inputBytes)).sum / queries, "B")
    put("wand.ns_per_posting", one("wand.ns_per_posting"), "ns")
    put("wand.prune_ratio", one("wand.prune_ratio"), "ratio")

    // ingest: appends, merges, catalog, fold
    put("catalog.snapshot_ms_p50", med(sample("catalog.snapshot_ms")), "ms")
    val appends = in("StreamingIngest.appendSegment")
    put("ingest.append.jobs", appends.size.toDouble / Sizes.Batches, "count")
    put("ingest.append.exec_cpu_s_p50", med(appends.groupBy(_.req).values
      .map(_.map(_.cpuS).sum).toSeq), "s")
    val live = sample("ingest.live_segments")
    put("ingest.live_segments_mean", if (live.isEmpty) 0.0 else live.sum / live.size, "count")
    put("ingest.query_ms_p50", med(sample("ingest.query_ms")), "ms")
    put("ingest.query_ms_per_segment", Stats.slope(live, sample("ingest.query_ms")), "ms")
    val fold = in("Compactor.compact")
    val written = (appends ++ in("Compactor.mergeSegments") ++ fold)
      .map(_.sum(_.outputBytes)).sum.toDouble
    put("ingest.write_amp", written / math.max(1.0, one("ingest.appended_bytes")), "ratio")
    put("index.merge_s_p50", med(sample("index.merge_s")), "s")
    def foldPart(j: JobRec): String = j.exec.target match {
      case "docmeta" => "docmeta"
      case "postings" | "positions" => "postings"
      case "stats" | "termstats" => "stats"
      case _ => "ids"
    }
    Seq("ids", "docmeta", "postings", "stats").foreach { part =>
      put(s"index.fold.${part}_s", JobLog.unionS(fold.filter(foldPart(_) == part)), "s")
    }

    // ops: IVF build and probes, MinHash-LSH dedup
    put("ivf.build_s", one("ivf.build_s"), "s")
    put("ann.query_ms_p50", med(sample("ann.query_ms")), "ms")
    val ivf = in("Similarity.buildIvf")
    def ivfPart(j: JobRec): String =
      if (j.exec.target.nonEmpty) "assign" else if (j.exec.takeOrdered) "init" else "lloyd"
    Seq("init", "lloyd", "assign").foreach { part =>
      put(s"ivf.${part}_s", JobLog.unionS(ivf.filter(ivfPart(_) == part)), "s")
    }
    put("ivf.input_bytes_per_source_byte",
      ivf.map(_.sum(_.inputBytes)).sum / math.max(1.0, one("ann.source_bytes")), "ratio")
    val probes = jobs.filter(_.req.matches("a\\d+"))
    put("ann.probe_input_bytes",
      probes.map(_.sum(_.inputBytes)).sum.toDouble / math.max(1, probes.map(_.req).distinct.size),
      "B")
    put("dedup.minhash_s", one("dedup.minhash_s"), "s")
    val dedup = in("Dedup.minhashLshPairs")
    put("dedup.shuffle_records", dedup.map(_.sum(_.shuffleWriteRecords)).sum.toDouble, "count")
    put("dedup.candidate_pairs", one("dedup.candidate_pairs"), "count")
    put("dedup.exec_cpu_s", dedup.map(_.cpuS).sum, "s")

    put("spark.gc_s", one("spark.gc_s"), "s")
    put("trace.overhead_share", one("trace.overhead"), "ratio")
    out.result()
  }
}
