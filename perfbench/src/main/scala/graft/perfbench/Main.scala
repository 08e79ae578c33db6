package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --out <dir>`. Prints one line per metric, then the result
  * object as the last line of stdout; writes the full record (and, traced,
  * the spans) as JSON under `--out`.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def arg(k: String): String = kv.getOrElse(k, usage(s"missing --$k"))
    val workload = arg("workload")
    val w = Workloads.all.find(_.name == workload).getOrElse(
      usage(s"unknown workload '$workload' (one of ${Workloads.all.map(_.name).mkString(", ")})"))
    val cfg = Settings(w, arg("seed").toLong, arg("seconds").toInt,
      arg("trace") == "1", arg("work"))
    val out = arg("out")

    val run = new Run(cfg)
    val gc0 = gcSeconds()
    val wall = try Run.timeS(run.execute()) catch {
      case NonFatal(e) =>
        e.printStackTrace()
        System.err.println("[perfbench] run aborted; no result")
        sys.exit(1)
    }
    run.samples("spark.gc_s") = Seq(gcSeconds() - gc0)

    val layers = if (cfg.trace) Layers.compute(run) else Seq.empty
    val shown = if (cfg.trace) layers else run.metrics.toSeq
    val failedShare = run.failedCount.toDouble / math.max(1L, run.attemptedCount)

    val tag = s"$workload-seed${cfg.seed}-trace${if (cfg.trace) 1 else 0}"
    Files.createDirectories(Paths.get(out))
    val record = Json.obj(
      "workload" -> workload, "seed" -> cfg.seed, "seconds" -> cfg.seconds,
      "trace" -> cfg.trace, "wall_s" -> wall,
      "attempted" -> run.attemptedCount, "failed" -> run.failedCount,
      "failed_share" -> failedShare, "failures" -> run.failures.toList,
      "end_to_end" -> Json.Raw(metricsJson(run.metrics.toSeq)),
      "per_layer" -> Json.Raw(metricsJson(layers)),
      "host" -> Json.Raw(Json.obj(
        "cpu_lap_before_s" -> run.notes.getOrElse("cpu_lap_before_s", 0.0),
        "cpu_lap_after_s" -> run.notes.getOrElse("cpu_lap_after_s", 0.0))),
      "notes" -> run.notes.toMap,
      "jobs" -> Json.Raw(if (cfg.trace) Layers.jobsJson(run.log) else "[]"))
    write(s"$out/$tag.json", record + "\n")
    if (cfg.trace) write(s"$out/$tag-spans.json", run.tracer.toJson(run.origin))

    shown.foreach { case (name, (v, unit)) => println(f"$name%-36s $v%14.6f $unit") }
    println(f"${"failed_share"}%-36s $failedShare%14.6f ratio " +
      s"(${run.failedCount} of ${run.attemptedCount})")
    println(Json.obj("correct" -> (run.failedCount == 0), "attempted" -> run.attemptedCount,
      "failed" -> run.failedCount, "metrics" -> Json.Raw(metricsJson(shown))))
    System.out.flush()
    sys.exit(0)
  }

  private def metricsJson(ms: Seq[(String, (Double, String))]): String =
    ms.map { case (n, (v, u)) => s"${Json.str(n)}: ${Json.obj("value" -> v, "unit" -> u)}" }
      .mkString("{", ", ", "}")

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(UTF_8))

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }
}
