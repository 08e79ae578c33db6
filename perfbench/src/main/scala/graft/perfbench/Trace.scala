package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into an engine module, recorded from the benchmark side. */
final case class Span(id: Long, parent: Long, name: String, req: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, it only runs the body. Spans nest per
  * thread; a span's request id is inherited from its parent unless given.
  * While a span is open its name and request id are set as Spark local
  * properties, so the jobs it launches carry them to [[JobLog]].
  */
final class Tracer(enabled: Boolean) {
  /** Switched off for the untraced half of the overhead probe. */
  @volatile var active: Boolean = true
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[(Long, String)]](() => Nil)
  @volatile var sc: SparkContext = _

  def span[T](name: String, req: String = "")(f: => T): T =
    if (!enabled || !active) f
    else {
      val id = nextId.getAndIncrement()
      val outer = stack.get()
      val (parent, parentReq) = outer.headOption.getOrElse((0L, ""))
      val r = if (req.nonEmpty) req else parentReq
      val ctx = sc
      val (oldName, oldReq) =
        if (ctx == null) (null, null)
        else (ctx.getLocalProperty(Tracer.SpanKey), ctx.getLocalProperty(Tracer.ReqKey))
      if (ctx != null) {
        ctx.setLocalProperty(Tracer.SpanKey, name)
        ctx.setLocalProperty(Tracer.ReqKey, r)
      }
      stack.set((id, r) :: outer)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        if (ctx != null) {
          ctx.setLocalProperty(Tracer.SpanKey, oldName)
          ctx.setLocalProperty(Tracer.ReqKey, oldReq)
        }
        spans.synchronized(spans += Span(id, parent, name, r, t0, t1))
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def toJson(origin: Long): String =
    all.sortBy(_.startNs).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
        "start_ms" -> (s.startNs - origin) / 1e6, "end_ms" -> (s.endNs - origin) / 1e6)
    }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val SpanKey = "perfbench.span"
  val ReqKey = "perfbench.req"
}

/** Per-stage task totals, accumulated from task-end events. */
final class StageRec(val hasShuffleRead: Boolean) {
  val taskMs = ArrayBuffer.empty[Long]
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
}

/** One Spark job: the benchmark span and request that launched it (local
  * properties) and the engine frames of its call site, innermost first,
  * each as `Object.method` (no file, line or lambda number, so the mapping
  * survives edits elsewhere in the file).
  */
final class JobRec(val jobId: Int, val span: String, val req: String, val execId: Long,
                   val exec: JobLog.Exec, val startMs: Long, val stages: Seq[StageRec]) {
  @volatile var endMs: Long = startMs
  @volatile var ended: Boolean = false
  def frames: Seq[String] = exec.frames
  /** The first engine method on the job's call site. */
  def site: String = frames.headOption.getOrElse("")
  def calledFrom(method: String): Boolean = frames.exists(_.endsWith(s".$method"))
  def wallMs: Long = endMs - startMs
  def tasks: Int = stages.map(_.taskMs.size).sum
  def cpuS: Double = stages.map(_.cpuNs).sum / 1e9
  def sum(f: StageRec => Long): Long = stages.map(f).sum
}

/** Spark listener that keeps a [[JobRec]] per job. A Dataset action's jobs
  * may be submitted from Spark's own threads, so their call site is taken
  * from the SQL execution that owns them (captured on the calling thread),
  * and from the stage only for plain RDD jobs.
  */
final class JobLog extends SparkListener {
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = scala.collection.mutable.HashMap.empty[Int, StageRec]
  private val execs = scala.collection.mutable.HashMap.empty[Long, JobLog.Exec]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(execs(s.executionId) = JobLog.Exec(JobLog.framesOf(s.details),
        JobLog.targetOf(s.physicalPlanDescription),
        s.physicalPlanDescription.contains("TakeOrderedAndProject")))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String): String =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val recs = e.stageInfos.map { si =>
      stages.getOrElseUpdate(si.stageId, new StageRec(si.parentIds.nonEmpty))
    }
    val execId = prop("spark.sql.execution.id")
    val exec =
      if (execId.nonEmpty) execs.getOrElse(execId.toLong, JobLog.NoExec)
      else JobLog.NoExec.copy(frames = e.stageInfos.sortBy(-_.stageId).headOption
        .map(s => JobLog.framesOf(s.details)).getOrElse(Nil))
    jobs(e.jobId) = new JobRec(e.jobId, prop(Tracer.SpanKey), prop(Tracer.ReqKey),
      if (execId.nonEmpty) execId.toLong else -1L, exec, e.time, recs)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j => j.endMs = e.time; j.ended = true }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stages.get(e.stageId).foreach { s =>
      s.taskMs += e.taskInfo.duration
      s.cpuNs += m.executorCpuTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def all: Seq[JobRec] = synchronized(jobs.values.toList)
}

object JobLog {
  /** What a SQL execution is: its call-site frames, the table directory it
    * writes (last path component; empty for collects) and whether its plan
    * takes an ordered top-k.
    */
  final case class Exec(frames: Seq[String], target: String, takeOrdered: Boolean)
  val NoExec: Exec = Exec(Nil, "", takeOrdered = false)

  private val Write = "Execute InsertIntoHadoopFsRelationCommand"

  /** Last path component of the directory a formatted physical plan
    * writes (its write node's `Arguments:` line starts with the path).
    */
  def targetOf(plan: String): String = {
    val at = Option(plan).map(_.lastIndexOf(Write)).getOrElse(-1)
    val args = if (at < 0) -1 else plan.indexOf("Arguments: ", at)
    if (args < 0) ""
    else plan.substring(args + "Arguments: ".length).takeWhile(c => c != ',' && c != '\n')
      .trim.stripSuffix("/").split('/').last
  }

  private val Frame = """^\s*graft\.([\w$.]+)\.([\w$]+)\(""".r

  /** Engine frames of a Spark call-site string, innermost first, as
    * `Object.method`: `graft.index.IndexBuilder$.$anonfun$build$5` and
    * `graft.index.IndexBuilder$.docmetaJob$1` become `IndexBuilder.build`
    * and `IndexBuilder.docmetaJob`. Frames of the benchmark are dropped.
    */
  def framesOf(details: String): Seq[String] =
    Option(details).toSeq.flatMap(_.split("\n")).flatMap { l =>
      Frame.findFirstMatchIn(l).collect {
        case m if !m.group(1).startsWith("perfbench.") =>
          val obj = m.group(1).split('.').last.stripSuffix("$")
          val raw = m.group(2)
          val method =
            if (raw.contains("$anonfun$")) raw.split("\\$anonfun\\$")(1).takeWhile(_ != '$')
            else raw.takeWhile(_ != '$')
          s"$obj.$method"
      }
    }.foldRight(List.empty[String])((f, acc) => if (acc.headOption.contains(f)) acc else f :: acc)

  /** Wall time covered by the union of the jobs' [start, end] intervals. */
  def unionS(js: Seq[JobRec]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    js.map(j => (j.startMs, j.endMs)).sorted.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}
