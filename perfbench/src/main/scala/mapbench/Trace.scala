package mapbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** One timed call: `req` names the request, batch, build or query it belongs
  * to; `parent` is the enclosing span's id (0 = none). Times are nanoseconds
  * since the run's origin.
  */
final case class Span(id: Long, parent: Long, name: String, req: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, a span is just the call; enabled,
  * spans collect in a lock-free queue and are written out once, at the end.
  */
final class Tracer(val enabled: Boolean, origin: Long) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def span[A](name: String, req: String, parent: Long = 0L)(f: Long => A): A =
    if (!enabled) f(0L)
    else {
      val id = ids.incrementAndGet()
      val s = System.nanoTime()
      try f(id)
      finally spans.add(Span(id, parent, name, req, s - origin, System.nanoTime() - origin))
    }

  def named(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.asScala.toSeq.sortBy(_.id).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"req":${Json.str(s.req)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
      sb += '\n'
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Per-stage totals, attributed to the benchmark operation that submitted the
  * stage's job and to the program layer that ran it. */
final case class StageRec(op: String, query: String, job: Int,
    layer: String, target: String, startMs: Long, endMs: Long, cpuNs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, tasks: Int,
    taskMs: Array[Long], recordsIn: Long, recordsOut: Long, bytesOut: Long) {
  def wallMs: Long = endMs - startMs
}

/** SparkListener that sums every completed stage's cpu, shuffle, spill and
  * task times, and assigns each stage to a program layer.
  *
  * The layer comes from what the job is doing, read from outside the
  * program: the output path of the SQL execution the job belongs to (every
  * store write goes through KeyedSink.writeSalted into a `tiles/`,
  * `points`, `points_blobs` or `state/` directory), the operators in the
  * stage (the MVT and point-blob encoders are typed `mapGroups`), and the
  * operation the benchmark was running (local properties set around each
  * public call). The first SQL execution of a build or an incremental batch
  * is the occurrence snapshot that both start with.
  */
final class LayerListener extends SparkListener {
  private case class JobCtx(op: String, kind: String, query: String, execId: Long, job: Int)
  private val stageJob = new ConcurrentHashMap[Int, JobCtx]()
  private val taskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()
  private val execPath = new ConcurrentHashMap[Long, String]()
  private val firstExec = new ConcurrentHashMap[String, java.lang.Long]()
  private val recs = new ConcurrentLinkedQueue[StageRec]()
  private val pendingJobs = new AtomicLong(0)
  private val lastEvent = new AtomicLong(System.nanoTime())

  // the formatted plan lists the insert command's output path first among
  // its node arguments
  private val InsertPath = """Arguments: file:([^\s,]+)""".r

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      InsertPath.findFirstMatchIn(s.physicalPlanDescription)
        .foreach(m => execPath.put(s.executionId, m.group(1)))
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    pendingJobs.incrementAndGet(); touch()
    val p = j.properties
    def prop(k: String) = Option(if (p == null) null else p.getProperty(k)).getOrElse("")
    val exec = scala.util.Try(prop("spark.sql.execution.id").toLong).getOrElse(-1L)
    val op = prop("mapbench.op")
    if (op.nonEmpty && exec >= 0) firstExec.putIfAbsent(op, exec)
    val ctx = JobCtx(op, prop("mapbench.kind"), prop("mapbench.query"), exec, j.jobId)
    j.stageIds.foreach(s => stageJob.putIfAbsent(s, ctx))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = { pendingJobs.decrementAndGet(); touch() }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    if (t.taskInfo != null)
      taskMs.computeIfAbsent(t.stageId, _ => new ConcurrentLinkedQueue[java.lang.Long]())
        .add(t.taskInfo.duration)
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val ctx = Option(stageJob.get(si.stageId)).getOrElse(JobCtx("", "", "", -1L, -1))
    val m = si.taskMetrics
    val durs = Option(taskMs.remove(si.stageId)).map(_.asScala.map(_.longValue).toArray)
      .getOrElse(Array.empty[Long])
    val scopes = si.rddInfos.flatMap(_.scope.map(_.name))
    val start = si.submissionTime.getOrElse(0L)
    val end = si.completionTime.getOrElse(start)
    val path = Option(execPath.get(ctx.execId)).getOrElse("")
    val target =
      if (path.contains("/tiles/")) "tiles" else if (path.endsWith("_blobs")) "blobs"
      else if (path.contains("/points")) "points" else if (path.contains("/state/")) "state"
      else ""
    recs.add(StageRec(ctx.op, ctx.query, ctx.job, layerOf(ctx, si, scopes, target),
      target, start, end,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      si.numTasks, durs,
      if (m == null) 0L else m.inputMetrics.recordsRead,
      if (m == null) 0L else m.outputMetrics.recordsWritten,
      if (m == null) 0L else m.outputMetrics.bytesWritten))
    touch()
  }

  private def layerOf(ctx: JobCtx, si: StageInfo, scopes: Seq[String],
      target: String): String = {
    // the stage that writes no shuffle output is the job's final (write) stage
    val m = si.taskMetrics
    val result = m == null || m.shuffleWriteMetrics.recordsWritten == 0
    val encodes = scopes.exists(_.startsWith("MapGroups"))
    if (ctx.kind == "dedup") "dedup"
    else if (target == "tiles")
      if (result) "keyedsink" else if (encodes) "tileencode" else "mapbuild"
    else if (target == "blobs")
      if (result) "keyedsink" else if (encodes) "pointencode" else "mapbuild"
    else if (target == "points") if (result) "keyedsink" else "mapbuild"
    else if (target == "state") "mapbuild"
    else if (ctx.kind == "build" || ctx.kind == "ingest")
      if (ctx.execId >= 0 && Option(firstExec.get(ctx.op)).exists(_ == ctx.execId)) "occ"
      else "mapbuild"
    else "other"
  }

  private def touch(): Unit = lastEvent.set(System.nanoTime())

  /** Waits until every submitted job has ended and no event has arrived for
    * 100 ms: listener events land asynchronously after the action returns. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
        (pendingJobs.get() > 0 || System.nanoTime() - lastEvent.get() < 100000000L))
      Thread.sleep(20)
  }

  def stages: Seq[StageRec] = recs.asScala.toSeq
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '\\' => "\\\\"; case '"' => "\\\""
    case c if c < ' ' => "\\u%04x".format(c.toInt); case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
