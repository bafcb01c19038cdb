package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, SparkInternals}
import org.apache.spark.scheduler._

/** One finished Spark stage, attributed to the job group the benchmark
  * set around the public call that ran it. `site` is the first engine
  * (`graft.`) frame of the call stack of the action that ran the stage,
  * e.g. `graft.index.SegmentedBuild$.buildSegment(SegmentedBuild.scala:86)`,
  * or the benchmark frame when the engine returned a lazy plan the
  * benchmark then forced. Adaptive execution submits stages from its own
  * threads, so the stack is taken from the SQL execution the stage's job
  * belongs to when the stage's own stack has no such frame. */
final case class StageRec(group: String, name: String, site: String,
    shuffleMap: Boolean,
    wallMs: Long, tasks: Int, cpuMs: Double, runMs: Long, gcMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, recordsRead: Long,
    spillBytes: Long, waitMs: Long, taskMs: Array[Long])

/** Listener that groups jobs by job group and stages by call site and
  * kind. Registered only in traced runs. */
final class LayerListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobCount = new ConcurrentHashMap[String, java.lang.Long]()
  private val taskMs = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Array[Long]]]()
  private val execSite = new ConcurrentHashMap[Long, String]()
  private val stageSite = new ConcurrentHashMap[Int, String]()
  val stages = new ConcurrentLinkedQueue[StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execSite.get(id.toLong)))
      .foreach(site => e.stageIds.foreach(s => stageSite.put(s, site)))
    jobCount.merge(g, 1L, (a, b) => a + b)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      engineFrame(x.details).foreach(execSite.put(x.executionId, _))
    case _ =>
  }

  private def engineFrame(stack: String): Option[String] =
    Option(stack).iterator.flatMap(_.linesIterator).map(_.trim)
      .find(l => l.startsWith("graft.") || l.startsWith("perfbench."))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    // scheduler delay as Spark's UI defines it: task wall time not spent
    // deserializing, running or shipping the result
    val delay = if (m == null) 0L else math.max(0L, i.duration -
      m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - i.gettingResultTime)
    taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue())
      .add(Array(i.duration, delay, i.launchTime))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val submit = s.submissionTime.getOrElse(0L)
    val ts = Option(taskMs.remove(s.stageId)).map(_.asScala.toArray)
      .getOrElse(Array.empty[Array[Long]])
    // waiting = scheduler delay + time each task queued for a free core
    val wait = ts.map(t => t(1) + math.max(0L, t(2) - submit)).sum
    val site = engineFrame(s.details)
      .orElse(Option(stageSite.remove(s.stageId))).getOrElse(s.name)
    val (cpu, run, gc, sr, sw, rr, spill) =
      if (m == null) (0.0, 0L, 0L, 0L, 0L, 0L, 0L)
      else (m.executorCpuTime / 1e6, m.executorRunTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    stages.add(StageRec(stageGroup.getOrDefault(s.stageId, "-"), s.name, site,
      SparkInternals.isShuffleMap(s),
      s.completionTime.getOrElse(submit) - submit, s.numTasks, cpu, run, gc,
      sr, sw, rr, spill, wait, ts.map(_(0))))
  }

  /** Jobs started under `group`. */
  def jobs(group: String): Long = jobCount.getOrDefault(group, 0L)

  def stagesOf(group: String): Seq[StageRec] =
    stages.asScala.filter(_.group == group).toSeq

  def stagesWhere(p: String => Boolean): Seq[StageRec] =
    stages.asScala.filter(s => p(s.group)).toSeq
}

/** A span around one call the benchmark makes: name, request id, start,
  * end (ns), and the enclosing span on the same thread. Kept in memory;
  * written out when the run ends. */
final case class Span(name: String, req: Long, startNs: Long, endNs: Long,
    parent: String)

/** The benchmark's tracer. When `on` is false it only times each call:
  * no listener, no job groups, no spans kept. */
final class Trace(val on: Boolean, sc: SparkContext) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = ThreadLocal.withInitial[String](() => "")
  val listener: Option[LayerListener] =
    if (on) { val l = new LayerListener; sc.addSparkListener(l); Some(l) }
    else None

  /** Runs `body` under job group `group` (when traced) and records a
    * span named `name`. Returns the result and its wall time in ms. */
  def span[A](name: String, req: Long = -1L, group: String = null)(
      body: => A): (A, Double) = {
    if (on && group != null) sc.setJobGroup(group, name, false)
    val parent = current.get
    current.set(name)
    val t0 = System.nanoTime()
    try {
      val r = body
      val t1 = System.nanoTime()
      if (on) spans.add(Span(name, req, t0, t1, parent))
      (r, (t1 - t0) / 1e6)
    } finally {
      current.set(parent)
      if (on && group != null) sc.clearJobGroup()
    }
  }

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit = if (on) SparkInternals.drainListenerBus(sc)

  def close(): Unit = listener.foreach(sc.removeSparkListener)

  /** Writes the spans and the listener's stage records, one JSON object
    * per line, into `dir`. */
  def write(dir: java.nio.file.Path): Unit = if (on) {
    def esc(x: String) = graft.tools.Serve.jsonEscape(x)
    def lines(file: String, xs: Iterator[String]): Unit = {
      val w = java.nio.file.Files.newBufferedWriter(dir.resolve(file))
      try xs.foreach { x => w.write(x); w.newLine() } finally w.close()
    }
    lines("spans.jsonl", spans.asScala.iterator.map(s =>
      s"""{"name":"${esc(s.name)}","req":${s.req},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":"${esc(s.parent)}"}"""))
    lines("stages.jsonl", listener.iterator.flatMap(_.stages.asScala).map(s =>
      s"""{"group":"${esc(s.group)}","name":"${esc(s.name)}",""" +
        s""""site":"${esc(s.site)}","shuffle_map":${s.shuffleMap},""" +
        s""""wall_ms":${s.wallMs},"tasks":${s.tasks},"cpu_ms":${s.cpuMs},""" +
        s""""run_ms":${s.runMs},"gc_ms":${s.gcMs},""" +
        s""""shuffle_read_bytes":${s.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${s.shuffleWriteBytes},""" +
        s""""records_read":${s.recordsRead},"wait_ms":${s.waitMs}}"""))
  }
}
