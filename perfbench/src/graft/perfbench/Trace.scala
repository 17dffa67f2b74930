package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same time base as the listener events' timestamps. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double,
                      attrs: Map[String, Any])

final case class TaskRec(span: String, stageId: Int, launch: Long, finish: Long,
                         runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long, inRecords: Long,
                         shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long, spill: Long)

/** In-memory span store plus a SparkListener that keys every job, stage and
  * task to the benchmark span that caused it. The span key travels as the
  * job-level local property [[SpanKey]], set by the benchmark around each
  * call into the program. Nothing is written until the run ends. */
object Tracer {
  /** Local property carrying the span key; jobs inherit it. */
  val SpanKey = "perfbench.span"
}

final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer.SpanKey
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobSpan = new ConcurrentHashMap[Int, (String, Long)]()
  val jobs = new ConcurrentLinkedQueue[(Int, String, Long, Long)]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  val scanStages: java.util.Set[Int] = ConcurrentHashMap.newKeySet[Int]()
  val stages = new ConcurrentLinkedQueue[(Int, String, Long, Long, Int)]()

  def newId(): Long = ids.incrementAndGet()

  /** Span ids by span key, so listener events can find their parent. */
  val spanIds = new ConcurrentHashMap[String, Long]()

  def record(parent: Long, name: String, start: Double, end: Double,
             attrs: Map[String, Any] = Map.empty, key: String = null): Long = {
    val sid = newId()
    spans.add(Span(sid, parent, name, start, end, attrs))
    if (key != null) spanIds.put(key, sid)
    sid
  }

  /** Runs `body` with the span key set, so jobs it starts are attributed. */
  def under[T](key: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, key)
    try body finally sc.setLocalProperty(SpanKey, prev)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("")
    jobSpan.put(e.jobId, (key, e.time))
    e.stageInfos.foreach { si =>
      stageSpan.putIfAbsent(si.stageId, key)
      if (si.rddInfos.exists(_.name.contains("FileScanRDD"))) scanStages.add(si.stageId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { case (key, t0) => jobs.add((e.jobId, key, t0, e.time)) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val key = Option(stageSpan.get(si.stageId)).getOrElse("")
    stages.add((si.stageId, key, si.submissionTime.getOrElse(0L),
      si.completionTime.getOrElse(0L), si.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val key = Option(stageSpan.get(e.stageId)).getOrElse("")
    tasks.add(TaskRec(key, e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
      m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def drain(): Unit = graft.HarnessUtil.drainListeners(spark)

  def tasksOf(prefix: String): Seq[TaskRec] = tasks.asScala.filter(_.span.startsWith(prefix)).toSeq
  def jobsOf(prefix: String): Seq[(Int, String, Long, Long)] =
    jobs.asScala.filter(_._2.startsWith(prefix)).toSeq

  /** Length of the union of the task intervals, clipped to [from, to]. */
  def busyMs(ts: Seq[TaskRec], from: Double, to: Double): Double = {
    val iv = ts.map(t => (math.max(t.launch.toDouble, from), math.min(t.finish.toDouble, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Emits the job and stage spans under their query spans and writes all
    * spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    def parentOf(key: String): Long = Option(spanIds.get(key)).getOrElse(0L)
    val lines = Seq.newBuilder[String]
    spans.asScala.foreach(s => lines += spanJson(s))
    val stageByJobKey = stages.asScala.groupBy(_._2)
    jobs.asScala.foreach { case (jobId, key, t0, t1) =>
      val parent = parentOf(key)
      lines += spanJson(Span(newId(), parent, "job", t0.toDouble, t1.toDouble,
        Map("job" -> jobId, "span" -> key)))
    }
    stageByJobKey.foreach { case (key, ss) =>
      val parent = parentOf(key)
      ss.foreach { case (stageId, _, t0, t1, n) =>
        lines += spanJson(Span(newId(), parent, "stage", t0.toDouble, t1.toDouble,
          Map("stage" -> stageId, "tasks" -> n, "scan" -> scanStages.contains(stageId))))
      }
    }
    java.nio.file.Files.write(path, lines.result().asJava)
  }

  /** Per-query layer figures from the tasks, stages and jobs that ran under
    * the query's span key `qid`, over the query's interval [from, to]. */
  def queryLayers(qid: String, from: Double, to: Double): Map[String, Double] = {
    drain()
    val ts = tasksOf(qid + "/")
    val scan = ts.filter(t => scanStages.contains(t.stageId))
    val skew = ts.groupBy(_.stageId).values.filter(_.size >= 2).map { st =>
      val d = st.map(t => (t.finish - t.launch).toDouble)
      d.max / math.max(1.0, median(d))
    }
    def sumL(f: TaskRec => Long) = ts.map(f).sum.toDouble
    Map(
      "ops.build_jobs" -> jobsOf(qid + "/build").size.toDouble,
      "exec.jobs" -> jobsOf(qid + "/").size.toDouble,
      "exec.stages" -> ts.map(_.stageId).distinct.size.toDouble,
      "exec.tasks" -> ts.size.toDouble,
      "driver.only_s" -> (to - from - busyMs(ts, from, to)) / 1000.0,
      "scan.tasks" -> scan.size.toDouble,
      "scan.empty_tasks" -> scan.count(_.inRecords == 0).toDouble,
      "scan.input_mb" -> scan.map(_.inBytes).sum / 1e6,
      "scan.task_s" -> scan.map(_.runMs).sum / 1000.0,
      "shuffle.write_mb" -> sumL(_.shuffleWrite) / 1e6,
      "shuffle.read_mb" -> sumL(_.shuffleRead) / 1e6,
      "shuffle.fetch_wait_s" -> sumL(_.fetchWaitMs) / 1000.0,
      "task.run_s" -> sumL(_.runMs) / 1000.0,
      "task.cpu_s" -> sumL(_.cpuNs) / 1e9,
      "task.gc_s" -> sumL(_.gcMs) / 1000.0,
      "task.skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "spill.mb" -> sumL(_.spill) / 1e6)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def spanJson(s: Span): String =
    Json.value(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end) ++ s.attrs)
}

/** Counts log4j WARN-and-above events. The benchmark's log4j2 config sends
  * Spark's log to a file; this appender only counts. */
object WarnCounter {
  val count = new AtomicLong(0)

  def install(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val appender = new AbstractAppender("perfbench-warn-counter", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit =
        if (event.getLevel.isMoreSpecificThan(Level.WARN)) count.incrementAndGet()
    }
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
  }
}
