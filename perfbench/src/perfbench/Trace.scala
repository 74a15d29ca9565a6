package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spans recorded around the benchmark's calls into the engine, plus a
  * [[SparkListener]] that attributes Spark jobs and stages to the span whose
  * job group launched them. Everything stays in memory until [[json]] at the
  * end of the run. Times are milliseconds on the wall clock the listener
  * events use, so spans and jobs share one timeline.
  */
final class Tracer(sc: SparkContext) {
  final case class Span(id: Int, name: String, parent: Int, op: Long, start: Double,
      var end: Double = Double.NaN)
  final case class Job(id: Int, span: Int, start: Long, var end: Long, stages: Seq[Int],
      execId: Long)
  final case class Stage(id: Int, job: Int, tasks: Int, wallMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleReadB: Long, shuffleWriteB: Long, spillB: Long, inputB: Long,
      inputRecords: Long, outputB: Long, outputRecords: Long, emptyWriteTasks: Int)

  private val origin = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def now: Double = origin + System.nanoTime() / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  /** Spans only record, and the listener only attributes, while active: the
    * traced run alternates traced and untraced passes to measure overhead. */
  @volatile var active = false

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val emptyTasks = mutable.HashMap.empty[Int, Int]
  /** SQL execution id -> physical plan text, to tell which table a job wrote. */
  private val plans = mutable.HashMap.empty[Long, String]

  private val lock = new Object
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.filter(_.startsWith("span-")).foreach { s =>
        val exec = Option(e.properties.getProperty("spark.sql.execution.id"))
          .flatMap(_.toLongOption).getOrElse(-1L)
        jobs(e.jobId) = Job(e.jobId, s.stripPrefix("span-").toInt, e.time, -1L,
          e.stageIds, exec)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      if (stageJob.contains(e.stageId) && e.taskMetrics != null &&
          e.taskType == "ResultTask" && e.taskMetrics.outputMetrics.recordsWritten == 0 &&
          e.taskMetrics.outputMetrics.bytesWritten == 0)
        emptyTasks(e.stageId) = emptyTasks.getOrElse(e.stageId, 0) + 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val si = e.stageInfo
      stageJob.get(si.stageId).foreach { j =>
        val m = si.taskMetrics
        stages(si.stageId) = Stage(si.stageId, j, si.numTasks,
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled + m.memoryBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
          emptyTasks.getOrElse(si.stageId, 0))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if active =>
        lock.synchronized { plans(s.executionId) = s.physicalPlanDescription }
      case _ =>
    }
  }
  sc.addSparkListener(listener)

  def detach(): Unit = sc.removeSparkListener(listener)

  /** Runs `f` inside a span; its Spark jobs carry the span's job group. */
  def span[T](name: String, op: Long = -1L)(f: => T): T =
    if (!active) f
    else {
      val parent = stack.headOption
      val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1), op, now)
      spans += s
      stack.push(s)
      sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
      try f
      finally {
        s.end = now
        stack.pop()
        parent match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Blocks until the listener bus has delivered every event posted so far. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def descendants(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    kids.toSet ++ kids.flatMap(descendants)
  }
  /** Jobs launched from the span or any span below it. */
  def jobsUnder(id: Int): Seq[Job] = lock.synchronized {
    val ids = descendants(id) + id
    jobs.values.filter(j => ids(j.span)).toSeq
  }
  def stagesOf(js: Seq[Job]): Seq[Stage] = lock.synchronized {
    val ids = js.map(_.id).toSet
    stages.values.filter(s => ids(s.job)).toSeq
  }
  def planOf(j: Job): String = lock.synchronized(plans.getOrElse(j.execId, ""))
  def allJobs: Seq[Job] = lock.synchronized(jobs.values.toSeq)
  def allStages: Seq[Stage] = lock.synchronized(stages.values.toSeq)

  /** Self time: duration minus the part of it covered by child spans. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    kids.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    (s.end - s.start) - covered
  }

  /** Splits `[start, end]` into the time each job class covers plus the time
    * no job runs (the driver's serial share). Where jobs overlap, the one that
    * started last owns the segment. The parts sum to the span exactly. */
  def partition(s: Span, classify: Job => String): (Map[String, Double], Double) = {
    val js = jobsUnder(s.id).filter(_.end >= 0)
    val cuts = (js.flatMap(j => Seq(j.start.toDouble, j.end.toDouble)) ++ Seq(s.start, s.end))
      .map(t => math.min(math.max(t, s.start), s.end)).distinct.sorted
    val by = mutable.HashMap.empty[String, Double]
    var driver = 0.0
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val mid = (a + b) / 2
        js.filter(j => j.start <= mid && mid <= j.end).sortBy(-_.start).headOption match {
          case Some(j) => val c = classify(j); by(c) = by.getOrElse(c, 0.0) + (b - a)
          case None => driver += b - a
        }
      case _ =>
    }
    (by.toMap, driver)
  }

  /** Every attributed job and stage with its metrics, as JSON. */
  def stagesJson: String = lock.synchronized {
    val js = jobs.values.map(j =>
      s"""{"job": ${j.id}, "span": ${j.span}, "start_ms": ${j.start}, "end_ms": ${j.end}, """ +
        s""""sql_execution": ${j.execId}, "stages": [${j.stages.mkString(",")}]}""")
    val ss = stages.values.map(t =>
      s"""{"stage": ${t.id}, "job": ${t.job}, "tasks": ${t.tasks}, "wall_ms": ${t.wallMs}, """ +
        s""""run_ms": ${t.runMs}, "cpu_ms": ${t.cpuNs / 1e6}, "gc_ms": ${t.gcMs}, """ +
        s""""shuffle_read_b": ${t.shuffleReadB}, "shuffle_write_b": ${t.shuffleWriteB}, """ +
        s""""spill_b": ${t.spillB}, "input_b": ${t.inputB}, "input_records": ${t.inputRecords}, """ +
        s""""output_b": ${t.outputB}, "output_records": ${t.outputRecords}, """ +
        s""""empty_write_tasks": ${t.emptyWriteTasks}}""")
    s"""{"jobs": [${js.mkString(",\n  ")}],\n "stages": [${ss.mkString(",\n  ")}]}"""
  }

  def json: String = {
    def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
    spans.map(s =>
      f"""{"id":${s.id},"name":"${esc(s.name)}","parent":${s.parent},"op":${s.op},""" +
        f""""start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"self_ms":${selfMs(s)}%.3f,""" +
        s""""jobs":[${jobsUnder(s.id).filter(_.span == s.id).map(_.id).mkString(",")}]}""")
      .mkString("[\n", ",\n", "\n]")
  }
}
