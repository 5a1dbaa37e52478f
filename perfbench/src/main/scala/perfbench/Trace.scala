package perfbench

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed interval. Times are epoch microseconds. `parent` is the id of
  * the enclosing span (0 = the workload root). */
final case class Span(id: Int, name: String, kind: String, parent: Int,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** Aggregated task metrics of one completed stage. */
final case class StageStat(stageId: Int, jobSpan: Int, tasks: Int,
    cpuS: Double, runS: Double, gcS: Double, waitS: Double,
    shuffleReadB: Long, shuffleWriteB: Long, spillB: Long,
    failedTasks: Int, taskTimes: Seq[Double])

/** In-memory tracer. Driver-side spans come from [[span]]; each span sets
  * its own Spark job group, so the jobs a call launches — eager jobs inside
  * an ops call as well as the final action — are parented to it. Jobs and
  * stages become spans through a SparkListener, and plan-phase times come
  * from a QueryExecutionListener. All listeners are public Spark APIs and
  * live only here; they are installed only between [[attach]] and
  * [[detach]], so untraced work around them runs without them. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicInteger(0)
  private val lock = new Object
  private val spansBuf = mutable.ArrayBuffer.empty[Span]
  private val stagesBuf = mutable.ArrayBuffer.empty[StageStat]
  private var stack: List[Int] = List(0)
  // job id -> job span id; stage id -> job span id
  private val jobs = mutable.Map.empty[Int, Int]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
  private val taskWait = mutable.Map.empty[Int, Double]
  private val taskFails = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[Int, Double]
  val jobCallSites = mutable.Map.empty[Int, String] // job span id -> call site
  val phasesMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  @volatile private var drainLatch = new java.util.concurrent.CountDownLatch(0)
  private val drainJobs = mutable.Set.empty[Int]

  private def groupOf(id: Int) = s"perfbench-$id"
  private def spanOfGroup(g: String): Int =
    if (g != null && g.startsWith("perfbench-")) g.stripPrefix("perfbench-").toInt else 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      if (e.properties.getProperty(Tracer.JobGroupKey) == Tracer.DrainGroup) {
        drainJobs += e.jobId; return
      }
      val parent = spanOfGroup(e.properties.getProperty(Tracer.JobGroupKey))
      // a job's call site ("localCheckpoint at Dedup.scala:1241") names its last stage
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val jobSpan = ids.incrementAndGet()
      jobs(e.jobId) = jobSpan
      jobCallSites(jobSpan) = site
      e.stageIds.foreach(s => stageJob(s) = jobSpan)
      // open until the job's end event fills in its end time
      spansBuf += Span(jobSpan, s"job ${e.jobId}", "job", parent, e.time * 1000.0, -1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      if (drainJobs.remove(e.jobId)) { drainLatch.countDown(); return }
      jobs.remove(e.jobId).foreach { jobSpan =>
        val i = spansBuf.lastIndexWhere(_.id == jobSpan)
        if (i >= 0) spansBuf(i) = spansBuf(i).copy(end = e.time * 1000.0)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.map(_ * 1000.0).getOrElse(Clock.epochUs())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val s = e.stageId
      taskTimes.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += e.taskInfo.duration / 1000.0
      stageSubmit.get(s).foreach { sub =>
        taskWait(s) = taskWait.getOrElse(s, 0.0) +
          math.max(0.0, e.taskInfo.launchTime * 1000.0 - sub) / 1e6
      }
      if (e.reason != Success) taskFails(s) = taskFails.getOrElse(s, 0) + 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val info = e.stageInfo
      val s = info.stageId
      val jobSpan = stageJob.getOrElse(s, -1)
      if (jobSpan < 0) return
      val start = info.submissionTime.map(_ * 1000.0).getOrElse(Clock.epochUs())
      val end = info.completionTime.map(_ * 1000.0).getOrElse(Clock.epochUs())
      spansBuf += Span(ids.incrementAndGet(), s"stage $s", "stage", jobSpan, start, end)
      val m = info.taskMetrics
      stagesBuf += StageStat(s, jobSpan, info.numTasks,
        cpuS = if (m == null) 0 else m.executorCpuTime / 1e9,
        runS = if (m == null) 0 else m.executorRunTime / 1e3,
        gcS = if (m == null) 0 else m.jvmGCTime / 1e3,
        waitS = taskWait.getOrElse(s, 0.0),
        shuffleReadB = if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteB = if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten,
        spillB = if (m == null) 0 else m.memoryBytesSpilled + m.diskBytesSpilled,
        failedTasks = taskFails.getOrElse(s, 0),
        taskTimes = taskTimes.getOrElse(s, mutable.ArrayBuffer.empty).toSeq)
      taskTimes.remove(s); taskWait.remove(s); taskFails.remove(s); stageSubmit.remove(s)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      qe.tracker.phases.foreach { case (phase, summary) =>
        phasesMs(phase) += summary.durationMs.toDouble
      }
    }
  }

  /** Install the listeners; events are recorded until [[detach]]. */
  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Time `body` as a child of the current span, under its own job group. */
  def span[A](name: String, kind: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val parent = stack.head
    val t0 = Clock.epochUs()
    stack = id :: stack
    sc.setJobGroup(groupOf(id), name, interruptOnCancel = false)
    try body
    finally {
      stack = stack.tail
      if (stack.head == 0) sc.clearJobGroup()
      else sc.setJobGroup(groupOf(stack.head), name, interruptOnCancel = false)
      val t1 = Clock.epochUs()
      lock.synchronized { spansBuf += Span(id, name, kind, parent, t0, t1) }
    }
  }

  /** Record a span measured elsewhere (a streaming micro-batch). */
  def record(name: String, kind: String, start: Double, end: Double): Unit =
    lock.synchronized {
      spansBuf += Span(ids.incrementAndGet(), name, kind, stack.head, start, end)
    }

  /** Parent every root-level `childKind` span to the `parentKind` span
    * whose interval contains its start: jobs a streaming query runs on its
    * own thread carry no job group, so they attach to their micro-batch by
    * time. */
  def adoptByTime(parentKind: String, childKind: String): Unit = lock.synchronized {
    val parents = spansBuf.filter(_.kind == parentKind)
    spansBuf.indices.foreach { i =>
      val c = spansBuf(i)
      if (c.kind == childKind && c.parent == 0)
        parents.find(p => p.start <= c.start && c.start <= p.end)
          .foreach(p => spansBuf(i) = c.copy(parent = p.id))
    }
  }

  /** Waits until the listener has seen every event posted so far: runs a
    * one-task sentinel job and waits for its end event, which the bus
    * delivers after everything queued before it. */
  def drain(): Unit = {
    val seen = new java.util.concurrent.CountDownLatch(1)
    drainLatch = seen
    sc.setJobGroup(Tracer.DrainGroup, "drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      if (stack.head == 0) sc.clearJobGroup()
      else sc.setJobGroup(groupOf(stack.head), "resume", interruptOnCancel = false)
    }
    seen.await(10, java.util.concurrent.TimeUnit.SECONDS)
    // plan-phase events travel on the session's own listener queue
    Thread.sleep(100)
  }

  /** Deliver every pending event, then remove the listeners. */
  def detach(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    sc.clearJobGroup()
  }

  def spans: Seq[Span] = lock.synchronized(spansBuf.filter(_.end >= 0).toSeq)
  def stages: Seq[StageStat] = lock.synchronized(stagesBuf.toSeq)

  /** Spans under `root` (inclusive), by walking parent links. */
  def subtree(roots: Set[Int]): Seq[Span] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    val out = mutable.ArrayBuffer.empty[Span]
    var frontier = all.filter(s => roots(s.id))
    while (frontier.nonEmpty) {
      out ++= frontier
      frontier = frontier.flatMap(s => kids.getOrElse(s.id, Nil))
    }
    out.toSeq
  }

  /** Self time per span kind, in seconds: each span's duration minus the
    * union of its children's intervals (clipped to the span). */
  def selfSeconds(of: Seq[Span]): Map[String, Double] = {
    val kids = of.groupBy(_.parent)
    of.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0; var curA = Double.NaN; var curB = Double.NaN
        iv.foreach { case (a, b) =>
          if (curA.isNaN || a > curB) {
            if (!curA.isNaN) covered += curB - curA
            curA = a; curB = b
          } else curB = math.max(curB, b)
        }
        if (!curA.isNaN) covered += curB - curA
        math.max(0.0, s.dur - covered) / 1e6
      }.sum
    }
  }

  def writeJson(path: String): Unit = {
    val body = Json.arr(spans.map(s => Json.obj(Seq(
      "id" -> s.id.toString, "name" -> Json.str(s.name), "kind" -> Json.str(s.kind),
      "parent" -> s.parent.toString, "start_us" -> Json.num(s.start),
      "end_us" -> Json.num(s.end)))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}

object Tracer {
  val DrainGroup = "perfbench.drain"
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"

  /** The batch-side layer metrics of a traced run, per traced repetition
    * (`n` of them): build spans of `buildKind` and their jobs, plan
    * phases, the final action's jobs and stages, cached blocks, self time
    * per span kind, and the tracing overhead against untraced repetitions. */
  def batchLayers(m: Metrics, tr: Tracer, buildKind: String, n: Double, cores: Int,
      blocksMb: Double, tracedWall: Seq[Double], untracedWall: Seq[Double]): Seq[Span] = {
    val spans = tr.spans
    val builds = spans.filter(_.kind == buildKind)
    val buildIds = builds.map(_.id).toSet
    val actions = spans.filter(_.kind == "action")
    val actionIds = actions.map(_.id).toSet
    val buildJobs = spans.filter(s => s.kind == "job" && buildIds(s.parent))
    val actionJobs = spans.filter(s => s.kind == "job" && actionIds(s.parent))
    val actionJobIds = actionJobs.map(_.id).toSet
    m.put("build.s", builds.map(_.dur).sum / 1e6 / n, "s")
    m.put("build.jobs", buildJobs.size / n, "count")
    m.put("build.job_s", buildJobs.map(_.dur).sum / 1e6 / n, "s")
    m.put("plan.analysis_ms", tr.phasesMs("analysis") / n, "ms")
    m.put("plan.optimization_ms", tr.phasesMs("optimization") / n, "ms")
    m.put("plan.planning_ms", tr.phasesMs("planning") / n, "ms")
    val actionS = actions.map(_.dur).sum / 1e6
    m.put("action.s", actionS / n, "s")
    execMetrics(m, "exec", tr.stages.filter(st => actionJobIds(st.jobSpan)),
      actionS, cores, actionJobs.size, n)
    m.put("cache.blocks_mb", blocksMb, "MB")
    tr.selfSeconds(spans).foreach { case (k, v) => m.put(s"self.${k}_s", v / n, "s") }
    m.put("trace.overhead_pct",
      (Stats.median(tracedWall) / Stats.median(untracedWall) - 1) * 100, "%")
    buildJobs
  }

  /** Stage statistics under the given job spans, as exec.* metrics. */
  def execMetrics(m: Metrics, prefix: String, stages: Seq[StageStat],
      wallS: Double, cores: Int, jobs: Int, per: Double): Unit = {
    val cpu = stages.map(_.cpuS).sum
    m.put(s"$prefix.jobs", jobs / per, "count")
    m.put(s"$prefix.stages", stages.size / per, "count")
    m.put(s"$prefix.tasks", stages.map(_.tasks).sum / per, "count")
    m.put(s"$prefix.cpu_s", cpu / per, "s")
    m.put(s"$prefix.gc_s", stages.map(_.gcS).sum / per, "s")
    m.put(s"$prefix.task_wait_s", stages.map(_.waitS).sum / per, "s")
    m.put(s"$prefix.cpu_util", if (wallS > 0) cpu / (wallS * cores) else 0.0, "ratio")
    m.put(s"$prefix.shuffle_read_mb", stages.map(_.shuffleReadB).sum / 1048576.0 / per, "MB")
    m.put(s"$prefix.shuffle_write_mb", stages.map(_.shuffleWriteB).sum / 1048576.0 / per, "MB")
    m.put(s"$prefix.spill_mb", stages.map(_.spillB).sum / 1048576.0 / per, "MB")
    val heaviest = if (stages.isEmpty) None else Some(stages.maxBy(_.runS))
    m.put(s"$prefix.task_skew", heaviest.filter(_.taskTimes.nonEmpty).map { st =>
      val med = Stats.median(st.taskTimes)
      if (med > 0) st.taskTimes.max / med else 1.0
    }.getOrElse(0.0), "ratio")
    m.put(s"$prefix.failed_tasks", stages.map(_.failedTasks).sum / per, "count")
  }
}
