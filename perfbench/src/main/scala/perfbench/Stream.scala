package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.api.java.function.VoidFunction2
import org.apache.spark.sql.{DataFrame, Dataset, Row, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import graft.batch.BatchCompiler
import graft.dsl._
import graft.stream.StreamCompiler
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `stream`: an open-loop generator feeds one `StreamCompiler.run`
  * topology through two MemoryStreams on a fixed schedule, under a
  * processing-time trigger and the session's default state store.
  *
  * Topology: topic `u` folds into a running sum per key (`tbl`, every
  * update event writes state); topic `s` goes through `Fragments.dedupe`
  * and then looks the key up in `tbl` (a live stream⋈table LEFT join,
  * every lookup event reads state). */
object StreamWorkload {
  /** Offered rates (events/s), lowest first. */
  val Ladder: Seq[Int] = Seq(2000, 16000, 128000)
  /** Share of `--seconds` each ladder step takes. The top step is meant to
    * overload the engine. */
  val StepShare: Seq[Double] = Seq(0.4, 0.3, 0.3)
  /** Rate at which latency is reported; the seed tree sustains it. */
  val ReferenceRate = 2000
  /** A ladder step is sustained when the p99 event latency stays within
    * this limit and the backlog does not grow. The backlog is the events
    * offered and not yet processed by a completed micro-batch. A steady
    * engine holds one to two batches of them, so over a step the backlog
    * may rise by at most [[BacklogBatches]] batches. A batch is measured at
    * the reference rate (the offered rate times the reference step's median
    * batch time), not at the step's own rate: an overloaded micro-batch
    * engine runs ever longer batches, so a step's own batch would grow with
    * the backlog it is meant to bound. */
  val BacklogBatches = 3
  val LatencyLimitMs = 4000.0
  val TriggerMs = 200L
  val TickMs = 25L
  val Keys = 10000
  val HotKeys = 100
  val HotShare = 0.5   // share of events on the hot keys
  val LookupShare = 0.5 // share of events on topic s
  val DupShare = 0.1   // share of lookups that resend an earlier id
  val Burst = 20000    // events per closed-loop catch-up burst
  val Bursts = 5
  val WarmEvents = 2000
  val SetupReps = 3

  val Topo: Topology = {
    val (edges, ents) = Fragments.dedupe("s", "sd", col("value"))
    Topology(
      edges ++ Seq("u" -> "tbl", "sd" -> "j", "tbl" -> "j", "j" -> "out"),
      Map("u" -> Entity.Topic("u"), "s" -> Entity.Topic("s"),
        "sd" -> Entity.KStream(),
        "tbl" -> Entity.KTable(aggregate =
          Some(AggSpec.FoldAgg(lit(0L), (acc, v) => acc + v))),
        "j" -> Entity.KStream(), "out" -> Entity.Topic("out")) ++ ents,
      Map(Seq("sd", "tbl") -> JoinConfig(JoinType.Left)))
  }

  /** Deterministic event source: the seed fixes keys, values and ids;
    * the schedule fixes timestamps. Update events are (key, value, tsUs);
    * lookup events are (key, id, tsUs, 1) — the extra column gives the two
    * MemoryStreams different descriptions in query progress. */
  final class Events(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private var nextId = 0L
    private var lastTs = 0L
    val updates = mutable.ArrayBuffer.empty[(String, Long, Long)]
    val lookups = mutable.ArrayBuffer.empty[(String, Long, Long, Int)]
    private def key(): String =
      if (rnd.nextDouble() < HotShare) s"k${rnd.nextInt(HotKeys)}" else s"k${rnd.nextInt(Keys)}"
    /** Next event due at `dueUs`; timestamps are made strictly increasing
      * so batch (ts order) and stream (arrival order) agree. */
    def next(dueUs: Long): Event = {
      lastTs = math.max(lastTs + 1, dueUs)
      if (rnd.nextDouble() < LookupShare) {
        val id = if (nextId > 0 && rnd.nextDouble() < DupShare)
          (nextId * rnd.nextDouble()).toLong + 1 else { nextId += 1; nextId }
        val e = (key(), id, lastTs, 1); lookups += e; Right(e)
      } else {
        val e = (key(), 1L + rnd.nextInt(100), lastTs); updates += e; Left(e)
      }
    }
    def probe(k: Int, dueUs: Long): (String, Long, Long, Int) = {
      lastTs = math.max(lastTs + 1, dueUs)
      val e = (s"k$k", -(k + 1).toLong, lastTs, 1); lookups += e; e
    }
  }

  /** One micro-batch as seen through StreamingQueryListener progress. */
  final case class Batch(startMs: Double, endMs: Double, rows: Long,
      uEnd: Long, sEnd: Long, durations: Map[String, Long],
      stateRows: Long, stateBytes: Long, commitMs: Long)

  final class Progress extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[Batch]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0 || p.sources.exists(s => s.endOffset != s.startOffset)) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        // a MemoryStream describes itself by its columns: tell the two
        // sources apart by column count
        def end(arity: Int) = p.sources.find(_.description.count(_ == ',') == arity - 1)
          .flatMap(s => Option(s.endOffset)).map(_.trim.toLong).getOrElse(-1L)
        batches.add(Batch(start, start + d.getOrElse("triggerExecution", 0L), p.numInputRows,
          end(3), end(4), d,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum,
          p.stateOperators.map(_.commitTimeMs).sum))
      }
    }
    def all: Seq[Batch] = batches.asScala.toSeq.sortBy(_.startMs)
  }

  type Event = Either[(String, Long, Long), (String, Long, Long, Int)]

  /** A running query with its sources, generator bookkeeping and sink.
    * `initial` events are added before the query starts, so its first
    * micro-batch takes them all. */
  final class Live(spark: SparkSession, initial: Seq[Event]) {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    val u = MemoryStream[(String, Long, Long)]
    val s = MemoryStream[(String, Long, Long, Int)]
    // scheduled times (epoch us) of the events of every addData call, per
    // source, indexed by the MemoryStream offset that call produced
    val uDue = mutable.ArrayBuffer.empty[Array[Long]]
    val sDue = mutable.ArrayBuffer.empty[Array[Long]]
    val probes = new ConcurrentLinkedQueue[(String, java.lang.Long)]()
    var offered = 0L

    def add(evs: Seq[Event]): Unit = {
      val us = evs.collect { case Left(e) => e }
      val ss = evs.collect { case Right(e) => e }
      if (us.nonEmpty) { u.addData(us); uDue += us.map(_._3).toArray }
      if (ss.nonEmpty) { s.addData(ss); sDue += ss.map(_._3).toArray }
      offered += evs.size
    }

    add(initial)
    val (compileMs, q) = {
      val (dfs, sec) = Clock.timed(StreamCompiler.run(Topo, Map(
        "u" -> records(u.toDF()), "s" -> records(s.toDF()))))
      val q = dfs("out").writeStream.outputMode(StreamCompiler.modeFor(Topo))
        .trigger(Trigger.ProcessingTime(TriggerMs))
        .foreachBatch(new VoidFunction2[Dataset[Row], java.lang.Long] {
          // probe lookups carry negative ids; every other row is consumed
          // by the same full execution and dropped
          def call(df: Dataset[Row], id: java.lang.Long): Unit =
            df.filter(col("value.v1") < 0)
              .select(col("key"), col("value.v2").cast("long")).collect()
              .foreach(r => probes.add((r.getString(0),
                if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)))))
        }).start()
      (sec * 1000, q)
    }
  }

  /** Record-shaped input: key, value, ts (from the micro-second column). */
  def records(df: DataFrame): DataFrame = {
    val c = df.columns
    df.select(col(c(0)).as("key"), col(c(1)).as("value"), timestamp_micros(col(c(2))).as("ts"))
  }

  /** What the generator saw during one ladder step: events offered by the
    * step's start and end (epoch ms). */
  final case class RawStep(rate: Int, uFrom: Int, uTo: Int, sFrom: Int, sTo: Int,
      lagP99Ms: Double, startMs: Double, endMs: Double, offeredAtStart: Long,
      offeredAtEnd: Long, stateRows: Long, stateMb: Double)

  /** A ladder step with its latencies resolved against completed batches,
    * and its backlog at its start and end. */
  final case class Step(raw: RawStep, latMs: Seq[Double], windowP99: Seq[Double],
      batches: Seq[Batch], backlogStart: Long, backlogEnd: Long) {
    def rate: Int = raw.rate
    val p99: Double = if (latMs.isEmpty) Double.MaxValue else Stats.quantile(latMs, 0.99)
    def triggerMs: Seq[Double] = batches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    /** The most the backlog may rise over the step, given the reference
      * step's median batch time. */
    def backlogLimit(refBatchS: Double): Double = BacklogBatches * rate * refBatchS
    def sustained(refBatchS: Double): Boolean =
      p99 <= LatencyLimitMs && backlogEnd <= backlogStart + backlogLimit(refBatchS)
  }

  /** Offer `rate` events/s for `seconds`, open loop: each tick emits every
    * event whose scheduled time has passed, however far the engine is
    * behind. */
  def offer(live: Live, events: Events, progress: Progress, rate: Int, seconds: Double): RawStep = {
    val t0 = Clock.epochUs().toLong
    val n = (rate * seconds).toLong
    val offeredAtStart = live.offered
    var sent = 0L
    val lag = mutable.ArrayBuffer.empty[Double]
    val (uFrom, sFrom) = (live.uDue.size, live.sDue.size)
    while (sent < n) {
      val due = math.min(n, ((Clock.epochUs().toLong - t0) * rate / 1000000L) + 1)
      if (due > sent) {
        val evs = (sent until due).map(j => events.next(t0 + j * 1000000L / rate))
        live.add(evs)
        val at = Clock.epochUs()
        evs.foreach(e => lag += (at - e.fold(_._3, _._3)) / 1000.0)
        sent = due
      }
      Thread.sleep(TickMs)
    }
    val last = progress.all.lastOption
    RawStep(rate, uFrom, live.uDue.size, sFrom, live.sDue.size, Stats.quantile(lag.toSeq, 0.99),
      t0 / 1000.0, Clock.epochUs() / 1000, offeredAtStart, live.offered,
      last.map(_.stateRows).getOrElse(0L), last.map(_.stateBytes / 1048576.0).getOrElse(0.0))
  }

  /** Resolve a step's event latencies once every batch covering it has
    * completed: an event's latency runs from its scheduled time to the end
    * of the first batch whose source end offset covers its addData call. */
  def resolve(st: RawStep, live: Live, bs: Seq[Batch]): Step = {
    def lat(dues: mutable.ArrayBuffer[Array[Long]], from: Int, to: Int,
        endOf: Batch => Long): Seq[(Double, Double)] =
      (from until to).flatMap { off =>
        bs.find(b => endOf(b) >= off).toSeq.flatMap(b =>
          dues(off).toSeq.map(d => (d.toDouble, b.endMs - d / 1000.0)))
      }
    val ev = lat(live.uDue, st.uFrom, st.uTo, _.uEnd) ++ lat(live.sDue, st.sFrom, st.sTo, _.sEnd)
    def backlog(tMs: Double, offered: Long) =
      offered - bs.filter(_.endMs <= tMs).map(_.rows).sum
    val (b0, b1) = (backlog(st.startMs, st.offeredAtStart), backlog(st.endMs, st.offeredAtEnd))
    if (ev.isEmpty) return Step(st, Nil, Nil, Nil, b0, b1)
    val (first, last) = (ev.map(_._1).min, ev.map(_._1).max)
    val windows = ev.groupBy(e => ((e._1 - first) / 1e6).toInt).values
      .filter(_.size >= 100).map(w => Stats.quantile(w.map(_._2), 0.99)).toSeq
    val inStep = bs.filter(b => b.startMs * 1000 >= first && b.startMs * 1000 <= last)
    val lats = ev.map(_._2)
    Step(st, lats, if (windows.isEmpty) Seq(Stats.quantile(lats, 0.99)) else windows, inStep, b0, b1)
  }

  /** The highest offered rate that held: the top step of the run of
    * sustained steps from the bottom of the ladder, or 0 if the first step
    * failed. When the next step failed on latency, the figure lies between
    * the two steps, where p99 latency crosses the limit (interpolated on
    * log rate and log latency). It never exceeds the top of the ladder. */
  def sustainedRate(steps: Seq[Step], refBatchS: Double): Double = {
    val over = steps.indexWhere(!_.sustained(refBatchS))
    if (over < 0) steps.last.rate
    else if (over == 0) 0.0
    else {
      val (lo, hi) = (steps(over - 1), steps(over))
      if (hi.p99 <= LatencyLimitMs) lo.rate
      else {
        val lat = (st: Step) => math.max(st.p99, 1.0)
        val f = math.log(LatencyLimitMs / lat(lo)) / math.log(lat(hi) / lat(lo))
        lo.rate * math.pow(hi.rate.toDouble / lo.rate, math.min(1.0, math.max(0.0, f)))
      }
    }
  }

  def run(a: Args, r: Result): Unit = {
    var spark: SparkSession = null
    var live: Live = null
    var progress: Progress = null
    var events: Events = null
    val compileMs = mutable.ArrayBuffer.empty[Double]
    // set-up: session, StreamCompiler.run, query start and a warm-up
    // batch. The first set-up in the JVM is a warm-up; the median of the
    // next SetupReps is reported
    val setups = (0 to SetupReps).map { _ =>
      if (live != null) live.q.stop()
      if (spark != null) Session.stop(spark)
      System.gc() // every set-up starts from the same heap state
      Clock.timed {
        spark = Session.start(a)
        Session.warm(spark)
        progress = new Progress
        spark.streams.addListener(progress)
        events = new Events(a.seed)
        val base = Clock.epochUs().toLong
        live = new Live(spark, (0 until WarmEvents).map(i => events.next(base + i)))
        compileMs += live.compileMs
        live.q.processAllAvailable()
      }._2
    }
    Log(s"set-up: ${setups.mkString(", ")} s")

    def stepS(rate: Int) = StepShare(Ladder.indexOf(rate)) * a.seconds
    def ladder(): (Seq[Step], Double) = {
      val (raw, s) = Clock.timed {
        val raw = Ladder.map(rate => offer(live, events, progress, rate, stepS(rate)))
        live.q.processAllAvailable()
        raw
      }
      val bs = progress.all
      (raw.map(resolve(_, live, bs)), s)
    }
    Heap.reset()
    // a traced run runs the whole ladder traced, then repeats the
    // reference step untraced for the tracing-overhead comparison
    val tracer = if (a.trace) new Tracer(spark) else null
    if (a.trace) tracer.attach()
    val (steps, ladderS) = ladder()
    if (a.trace) tracer.detach()
    val untracedRef = if (!a.trace) None else Some {
      val raw = offer(live, events, progress, ReferenceRate, stepS(ReferenceRate))
      live.q.processAllAvailable()
      resolve(raw, live, progress.all)
    }
    // closed-loop bursts, a fixed amount of work each: the time from adding
    // a burst to its result, and the CPU spent on it
    val (bursts, burstCpu) = (1 to Bursts).map { i =>
      val base = Clock.epochUs().toLong
      val evs = (0 until Burst).map(j => events.next(base + j))
      val c0 = Cpu.snap()
      val s = Clock.timed { live.add(evs); live.q.processAllAvailable() }._2
      val c = Cpu.between(c0, Cpu.snap())
      Log(s"burst $i: $s s wall, cpu " + c.map { case (k, v) => s"$k $v" }.mkString(", "))
      (s, c)
    }.unzip
    val peak = Heap.peakMb()

    // output checks, outside the timed region: probe every key once so
    // the sink shows the final fold state, then compare with the batch
    // compilation of the same topology over the same events
    val base = Clock.epochUs().toLong
    live.add((0 until Keys).map(k => Right(events.probe(k, base + k))))
    live.q.processAllAvailable()
    live.q.stop()
    val batches = progress.all
    val processed = batches.map(_.rows).sum
    r.attempted += batches.size
    r.check("stream.rows_processed", processed == live.offered,
      s"$processed rows processed, ${live.offered} offered")
    val got = live.probes.asScala.map { case (k, v) => k -> Option(v).map(_.longValue) }.toMap
    val sess = spark
    import sess.implicits._
    val batchTbl = BatchCompiler.run(Topo, Map(
      "u" -> records(events.updates.toSeq.toDF()),
      "s" -> records(events.lookups.filter(_._2 < 0).toSeq.toDF())))("tbl")
      .select(col("key"), col("value").cast("long")).collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    val diff = (0 until Keys).count(k => got.get(s"k$k") != Some(batchTbl.get(s"k$k")))
    r.check("stream.batch_congruity", diff == 0 && got.size == Keys,
      s"$diff of $Keys keys differ from BatchCompiler.run; ${got.size} probes answered")
    val ref = steps.find(_.rate == ReferenceRate).get
    val refBatchS = if (ref.triggerMs.isEmpty) 0.0 else Stats.median(ref.triggerMs) / 1000

    val m = r.metrics
    // a traced run reports the user-facing figures of its untraced
    // repeat of the reference step
    val userRef = untracedRef.getOrElse(ref)
    val trig = userRef.triggerMs.map(_ / 1000)
    m.put("setup_s", Stats.median(setups.tail), "s")
    m.put("wall_s", Stats.median(bursts), "s")
    m.put("query_p50_s", Stats.quantile(trig, 0.5), "s")
    m.put("query_p90_s", Stats.quantile(trig, 0.9), "s")
    m.put("latency_p50_ms", Stats.quantile(userRef.latMs, 0.5), "ms")
    m.put("latency_p99_ms", Stats.median(userRef.windowP99), "ms")
    m.put("sustained_eps", sustainedRate(steps, refBatchS), "1/s")
    m.put("peak_heap_mb", peak, "MB")
    m.put("cpu_s", Stats.median(burstCpu.map(Cpu.workS)), "s")
    Cpu.put(m, burstCpu)
    r.notes("samples") = s"${userRef.latMs.size} event latencies and ${trig.size} " +
      s"micro-batches at $ReferenceRate events/s; latency_p99_ms is the median of " +
      s"${userRef.windowP99.size} per-second p99s"
    r.notes("ladder") = steps.map(st =>
      s"${st.rate}/s p99 ${String.format(java.util.Locale.ROOT, "%.1f", Double.box(st.p99))} ms " +
        s"backlog ${st.backlogStart} -> ${st.backlogEnd} " +
        s"(limit +${st.backlogLimit(refBatchS).round}) " +
        s"${if (st.sustained(refBatchS)) "sustained" else "over"}").mkString("; ")

    if (a.trace) {
      steps.flatMap(_.batches).foreach(b =>
        tracer.record("micro-batch", "batch", b.startMs * 1000, b.endMs * 1000))
      tracer.adoptByTime("batch", "job")
      val refB = ref.batches
      def p(k: String, q: Double) =
        Stats.quantile(refB.map(_.durations.getOrElse(k, 0L).toDouble), q)
      m.put("stream.compile_ms", Stats.median(compileMs.toSeq), "ms")
      m.put("stream.trigger_ms.p50", p("triggerExecution", 0.5), "ms")
      m.put("stream.trigger_ms.p99", p("triggerExecution", 0.99), "ms")
      m.put("stream.addbatch_ms.p50", p("addBatch", 0.5), "ms")
      m.put("stream.plan_ms.p50", p("queryPlanning", 0.5), "ms")
      m.put("stream.wal_ms.p50", p("walCommit", 0.5), "ms")
      m.put("stream.rows_per_batch.p50", Stats.quantile(refB.map(_.rows.toDouble), 0.5), "count")
      steps.foreach { st =>
        m.put(s"stream.r${st.rate}.state_rows", st.raw.stateRows.toDouble, "count")
        m.put(s"stream.r${st.rate}.state_mb", st.raw.stateMb, "MB")
        m.put(s"stream.r${st.rate}.state_commit_ms.p50",
          if (st.batches.isEmpty) 0.0 else Stats.median(st.batches.map(_.commitMs.toDouble)), "ms")
        m.put(s"stream.r${st.rate}.backlog_rows", st.backlogEnd.toDouble, "count")
        m.put(s"gen.r${st.rate}.lag_p99_ms", st.raw.lagP99Ms, "ms")
      }
      val jobs = tracer.spans.count(_.kind == "job")
      Tracer.execMetrics(m, "exec", tracer.stages, ladderS, a.cores, jobs, 1.0)
      m.put("plan.analysis_ms", tracer.phasesMs("analysis"), "ms")
      m.put("plan.optimization_ms", tracer.phasesMs("optimization"), "ms")
      m.put("plan.planning_ms", tracer.phasesMs("planning"), "ms")
      tracer.selfSeconds(tracer.spans).foreach { case (k, v) => m.put(s"self.${k}_s", v, "s") }
      m.put("trace.overhead_pct",
        (Stats.median(ref.triggerMs) / Stats.median(untracedRef.get.triggerMs) - 1) * 100, "%")
      tracer.writeJson(s"${a.work}/trace-stream-${a.seed}.json")
    }
    spark.streams.removeListener(progress)
    Session.stop(spark)
  }
}
