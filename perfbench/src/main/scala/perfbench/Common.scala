package perfbench

import java.lang.management.ManagementFactory
import java.util.Locale
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Command-line settings. Every setting comes from here: nothing is read
  * from the environment, so a stray `SPARK_GRAFT_*` value cannot change a
  * run. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, work: String, fixture: String, out: String)

object Args {
  def parse(a: Array[String]): Args = {
    require(a.length % 2 == 0, s"expected --key value pairs, got ${a.mkString(" ")}")
    val m = a.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"expected --key, got $k"); k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, need("work"),
      need("fixture"), need("out"))
  }
}

object Session {
  /** One session shape for every workload: `local[cores]`, shuffle width
    * equal to the core count (as the library's own harnesses use), UTC,
    * no UI, and every scratch directory inside the run's work dir. */
  def start(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A small aggregate that absorbs one-time costs (codegen compiler,
    * shuffle and noop-writer init) before anything is timed. */
  def warm(spark: SparkSession): Unit =
    spark.range(1000).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").sum("v").write.format("noop").mode("overwrite").save()

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(String.format(java.util.Locale.ROOT, "[perfbench %.1fs] %s",
      Double.box(Clock.s(t0)), msg))
}

object Clock {
  def s(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private val epochBaseUs = System.currentTimeMillis() * 1000.0 - System.nanoTime() / 1000.0
  /** Monotonic wall clock in epoch microseconds, for spans that must line
    * up with Spark listener timestamps (epoch milliseconds). */
  def epochUs(): Double = epochBaseUs + System.nanoTime() / 1000.0
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds used so far by every thread of this JVM. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, s(t0))
  }
}

/** CPU seconds of this JVM by thread group, to attribute the CPU of a
  * measured region:
  *  - `task`: Spark's executor task threads (operator kernels);
  *  - `driver`: the thread that calls the library and the streaming query
  *    threads (DataFrame building, planning, eager jobs' driver side,
  *    micro-batch orchestration);
  *  - `spark`: every other Java thread (scheduler event loops, listener
  *    bus, block manager, ...);
  *  - `vm`: the rest of the process CPU, i.e. the threads ThreadMXBean does
  *    not list: JIT compilers, GC workers and VM threads.
  * `jit` (compilation time) and `gc_pause` (collection time) come from the
  * compilation and GC beans and overlap `vm`. */
object Cpu {
  final case class Snap(process: Double, threads: Map[Long, (String, Double)],
      jitS: Double, gcPauseS: Double)

  val Groups: Seq[String] = Seq("task", "driver", "spark", "vm", "jit", "gc_pause")

  private val threads = ManagementFactory.getThreadMXBean
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def snap(): Snap = {
    val ids = threads.getAllThreadIds
    val infos = threads.getThreadInfo(ids)
    val ts = ids.indices.flatMap { i =>
      val cpu = threads.getThreadCpuTime(ids(i))
      if (infos(i) == null || cpu < 0) None
      else Some(ids(i) -> (infos(i).getThreadName, cpu / 1e9))
    }.toMap
    Snap(Clock.cpuS(), ts, jit.getTotalCompilationTime / 1e3,
      gcs.map(_.getCollectionTime).filter(_ > 0).sum / 1e3)
  }

  private def group(name: String): String =
    if (name.startsWith("Executor task launch worker")) "task"
    else if (name == "main" || name.startsWith("stream execution thread")) "driver"
    else "spark"

  /** CPU seconds per group between two snapshots. A thread that ended in
    * between loses its share to `vm`; threads that started count fully. */
  def between(a: Snap, b: Snap): Map[String, Double] = {
    val java = b.threads.toSeq.map { case (id, (name, cpu)) =>
      group(name) -> (cpu - a.threads.get(id).map(_._2).getOrElse(0.0))
    }.groupMapReduce(_._1)(_._2)(_ + _)
    val javaSum = java.values.sum
    Map("task" -> java.getOrElse("task", 0.0), "driver" -> java.getOrElse("driver", 0.0),
      "spark" -> java.getOrElse("spark", 0.0),
      "vm" -> math.max(0.0, b.process - a.process - javaSum),
      "jit" -> (b.jitS - a.jitS), "gc_pause" -> (b.gcPauseS - a.gcPauseS))
  }

  /** The gated `cpu_s` of a region: the CPU of every Java thread (`task`,
    * `driver`, `spark`), leaving out the JVM's own compiler and GC threads,
    * whose share follows JIT warm-up and heap state rather than the work. */
  def workS(c: Map[String, Double]): Double = c("task") + c("driver") + c("spark")

  /** `cpu.<group>_s` per-layer metrics: the median over `regions` (one
    * map per measured region) of each group. */
  def put(m: Metrics, regions: Seq[Map[String, Double]]): Unit =
    Groups.foreach(g => m.put(s"cpu.${g}_s", Stats.median(regions.map(_(g))), "s"))
}

object Stats {
  /** Linear-interpolated quantile (numpy's default definition). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val v = xs.sorted
    val pos = q * (v.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, v.size - 1)
    v(lo) + (v(hi) - v(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Named metrics with units, kept in insertion order. */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, v: Double, unit: String): Unit = values(name) = (v, unit)
}

/** Result of one outside-the-timed-region output check. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Peak old-generation occupancy after GC: every GC notification reports
  * each pool's usage after the collection, and the old-generation pools
  * (G1 Old Gen, PS Old Gen, Tenured Gen) keep their maximum. */
object Heap {
  @volatile private var peak = 0L
  private def isOld(pool: String) = pool.contains("Old") || pool.contains("Tenured")
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n, _) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[CompositeData])
          info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
            if (isOld(pool)) synchronized { peak = math.max(peak, u.getUsed) }
          }
        }, null, null)
    case _ =>
  }
  def reset(): Unit = synchronized { peak = 0L }
  /** Collects once so the figure always includes the live set at the end
    * of the measured region, then returns the peak in MB. */
  def peakMb(): Double = {
    System.gc()
    Thread.sleep(200) // notifications arrive on a JMX thread
    val bytes: Long = synchronized(peak)
    bytes / (1024.0 * 1024.0)
  }
}

/** Minimal JSON writer. Numbers use `Double.toString`, which never depends
  * on the default locale; non-finite numbers are refused. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
    case c => c.toString
  } + "\""
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    java.lang.Double.toString(v)
  }
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
