package perfbench

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** `catalog`: registered queries of `SparkEntry.queries` over the sf0.01
  * fixture, closed loop with one client. The next query starts when the
  * previous query's noop write returns, and the cache manager is cleared
  * between queries, as `graft.Bench` does. The seed permutes query order
  * (a fresh permutation per pass).
  *
  * The query set is a fixed subset: a full pass over all registered
  * queries takes minutes on 4 cores, far more than one benchmark run may
  * spend. See README.md for how the subset was chosen. */
object CatalogWorkload {
  val Queries: Seq[String] = Seq(
    "q10_asof_left", "q108_asof_within", "q14_window_hopping",
    "q165_knn_sampled_fit", "q17_merge", "q27_sim_lsh", "q42_topn_per_group",
    "q47_neardup_clusters", "q87_winsorized_mean", "q94_snapshot_diff")
  /** The query whose build runs `Dedup.connectedComponents`. */
  val CcQuery = "q47_neardup_clusters"

  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  val SetupReps = 2

  final case class Sample(name: String, seconds: Double, ok: Boolean)

  def run(a: Args, r: Result): Unit = {
    val dir = a.fixture
    var spark: SparkSession = null
    // set-up, up to the first timed operation: session start, input load
    // (every fixture table's footer and schema), the warm-up aggregate and
    // the first build of every query (the `SparkEntry.queries` call alone:
    // analysis and the eager jobs `graft.ops` runs while building), in a
    // fresh session
    def setUp(): Double = {
      if (spark != null) Session.stop(spark)
      System.gc() // every set-up starts from the same heap state
      Clock.timed {
        spark = Session.start(a)
        Tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").schema)
        Session.warm(spark)
        Queries.foreach { name =>
          try SparkEntry.queries(name)(spark, dir)
          catch { case e: Exception => Log(s"catalog query $name failed in set-up: ${e.getMessage}") }
          spark.sharedState.cacheManager.clearCache()
        }
      }._2
    }
    // the first set-up in the JVM (class loading, a cold JIT) is a warm-up
    // and is not counted
    val coldSetup = setUp()

    // output check, outside the timed region: every query's result is
    // written once as parquet for the DuckDB oracle comparison in run.py.
    // This pass also warms the JIT, file listings and codegen caches.
    val outDir = s"${a.work}/catalog-out"
    Queries.foreach { name =>
      r.attempted += 1
      try SparkEntry.queries(name)(spark, dir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Exception =>
        r.failed += 1
        Log(s"catalog query $name failed in the check pass: ${e.getMessage}")
      }
      spark.sharedState.cacheManager.clearCache()
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Json.obj(Queries.map(q => q -> Json.str(SparkEntry.oracleSql(q)))))

    // the reported set-up: the median of SetupReps more, on a JVM the
    // check pass has warmed
    val setups = (1 to SetupReps).map(_ => setUp())
    Log(s"set-up: $coldSetup (cold), ${setups.mkString(", ")} s")
    val rnd = new scala.util.Random(a.seed)
    var tracer: Tracer = null
    var blocksMb = 0.0

    val passCpu = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    def pass(traced: Boolean): (Seq[Sample], Double) = {
      val c0 = Cpu.snap()
      val res = passOnce(traced)
      if (!traced) {
        val c = Cpu.between(c0, Cpu.snap())
        passCpu += c
        Log(s"pass ${passCpu.size}: ${res._2} s wall, cpu " +
          c.map { case (k, v) => s"$k $v" }.mkString(", "))
      }
      res
    }
    def passOnce(traced: Boolean): (Seq[Sample], Double) = {
      val order = rnd.shuffle(Queries)
      val tr = if (traced) tracer else null
      def sp[A](name: String, kind: String)(body: => A): A =
        if (tr == null) body else tr.span(name, kind)(body)
      Clock.timed(order.map { name =>
        val (ok, seconds) = Clock.timed(try {
          sp(name, "query") {
            val df = sp("build", "build") {
              val df = SparkEntry.queries(name)(spark, dir)
              if (tr != null) blocksMb = math.max(blocksMb, cachedMb(spark))
              df
            }
            sp("action", "action")(df.write.format("noop").mode("overwrite").save())
          }
          true
        } catch { case e: Exception =>
          Log(s"catalog query $name failed: ${e.getMessage}"); false
        })
        spark.sharedState.cacheManager.clearCache()
        Sample(name, seconds, ok)
      })
    }

    // timed passes until the time budget is spent; at least two, and at
    // least three in a traced run, which alternates untraced, traced,
    // untraced, ... so that the overhead comparison straddles the JIT's
    // warm-up drift (the CPU of a pass still falls from pass to pass)
    Heap.reset()
    val untraced = scala.collection.mutable.ArrayBuffer.empty[(Seq[Sample], Double)]
    val traced = scala.collection.mutable.ArrayBuffer.empty[(Seq[Sample], Double)]
    if (a.trace) tracer = new Tracer(spark)
    val t0 = System.nanoTime()
    var i = 0
    while (i < (if (a.trace) 3 else 2) || Clock.s(t0) < a.seconds) {
      if (a.trace && i % 2 == 1) {
        tracer.attach(); traced += pass(traced = true); tracer.detach()
      }
      else untraced += pass(traced = false)
      i += 1
    }
    val peak = Heap.peakMb()
    val samples = untraced.flatMap(_._1)
    val all = samples ++ traced.flatMap(_._1)
    r.attempted += all.size
    r.failed += all.count(!_.ok)

    val m = r.metrics
    val times = samples.map(_.seconds).toSeq
    val walls = untraced.map(_._2).toSeq
    m.put("setup_s", Stats.median(setups), "s")
    m.put("wall_s", Stats.median(walls), "s")
    m.put("query_p50_s", Stats.quantile(times, 0.5), "s")
    m.put("query_p90_s", Stats.quantile(times, 0.9), "s")
    m.put("peak_heap_mb", peak, "MB")
    m.put("cpu_s", Stats.median(passCpu.toSeq.map(Cpu.workS)), "s")
    Cpu.put(m, passCpu.toSeq)
    r.notes("samples") = s"${times.size} query samples over ${walls.size} passes " +
      s"of ${Queries.size} queries"

    if (a.trace) {
      val buildJobs = Tracer.batchLayers(m, tracer, "build", traced.size, a.cores, blocksMb,
        traced.map(_._2).toSeq, walls)
      // the connected-components family: q47's build runs Dedup.connectedComponents,
      // whose every round truncates lineage with one localCheckpoint job
      val ccQuery = tracer.spans.filter(s => s.kind == "query" && s.name == CcQuery).map(_.id).toSet
      val ccBuilds = tracer.spans.filter(s => s.kind == "build" && ccQuery(s.parent)).map(_.id).toSet
      m.put("ops.connectedComponents.rounds", buildJobs.count(j => ccBuilds(j.parent) &&
        tracer.jobCallSites.getOrElse(j.id, "").startsWith("localCheckpoint at Dedup.scala")) /
        traced.size.toDouble, "count")
      tracer.writeJson(s"${a.work}/trace-catalog-${a.seed}.json")
    }

    Session.stop(spark)
  }

  /** Megabytes of persisted blocks currently held (memory + disk). */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
}
