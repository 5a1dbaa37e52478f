package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Curation, Dedup, Sampling}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `curate`: one seeded synthetic corpus through one composed curation
  * pipeline of public ops, ending in one noop write:
  * quality gate → dropNormalizedDups → minHashSignatures + lshCandidates →
  * pair verification → connectedComponents → keep one per cluster →
  * semanticDedup → capPerGroup → hashSplit. */
object CurateWorkload {
  val OpsCalls: Seq[String] = Seq("filterFunnel", "dropNormalizedDups",
    "minHashSignatures", "lshCandidates", "connectedComponents",
    "semanticDedup", "capPerGroup", "hashSplit")

  // corpus shape (README.md lists the same figures)
  val Docs = 8000
  val Words = 50
  val Vocab = 5000
  val Dim = 32
  val Domains = 100
  val ExactGroups = Docs / 40      // 2-4 copies differing only in case/punctuation
  val NearClusters = Docs / 40     // base + 1-4 members, 2 words substituted each
  val Chains = Docs / 120          // 3-6 docs, 2 fresh words substituted per link
  val SemanticClusters = Docs / 120 // 2-3 unrelated texts with near-identical vectors
  val ShortDocs = Docs / 120       // fail the min-words rule
  val JunkDocs = Docs / 120        // fail the letter-ratio rule

  // pipeline settings
  val Shingle = 3
  val Perms = 48
  val RowsPerBand = 3
  val MinJaccard = 0.65
  val SignBits = 16
  val Probes = 3
  val CosThreshold = 0.95
  val Cap = 150
  val Splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
  val SetupReps = 3

  /** Ground truth the generator keeps on the driver; the program under
    * test sees only the corpus. `textCluster` and `semCluster` map planted
    * documents to their cluster label (`exactGroups` are the text labels
    * whose copies differ only in case and punctuation); `lowQuality` are
    * the documents the gate must drop. */
  final case class Truth(textCluster: Map[Long, Int], exactGroups: Set[Int],
      semCluster: Map[Long, Int], lowQuality: Set[Long], domain: Map[Long, String])

  def generate(seed: Long): (Seq[Row], Truth) = {
    val rnd = new scala.util.Random(seed)
    val vocab = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < Vocab)
        seen += Iterator.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString
      seen.toIndexedSeq
    }
    val cdf = vocab.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail.toArray
    def word(): String = {
      val u = rnd.nextDouble() * cdf.last
      val i = java.util.Arrays.binarySearch(cdf, u)
      vocab(if (i >= 0) i else -i - 1)
    }
    val domCdf = (0 until Domains).map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail.toArray
    def domain(): String = {
      val u = rnd.nextDouble() * domCdf.last
      val i = java.util.Arrays.binarySearch(domCdf, u)
      s"dom${if (i >= 0) i else -i - 1}"
    }
    def words(n: Int): Array[String] = Array.fill(n)(word())
    def unit(): Array[Double] = {
      val v = Array.fill(Dim)(rnd.nextGaussian()); val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    def near(v: Array[Double], sigma: Double): Array[Double] = {
      val w = v.map(_ + rnd.nextGaussian() * sigma); val n = math.sqrt(w.map(x => x * x).sum)
      w.map(_ / n)
    }
    def substitute(ws: Array[String], positions: Seq[Int]): Array[String] = {
      val c = ws.clone()
      positions.foreach { p =>
        var w = word(); while (w == ws(p)) w = word()
        c(p) = w
      }
      c
    }
    def reformat(ws: Array[String]): String = ws.map { w =>
      val cased = if (rnd.nextInt(4) == 0) w.capitalize else w
      cased + (rnd.nextInt(6) match { case 0 => ","; case 1 => "."; case _ => "" })
    }.mkString(if (rnd.nextBoolean()) " " else "  ")

    // (text, vector, textCluster, semCluster, lowQuality)
    val docs = mutable.ArrayBuffer.empty[(String, Array[Double], Int, Int, Boolean)]
    var label = 0
    (0 until ExactGroups).foreach { _ =>
      label += 1
      val ws = words(Words); val v = unit()
      docs += ((ws.mkString(" "), v, label, 0, false))
      (1 until 2 + rnd.nextInt(3)).foreach(_ =>
        docs += ((reformat(ws), near(v, 0.01), label, 0, false)))
    }
    (0 until NearClusters).foreach { _ =>
      label += 1
      val ws = words(Words); val v = unit()
      docs += ((ws.mkString(" "), v, label, 0, false))
      (1 until 2 + rnd.nextInt(4)).foreach { _ =>
        val ps = rnd.shuffle((0 until Words).toList).take(2)
        docs += ((substitute(ws, ps).mkString(" "), near(v, 0.01), label, 0, false))
      }
    }
    (0 until Chains).foreach { _ =>
      label += 1
      var ws = words(Words); val v = unit()
      docs += ((ws.mkString(" "), v, label, 0, false))
      // link s rewrites words 3s-1 and 3s+24: two words per link, never
      // touched before and at least three apart, so consecutive links
      // share ~0.78 of their 3-word shingles and links two apart ~0.60 —
      // below MinJaccard, which makes the cluster a chain
      (1 until 3 + rnd.nextInt(4)).foreach { s =>
        ws = substitute(ws, Seq(3 * s - 1, 3 * s + 24))
        docs += ((ws.mkString(" "), near(v, 0.01), label, 0, false))
      }
    }
    var sem = 0
    (0 until SemanticClusters).foreach { _ =>
      sem += 1
      val v = unit()
      (0 until 2 + rnd.nextInt(2)).foreach(_ =>
        docs += ((words(Words).mkString(" "), near(v, 0.002), 0, sem, false)))
    }
    (0 until ShortDocs).foreach(_ =>
      docs += ((words(8 + rnd.nextInt(8)).mkString(" "), unit(), 0, 0, true)))
    (0 until JunkDocs).foreach(_ =>
      docs += ((Array.fill(Words)(rnd.nextInt(100000).toString).mkString(" "),
        unit(), 0, 0, true)))
    while (docs.size < Docs) docs += ((words(Words).mkString(" "), unit(), 0, 0, false))

    // ids are a seeded permutation, so planted documents are scattered
    val ids = rnd.shuffle((1L to docs.size.toLong).toVector)
    val rows = mutable.ArrayBuffer.empty[Row]
    val tc = mutable.Map.empty[Long, Int]; val sc = mutable.Map.empty[Long, Int]
    val lq = mutable.Set.empty[Long]; val dom = mutable.Map.empty[Long, String]
    docs.zip(ids).foreach { case ((text, v, t, s, low), id) =>
      val d = domain()
      rows += Row(id, d, text, v.toSeq)
      if (t > 0) tc(id) = t
      if (s > 0) sc(id) = s
      if (low) lq += id
      dom(id) = d
    }
    (rows.toSeq, Truth(tc.toMap, (1 to ExactGroups).toSet, sc.toMap, lq.toSet, dom.toMap))
  }

  val Schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("domain", StringType), StructField("text", StringType),
    StructField("vec", ArrayType(DoubleType, containsNull = false))))

  val QualityRules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "min_words" -> (size(split(col("text"), " +")) >= 20),
    "letter_ratio" -> (length(regexp_replace(lower(col("text")), "[^a-z]", "")) >=
      length(col("text")) * 0.6))

  /** Candidate pairs whose exact 3-word-shingle Jaccard reaches
    * MinJaccard (the verification step every MinHash pipeline runs). */
  def verify(cand: DataFrame, docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"), split(Dedup.normalizeText(col("text")), " ").as("w"))
    val sh = words.select(col("doc_id"), array_distinct(transform(
      sequence(lit(1), greatest(size(col("w")) - (Shingle - 1), lit(1))),
      i => concat_ws(" ", slice(col("w"), i, lit(Shingle))))).as("sh"))
    cand.join(sh.select(col("doc_id").as("a"), col("sh").as("sa")), "a")
      .join(sh.select(col("doc_id").as("b"), col("sh").as("sb")), "b")
      .filter(size(array_intersect(col("sa"), col("sb"))) >=
        size(array_union(col("sa"), col("sb"))) * MinJaccard)
      .select("a", "b")
  }

  /** The pipeline. `op` wraps each ops call (timing or tracing); `keep`
    * sees each named intermediate result and returns the frame to go on
    * with (the check run materializes them; timed runs pass them on). */
  def pipeline(docs: DataFrame, op: (String, () => DataFrame) => DataFrame,
      keep: (String, DataFrame) => DataFrame): DataFrame = {
    val gated = keep("gated", op("filterFunnel",
      () => Curation.filterFunnel(docs, "doc_id", QualityRules)
        .filter(col("kept")).drop("first_failed", "kept")))
    val nd = keep("deduped", op("dropNormalizedDups",
      () => Dedup.dropNormalizedDups(gated, "doc_id", col("text"))))
    val sigs = op("minHashSignatures",
      () => Dedup.minHashSignatures(nd, "doc_id", col("text"), Shingle, Perms))
    val cand = keep("candidates",
      op("lshCandidates", () => Dedup.lshCandidates(sigs, "doc_id", Perms, RowsPerBand)))
    val pairs = keep("pairs", verify(cand, nd))
    val cc = op("connectedComponents",
      () => Dedup.connectedComponents(pairs, nd.select("doc_id"), "doc_id"))
    val kept = keep("kept", nd.join(cc.filter(col("doc_id") === col("cluster")).select("doc_id"),
      Seq("doc_id"), "left_semi"))
    val sem = op("semanticDedup", () => Dedup.semanticDedup(kept, "doc_id", col("vec"),
      SignBits, CosThreshold, probes = Probes))
    val survivors = keep("survivors", kept.join(sem.select("doc_id"), Seq("doc_id"), "left_semi"))
    val capped = op("capPerGroup", () => Sampling.capPerGroup(survivors, "domain", "doc_id", Cap, "cap"))
    op("hashSplit", () => Sampling.hashSplit(capped, "doc_id", Splits, "split"))
      .select("doc_id", "domain", "split")
  }

  def run(a: Args, r: Result): Unit = {
    val corpusPath = s"${a.work}/curate-corpus"
    var spark: SparkSession = null
    var truth: Truth = null
    // set-up: session start, corpus generation and its write to parquet.
    // The first set-up in the JVM is a warm-up; the median of the next
    // SetupReps is reported
    val setups = (0 to SetupReps).map { _ =>
      if (spark != null) Session.stop(spark)
      System.gc() // every set-up starts from the same heap state
      Clock.timed {
        spark = Session.start(a)
        Session.warm(spark)
        val (rows, t) = generate(a.seed)
        truth = t
        spark.createDataFrame(rows.asJava, Schema).repartition(a.cores)
          .write.mode("overwrite").parquet(corpusPath)
      }._2
    }
    Log(s"set-up done: ${setups.mkString(", ")} s")
    val docs = spark.read.parquet(corpusPath)

    // untimed check run, which also warms the JIT and codegen caches:
    // every intermediate result is materialized once and compared with the
    // generator's ground truth
    val kept = mutable.Map.empty[String, DataFrame]
    val out = pipeline(docs, (_, f) => f(), { (k, df) =>
      val c = df.persist(); c.count(); kept(k) = c; c
    }).collect()
    def ids(k: String) = kept(k).select("doc_id").collect().map(_.getLong(0)).toSet
    def pairs(k: String) = kept(k).select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    checkOutputs(r, truth, ids("gated"), ids("deduped"), pairs("candidates"), pairs("pairs"),
      ids("kept"), ids("survivors"), out)
    spark.sharedState.cacheManager.clearCache()
    r.attempted += 1 // the check run itself
    Log("check run done")

    var tracer: Tracer = null
    val opTimes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var blocksMb = 0.0
    def once(traced: Boolean): (Double, Boolean) = {
      val tr = if (traced) tracer else null
      def op(name: String, f: () => DataFrame): DataFrame = {
        val (df, s) = Clock.timed(if (tr == null) f() else tr.span(name, "ops")(f()))
        if (tr != null) {
          opTimes.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
          blocksMb = math.max(blocksMb, CatalogWorkload.cachedMb(spark))
        }
        df
      }
      val (ok, s) = Clock.timed {
        try {
          val res = pipeline(docs, op, (_, df) => df)
          if (tr == null) res.write.format("noop").mode("overwrite").save()
          else tr.span("action", "action")(res.write.format("noop").mode("overwrite").save())
          true
        } catch { case e: Exception =>
          Log(s"curate pipeline failed: ${e.getMessage}"); false
        }
      }
      spark.sharedState.cacheManager.clearCache()
      (s, ok)
    }
    Heap.reset()
    if (a.trace) tracer = new Tracer(spark)
    val untraced = mutable.ArrayBuffer.empty[Double]
    val untracedCpu = mutable.ArrayBuffer.empty[Map[String, Double]]
    val traced = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    // one pipeline run at least (two in a traced run: untraced and traced)
    while (i < (if (a.trace) 2 else 1) || Clock.s(t0) < a.seconds) {
      val isTraced = a.trace && i % 2 == 1
      val c0 = Cpu.snap()
      val (s, ok) =
        if (!isTraced) once(false)
        else { tracer.attach(); try tracer.span("pipeline", "query")(once(true)) finally tracer.detach() }
      Log(s"pipeline run ${i + 1}: $s s")
      (if (isTraced) traced else untraced) += s
      if (!isTraced) untracedCpu += Cpu.between(c0, Cpu.snap())
      r.attempted += 1
      if (!ok) r.failed += 1
      i += 1
    }
    val peak = Heap.peakMb()

    val m = r.metrics
    val wall = Stats.median(untraced.toSeq)
    m.put("setup_s", Stats.median(setups.tail), "s")
    m.put("wall_s", wall, "s")
    m.put("query_p50_s", Stats.quantile(untraced.toSeq, 0.5), "s")
    m.put("query_p90_s", Stats.quantile(untraced.toSeq, 0.9), "s")
    m.put("latency_p50_ms", Stats.quantile(untraced.toSeq, 0.5) * 1000, "ms")
    m.put("latency_p99_ms", Stats.quantile(untraced.toSeq, 0.99) * 1000, "ms")
    m.put("sustained_eps", Docs / wall, "1/s")
    m.put("peak_heap_mb", peak, "MB")
    m.put("cpu_s", Stats.median(untracedCpu.toSeq.map(Cpu.workS)), "s")
    Cpu.put(m, untracedCpu.toSeq)
    r.notes("samples") = s"${untraced.size} pipeline runs over $Docs documents"

    if (a.trace) {
      val tr = tracer
      val buildJobs = Tracer.batchLayers(m, tr, "ops", traced.size, a.cores, blocksMb,
        traced.toSeq, untraced.toSeq)
      val ccIds = tr.spans.filter(s => s.kind == "ops" && s.name == "connectedComponents")
        .map(_.id).toSet
      val n = traced.size.toDouble
      OpsCalls.foreach(op => m.put(s"ops.$op.s", Stats.median(opTimes(op).toSeq), "s"))
      // every CC round truncates lineage with one localCheckpoint job
      m.put("ops.connectedComponents.rounds", buildJobs.count(j =>
        ccIds(j.parent) && tr.jobCallSites.getOrElse(j.id, "").startsWith("localCheckpoint")) / n,
        "count")
      tr.writeJson(s"${a.work}/trace-curate-${a.seed}.json")
    }
    Session.stop(spark)
  }

  /** Output checks against the generator's ground truth, plus the recall
    * figures of the approximate stages (LSH and semanticDedup), which are
    * measured rather than checked. */
  def checkOutputs(r: Result, t: Truth, gated: Set[Long], deduped: Set[Long],
      candidates: Seq[(Long, Long)], verified: Seq[(Long, Long)], ccKept: Set[Long],
      survivors: Set[Long], out: Array[Row]): Unit = {
    val m = r.metrics
    m.put("ops.lsh.useful_ratio",
      if (candidates.isEmpty) 0.0 else verified.size.toDouble / candidates.size, "ratio")
    val all = t.domain.keySet
    r.check("curate.quality_gate", gated == all -- t.lowQuality,
      s"${(all -- t.lowQuality -- gated).size} good documents dropped, " +
        s"${(gated intersect t.lowQuality).size} low-quality documents kept")
    // exact normalized dedup keeps exactly one document per planted group
    val exact = t.textCluster.filter { case (_, c) => t.exactGroups(c) }
    val exactBad = exact.groupBy(_._2).count { case (_, ms) => ms.keys.count(deduped) != 1 }
    r.check("curate.exact_dedup", exactBad == 0 && (gated -- deduped).subsetOf(exact.keySet),
      s"$exactBad exact groups not collapsed to one; ${(gated -- deduped -- exact.keySet).size} " +
        "other documents dropped")
    // connected components: the survivors are exactly the minimum id of each
    // component of the verified pair graph (union-find on the driver)
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val q = find(p); parent(x) = q; q } }
    verified.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expectKept = deduped.filter(d => find(d) == d)
    r.check("curate.connected_components", ccKept == expectKept,
      s"${(ccKept -- expectKept).size} extra and ${(expectKept -- ccKept).size} missing " +
        "component representatives")
    val unplanted = all -- t.lowQuality -- t.textCluster.keySet -- t.semCluster.keySet
    r.check("curate.unplanted_kept", unplanted.subsetOf(survivors),
      s"${(unplanted -- survivors).size} unplanted documents merged or dropped")
    val planted = t.textCluster ++ t.semCluster.map { case (d, c) => d -> -c }
    val lost = planted.groupBy(_._2).count { case (_, ms) => !ms.keys.exists(survivors) }
    r.check("curate.planted_keep_one", lost == 0 && survivors.subsetOf(ccKept),
      s"$lost planted clusters lost every document")
    // capPerGroup keeps exactly min(n, Cap) per domain; hashSplit labels all
    val perDomain = survivors.toSeq.groupBy(t.domain).map { case (d, s) => d -> s.size }
    val outDomain = out.groupBy(_.getString(1)).map { case (d, rs) => d -> rs.length }
    val capOk = perDomain.forall { case (d, n) => outDomain.getOrElse(d, 0) == math.min(n, Cap) } &&
      out.forall(row => survivors(row.getLong(0)))
    r.check("curate.cap_per_group", capOk, s"${out.length} rows after the cap")
    val labels = Splits.map(_._1).toSet
    r.check("curate.split_labels", out.forall(row => labels(row.getString(2))),
      s"labels ${out.map(_.getString(2)).distinct.sorted.mkString(",")}")
    // recall of the approximate stages: the share of planted near-duplicate
    // clusters (near and chain) that end in one component, and of planted
    // semantic clusters that end with one survivor
    val near = t.textCluster.filter { case (_, c) => !t.exactGroups(c) }
      .filter { case (d, _) => deduped(d) }
    val nearOk = near.groupBy(_._2).count { case (_, ms) => ms.keys.map(find).size == 1 }
    m.put("ops.lsh.planted_recall", nearOk.toDouble / near.values.toSet.size, "ratio")
    val semOk = t.semCluster.groupBy(_._2).count { case (_, ms) => ms.keys.count(survivors) == 1 }
    m.put("ops.semanticDedup.planted_recall", semOk.toDouble / t.semCluster.values.toSet.size,
      "ratio")
    Log(s"LSH ${candidates.size} candidates, ${verified.size} verified; planted recall " +
      s"near ${nearOk}/${near.values.toSet.size}, semantic $semOk/${t.semCluster.values.toSet.size}")
  }
}
