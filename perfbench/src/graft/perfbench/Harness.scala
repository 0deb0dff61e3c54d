package graft.perfbench

import graft.sources.Tables
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark harness main. One JVM runs one workload: build the session the
  * way `graft.Bench` does, set up (warm table cache, function registration,
  * the host probes), run the workload's fixed timed phase, and
  * write every op's timing and check outcome, the run's provenance and
  * (traced runs) the per-layer breakdown and span file as JSON.
  * `perfbench/run.py` turns that into the benchmark's metrics.
  *
  * {{{
  * Harness --workload W --tables DIR --data DIR --work DIR --out FILE
  *         --trace 0|1 --seed N [--oracle FILE]
  * Harness --list-olap FILE
  * Harness --train DIR
  * }}}
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("list-olap")) listOlap(a("list-olap"))
    else if (a.contains("train")) train(a("train"))
    else run(a, mainNs)
  }

  /** Class-data-sharing training run: start a session and touch the
    * parquet, JSON and shuffle paths every workload uses. */
  private def train(work: String): Unit = {
    val spark = session(2, work)
    spark.range(1000).selectExpr("id", "id % 7 AS k").write.parquet(s"$work/t.parquet")
    spark.read.parquet(s"$work/t.parquet").groupBy("k").count().collect()
    spark.range(100).write.json(s"$work/t.json")
    spark.read.json(s"$work/t.json").count()
    spark.stop()
  }

  /** The olap_mix candidates and their oracle SQL, for the digest step. */
  private def listOlap(path: String): Unit = {
    val rows = OlapMix.candidates.map { case (m, q) =>
      Map("name" -> q.name, "module" -> m, "sql" -> q.oracle.get) }
    Files.writeString(Paths.get(path),
      Json.render(Map("per_module" -> OlapMix.PerModule, "queries" -> rows)))
  }

  private def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // Fixed-work host probes, the same work as graft.Bench's sentinels: a
  // codegen'd range sum plus a tiny parquet aggregate, and a two-shuffle
  // chain over a generated range. Equal work at run start and end, so a
  // contended run shows as an inflated end reading.
  private def sentinel(spark: SparkSession, sfDir: String): Double = {
    val t0 = System.nanoTime()
    spark.range(20000000L).selectExpr("sum(id * 7)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").selectExpr("count(*)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def sentinelShuffle(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.sum
    val t0 = System.nanoTime()
    spark.range(2000000L)
      .selectExpr("id % 100000 AS k", "id AS v")
      .groupBy("k").agg(sum("v").as("sv"))
      .selectExpr("k % 937 AS k2", "sv")
      .groupBy("k2").agg(sum("sv").as("s2"))
      .selectExpr("sum(s2)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1f s: $what")

  private def gcTotals(): (Long, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionCount).sum, bs.map(_.getCollectionTime).sum)
  }

  private def vmHwmMb(): Double =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    } catch { case scala.util.control.NonFatal(_) => 0.0 }

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0

  private def run(a: Map[String, String], mainNs: Long): Unit = {
    val workload = a("workload")
    val tables = a("tables")
    val data = a("data")
    val work = a("work")
    val traced = a.get("trace").contains("1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val sf = s"$tables/sf0.1"

    val spark = session(cpus, work)
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = secs(mainNs)
    // Setup. Only olap_mix reads the fixture tables, so only it builds the
    // warm table cache.
    val warmCacheS = if (workload != "olap_mix") 0.0 else {
      val t = System.nanoTime()
      val fails = Tables.warmCache(spark, sf)
      require(fails.isEmpty, s"warmCache failed: $fails")
      secs(t)
    }
    val tReg = System.nanoTime()
    graft.functions.SketchExprs.register(spark)
    graft.functions.VecExprs.register(spark)
    graft.functions.VecExprs.registerLshSigs(spark)
    graft.functions.BloomExprs.register(spark)
    val registerS = secs(tReg)
    val rn = new Runner(spark)
    val wl = Workload(workload, rn, tables, data, work, a("seed").toLong, a.get("oracle"))
    // The start probes double as the JVM warm-up (scan, codegen, shuffle).
    // Unlike graft.Bench, which runs an untimed sf0.001 pass of every
    // query shape first, there is no per-workload warm pass: the timed
    // round runs JIT-colder than Bench's.
    val tWarm = System.nanoTime()
    val sentStart = sentinel(spark, sf)
    val shufStart = sentinelShuffle(spark)
    val warmS = secs(tWarm)
    val setupS = sessionS + warmCacheS + registerS + warmS
    System.err.println(f"[perfbench] setup $setupS%.3f s: session $sessionS%.3f, " +
      f"warmCache $warmCacheS%.3f, probes $warmS%.3f")
    val cachedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

    /** The timed phase: reset, then the prologue and round 0. The work is
      * the same in every run. Returns the index of its first op. */
    def phase(): Int = {
      wl.reset()
      val first = rn.mark()
      wl.prologue()
      wl.round(0)
      first
    }

    def tracing(): Tracer = {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      rn.tagging = true
      t
    }
    def untrace(t: Tracer): Unit = {
      t.drain()
      spark.sparkContext.removeSparkListener(t)
      spark.listenerManager.unregister(t)
      rn.tagging = false
    }

    // The measured phase. A traced run traces it, so its layers describe
    // exactly the work an untraced run times.
    val tracerA = if (traced) Some(tracing()) else None
    val (gcN0, gcMs0) = gcTotals()
    val firstA = phase()
    val (gcN1, gcMs1) = gcTotals()
    val measured = rn.ops.drop(firstA).toSeq
    // wall_s is the time spent in graft's calls, without the answer checks
    // and bookkeeping that run between them
    val wall = opTime(measured)
    tracerA.foreach(untrace)
    mark("timed phase done")
    val facts = wl.finish()
    mark("finish done")
    var traceInfo: Map[String, Any] = Map.empty
    tracerA.foreach { tracer =>
      traceInfo = Layers.compute(measured, tracer, facts, work) ++ Map(
        "jvm.gc_s" -> (gcMs1 - gcMs0) / 1000.0,
        "jvm.gc_count" -> (gcN1 - gcN0).toDouble,
        "sources.Tables.warmCache_s" -> warmCacheS,
        "sources.Tables.cached_mb" -> cachedMb)
      // Tracing overhead: three more rounds on the same state, untraced,
      // traced and untraced again; the traced one is compared with the
      // mean of its neighbours (the JVM keeps warming across rounds).
      def extraRound(k: Int, on: Boolean): Double = {
        val t = if (on) Some(tracing()) else None
        val first = rn.mark()
        wl.round(k)
        t.foreach(untrace)
        opTime(rn.ops.drop(first).toSeq)
      }
      val before = extraRound(1, on = false)
      val withTrace = extraRound(2, on = true)
      val after = extraRound(3, on = false)
      traceInfo ++= Map("trace.overhead_frac" -> (2 * withTrace / (before + after) - 1)) ++
        functionRates(spark, sf)
      mark("overhead rounds done")
    }
    // End probes only in the traced run: they cost a few seconds, and the
    // untraced runs carry the start pair.
    val (sentEnd, shufEnd) =
      if (traced) (sentinel(spark, sf), sentinelShuffle(spark)) else (0.0, 0.0)
    val sentinels = Map("start_s" -> sentStart, "shuffle_start_s" -> shufStart) ++
      (if (traced) Map("end_s" -> sentEnd, "shuffle_end_s" -> shufEnd) else Map.empty)
    val hostLayer = Map(
      "host.sentinel_start_s" -> sentStart, "host.sentinel_end_s" -> sentEnd,
      "host.sentinel_shuffle_start_s" -> shufStart, "host.sentinel_shuffle_end_s" -> shufEnd,
      "jvm.heap_peak_mb" -> heapPeakMb(), "jvm.peak_rss_mb" -> vmHwmMb())

    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.ui.enabled" }
    val rt = ManagementFactory.getRuntimeMXBean
    val result = Map(
      "workload" -> workload,
      "traced" -> traced,
      "setup" -> Map("setup_s" -> setupS, "session_s" -> sessionS,
        "warmCache_s" -> warmCacheS, "register_s" -> registerS, "probes_s" -> warmS),
      "sentinels" -> sentinels,
      "wall_s" -> wall,
      "ops" -> measured.filter(o => o.kind != "check").map(o => Map(
        "kind" -> o.kind, "layer" -> o.layer, "fn" -> o.fn, "s" -> o.seconds,
        "ok" -> o.ok, "err" -> o.err, "rows_in" -> o.rowsIn, "rows_out" -> o.rowsOut)),
      "facts" -> facts,
      "layers" -> (traceInfo ++ hostLayer),
      "peak_rss_mb" -> vmHwmMb(),
      "gc" -> Map("count" -> (gcN1 - gcN0), "s" -> (gcMs1 - gcMs0) / 1000.0),
      "provenance" -> Map(
        "jvm_args" -> rt.getInputArguments.asScala.filter(x =>
          x.startsWith("-Xmx") || x.startsWith("-XX:") || x.startsWith("-Duser.timezone")),
        "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "java" -> sys.props("java.version"),
        "spark" -> spark.version,
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "master" -> spark.sparkContext.master,
        "conf" -> conf))
    Files.writeString(Paths.get(a("out")), Json.render(result))
    mark("result written")
    spark.stop()
    mark("session stopped")
  }

  /** Rows per second of the custom expressions the index workload leans
    * on, each over its own input column (document tokens, embeddings)
    * replicated to a measurable size and written to the noop sink. */
  private def functionRates(spark: SparkSession, sf: String): Map[String, Double] = {
    import org.apache.spark.sql.functions._
    val reps = spark.range(20).withColumnRenamed("id", "rep")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(transform(array_distinct(split(col("text"), " ")), t => xxhash64(t)).as("hs"))
      .crossJoin(reps).cache()
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").select("embedding")
      .crossJoin(spark.range(100).withColumnRenamed("id", "rep")).cache()
    val nDocs = docs.count().toDouble
    val nEmb = emb.count().toDouble
    def rate(n: Double, df: org.apache.spark.sql.DataFrame): Double = {
      val t = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      n / secs(t)
    }
    val out = Map(
      "functions.graft_minhash_sig.rows_per_s" ->
        rate(nDocs, docs.select(expr("graft_minhash_sig(hs)"))),
      "functions.graft_lsh_sigs.rows_per_s" ->
        rate(nEmb, emb.select(expr("graft_lsh_sigs(embedding, 16)"))),
      "functions.graft_dot.rows_per_s" ->
        rate(nEmb, emb.select(expr("graft_dot(embedding, embedding)"))))
    docs.unpersist(); emb.unpersist()
    out
  }

  private def opTime(ops: Seq[OpRec]): Double =
    ops.filter(o => o.kind != "check").map(_.seconds).sum
}
