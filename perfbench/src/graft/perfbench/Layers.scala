package graft.perfbench

import java.nio.file.{Files, Paths}

/** Per-layer breakdown of a traced phase, and its span file.
  *
  * Each op's Spark jobs come from its job tag; an action's planning
  * phases are attributed to the op whose window holds the phase start.
  * A span's self time is its duration minus what its children cover, so
  * per op: driver gap = wall - union(job intervals), and "other" driver
  * time = gap - planning phases (commit, listing, catalog I/O). */
object Layers {
  val Phases = Seq("analysis", "optimization", "planning")
  val SinkFns = Seq("upsertBatch", "upsertBatchDv", "deleteWhere", "compactDeletes",
    "readTableSkip", "readTableBloomSkip")
  val IndexFns = Seq("write", "ingestBatch", "probe", "compactIndex")
  val Indexes = Seq("DedupIndex" -> "dedup", "VecIndex" -> "vec")

  private val MB = 1048576.0

  def compute(ops: Seq[OpRec], tracer: Tracer, facts: Map[String, Any],
      work: String): Map[String, Any] = {
    val (jobs, agg, plans) = tracer.snapshot()
    val opIds = ops.map(_.id).toSet
    val work0 = ops.filter(o => o.kind != "check")
    val t0 = ops.map(_.startMs).min
    val t1 = ops.map(_.endMs).max
    val phaseJobs = jobs.filter(j => j.start >= t0 && j.start <= t1 + 1)
    // plans attributed to the op whose window holds the first phase start
    val planOf: Map[Int, Seq[PlanRec]] = plans.flatMap { p =>
      val st = p.phases.values.map(_._1).minOption.getOrElse(Long.MinValue)
      ops.find(o => st >= o.startMs && st <= o.endMs).map(o => o.id -> p)
    }.groupMap(_._1)(_._2)
    val jobsOf = phaseJobs.groupBy(_.op)
    def aggOf(os: Seq[OpRec]): ExecAgg = {
      val s = new ExecAgg
      os.flatMap(o => agg.get(o.id)).foreach { a =>
        s.stages += a.stages; s.skippedStages += a.skippedStages; s.tasks += a.tasks
        s.cpuNs += a.cpuNs; s.gcMs += a.gcMs; s.inputBytes += a.inputBytes
        s.inputRecords += a.inputRecords; s.shuffleRead += a.shuffleRead
        s.shuffleWrite += a.shuffleWrite; s.outputBytes += a.outputBytes
        s.spill += a.spill; s.peakMem = math.max(s.peakMem, a.peakMem)
      }
      s
    }
    def jobMs(o: OpRec): Long =
      Tracer.unionMs(jobsOf.getOrElse(o.id, Nil).map(j => (j.start, if (j.end < 0) o.endMs else j.end)))
    def planMs(o: OpRec, ph: String): Long =
      planOf.getOrElse(o.id, Nil).flatMap(_.phases.get(ph)).map(x => x._2 - x._1).sum
    def wallMs(o: OpRec): Long = o.endMs - o.startMs

    // spans: one per op, with its jobs and planning phases as children
    val spans = Seq.newBuilder[String]
    ops.foreach { o =>
      val js = jobsOf.getOrElse(o.id, Nil)
      val jm = jobMs(o)
      val pm = Phases.map(planMs(o, _)).sum
      spans += Json.render(Map("span" -> o.name, "kind" -> o.kind, "op" -> o.id,
        "parent" -> None, "start_ms" -> o.startMs, "end_ms" -> o.endMs, "ok" -> o.ok,
        "job_s" -> jm / 1000.0, "plan_s" -> pm / 1000.0,
        "gap_s" -> (wallMs(o) - jm) / 1000.0, "other_s" -> (wallMs(o) - jm - pm) / 1000.0))
      js.foreach(j => spans += Json.render(Map("span" -> "spark.job", "op" -> o.id,
        "parent" -> o.id, "job" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end,
        "stages" -> j.stages.size)))
      planOf.getOrElse(o.id, Nil).foreach { p =>
        p.phases.foreach { case (ph, (s, e)) =>
          spans += Json.render(Map("span" -> s"spark.plan.$ph", "op" -> o.id,
            "parent" -> o.id, "action" -> p.action, "start_ms" -> s, "end_ms" -> e))
        }
      }
    }
    jobs.filter(j => !opIds(j.op)).foreach(j => spans += Json.render(Map(
      "span" -> "spark.job", "op" -> j.op, "parent" -> None, "job" -> j.id,
      "start_ms" -> j.start, "end_ms" -> j.end, "stages" -> j.stages.size)))
    Files.write(Paths.get(s"$work/trace.jsonl"),
      (spans.result().mkString("\n") + "\n").getBytes("UTF-8"))

    val all = aggOf(work0)
    val jobS = work0.map(jobMs).sum / 1000.0
    val wallS = work0.map(wallMs).sum / 1000.0
    val planS = Phases.map(ph => ph -> work0.map(planMs(_, ph)).sum / 1000.0).toMap
    val m = Map.newBuilder[String, Any]
    m += "spark.plan.actions" -> work0.map(o => planOf.getOrElse(o.id, Nil).size).sum.toDouble
    Phases.foreach(ph => m += s"spark.plan.${ph}_s" -> planS(ph))
    m ++= Seq(
      "spark.exec.jobs" -> work0.map(o => jobsOf.getOrElse(o.id, Nil).size).sum.toDouble,
      "spark.exec.stages" -> all.stages.toDouble,
      "spark.exec.skipped_stages" -> all.skippedStages.toDouble,
      "spark.exec.tasks" -> all.tasks.toDouble,
      "spark.exec.job_s" -> jobS,
      "spark.exec.task_cpu_s" -> all.cpuNs / 1e9,
      "spark.exec.task_gc_s" -> all.gcMs / 1000.0,
      "spark.exec.input_mb" -> all.inputBytes / MB,
      "spark.exec.shuffle_read_mb" -> all.shuffleRead / MB,
      "spark.exec.shuffle_write_mb" -> all.shuffleWrite / MB,
      "spark.exec.output_mb" -> all.outputBytes / MB,
      "spark.exec.spill_mb" -> all.spill / MB,
      "spark.exec.peak_exec_mem_mb" -> all.peakMem / MB,
      "driver.gap_s" -> (wallS - jobS),
      "driver.other_s" -> (wallS - jobS - planS.values.sum),
      "sources.Scratch.releaseAll_s" ->
        work0.filter(_.fn == "releaseAll").map(_.seconds).sum)

    def opsOf(layer: String, fn: String) = work0.filter(o => o.layer == layer && o.fn == fn)
    def num(k: String): Double = facts.get(k) match {
      case Some(n: Number) => n.doubleValue
      case Some(n: Int) => n.toDouble
      case Some(n: Long) => n.toDouble
      case Some(n: Double) => n
      case _ => 0.0
    }
    // sources.Sinks
    val sinkOps = work0.filter(_.layer == "sources.Sinks")
    SinkFns.foreach { f =>
      m += s"sources.Sinks.${f}_s" -> opsOf("sources.Sinks", f).map(_.seconds).sum
      m += s"sources.Sinks.${f}_calls" -> opsOf("sources.Sinks", f).size.toDouble
    }
    val sinkPlans = sinkOps.flatMap(o => planOf.getOrElse(o.id, Nil))
    val sinkOut = aggOf(sinkOps.filter(_.kind != "read")).outputBytes
    val skips = opsOf("sources.Sinks", "readTableSkip")
    val scanned = aggOf(skips).inputRecords
    m ++= Seq(
      "sources.Sinks.compactions" -> num("compactions"),
      "sources.Sinks.files_written" -> sinkPlans.map(_.files).sum.toDouble,
      "sources.Sinks.bytes_written_mb" -> sinkOut / MB,
      "sources.Sinks.write_amp" -> (if (num("user_bytes") > 0) sinkOut / num("user_bytes") else 0.0),
      "sources.Sinks.live_files" -> num("live_files"),
      "sources.Sinks.deletedFraction" -> num("deleted_fraction"),
      "sources.Sinks.skip_rows_ratio" ->
        (if (scanned > 0) skips.map(_.rowsOut).sum.toDouble / scanned else 0.0))
    // etl.SparkifyEtl
    val etl = opsOf("etl.SparkifyEtl", "run")
    val etlAgg = aggOf(etl)
    m ++= Seq(
      "etl.SparkifyEtl.run_s" -> etl.map(_.seconds).sum,
      "etl.SparkifyEtl.input_mb" -> etlAgg.inputBytes / MB,
      "etl.SparkifyEtl.shuffle_mb" -> (etlAgg.shuffleRead + etlAgg.shuffleWrite) / MB,
      "etl.SparkifyEtl.output_mb" -> etlAgg.outputBytes / MB,
      "etl.SparkifyEtl.match_ratio" -> num("etl_match_ratio"))
    // operators.DedupIndex / operators.VecIndex
    Indexes.foreach { case (ix, key) =>
      val layer = s"operators.$ix"
      IndexFns.foreach(f => m += s"$layer.${f}_s" -> opsOf(layer, f).map(_.seconds).sum)
      val rowsIn = opsOf(layer, "ingestBatch").map(_.rowsIn).sum
      m ++= Seq(
        s"$layer.admit_ratio" -> (if (rowsIn > 0) num(s"admitted_$key") / rowsIn else 0.0),
        s"$layer.planted_dup_reject_ratio" ->
          (if (num(s"planted_$key") > 0) num(s"planted_rejected_$key") / num(s"planted_$key") else 0.0),
        s"$layer.index_rows" -> num(s"${key}_index_rows"),
        s"$layer.index_files" -> num(s"${key}_index_files"))
    }
    // olap module subtotals
    OlapMix.modules.foreach { mod =>
      m += s"operators.$mod.query_s" ->
        work0.filter(o => o.kind == "query" && o.layer == s"operators.$mod").map(_.seconds).sum
    }
    val tagged = phaseJobs.count(j => opIds(j.op))
    m ++= Seq(
      "trace.unattributed_job_frac" ->
        (if (phaseJobs.nonEmpty) 1.0 - tagged.toDouble / phaseJobs.size else 0.0))
    m.result()
  }
}
