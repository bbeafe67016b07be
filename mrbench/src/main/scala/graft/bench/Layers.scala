package graft.bench

import scala.collection.mutable

/** Per-layer metrics of a traced run, named after the engine's modules.
  * Each is computed per traced pass and averaged over them; a metric whose
  * per-pass values differ is reported as not deterministic.
  */
object Layers {
  type Metric = (String, Double, String, Option[Boolean])

  val MrEntryPoints = Seq("run", "runAgg", "runPartitioned")

  /** Units of every per-layer metric, in output order. */
  val units: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.build_jobs" -> "count", "queries.consume_s" -> "s",
    "plans.analysis_ms" -> "ms", "plans.optimization_ms" -> "ms", "plans.planning_ms" -> "ms",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count", "scheduler.tasks" -> "count",
    "scheduler.tasks_per_stage" -> "ratio", "scheduler.single_task_stage_frac" -> "ratio",
    "scheduler.launch_wait_ms" -> "ms", "scheduler.driver_gap_ms" -> "ms",
    "executor.run_ms" -> "ms", "executor.cpu_ms" -> "ms", "executor.gc_ms" -> "ms",
    "executor.core_use" -> "ratio", "executor.shuffle_write_bytes" -> "B",
    "executor.shuffle_read_bytes" -> "B", "executor.shuffle_records" -> "count",
    "executor.spill_bytes" -> "B", "executor.peak_exec_mem_bytes" -> "B",
    "sources.input_bytes" -> "B", "sources.input_records" -> "count",
    "MaterializedCaches.persisted_rdds_left" -> "count",
    "MaterializedCaches.storage_mem_bytes" -> "B") ++
    MrEntryPoints.flatMap(ep => Seq(s"MRJob.$ep.map_s" -> "s", s"MRJob.$ep.reduce_s" -> "s",
      s"MRJob.$ep.emitted_pairs" -> "count", s"MRJob.$ep.shuffle_bytes_per_token" -> "B")) ++
    Seq("TextSink.write_s" -> "s", "TextSink.bytes_written" -> "B", "TextSink.files" -> "count",
      "Djb2.ns_per_key" -> "ns", "trace.overhead" -> "ratio")

  /** Metrics measured as times, never expected to repeat exactly. */
  private def isTiming(name: String): Boolean =
    name.endsWith("_s") || name.endsWith("_ms") || name.endsWith("core_use") ||
      name.endsWith("ns_per_key") || name == "trace.overhead" ||
      name.endsWith("storage_mem_bytes") || name.endsWith("peak_exec_mem_bytes")

  def metrics(wl: Workload, tr: Tracer, ops: Seq[Main.OpRec], passes: Seq[Main.PassRec],
      cores: Int): Seq[Metric] = {
    val traced = passes.filter(_.traced).map(_.pass)
    val perPass = traced.map(p => onePass(wl, tr, ops.filter(o => o.pass == p && o.traced), cores))
    val extra = Map(
      "Djb2.ns_per_key" -> djb2NsPerKey(wl),
      "trace.overhead" -> overhead(passes.filter(_.timed)))
    units.map { case (name, unit) =>
      extra.get(name) match {
        case Some(v) => (name, v, unit, Some(false))
        case None =>
          val vs = perPass.map(_.getOrElse(name, 0.0))
          val det = if (isTiming(name)) Some(false)
            else if (vs.size < 2) None else Some(vs.distinct.size == 1)
          (name, vs.sum / vs.size, unit, det)
      }
    }
  }

  private def onePass(wl: Workload, tr: Tracer, ops: Seq[Main.OpRec], cores: Int): Map[String, Double] = {
    val m = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    val opIds = ops.map(_.id).toSet
    val spans = tr.spans.filter(s => opIds.contains(s.op)).toSeq
    val jobs = tr.jobs.filter(j => opIds.contains(j.op)).toSeq
    val stages = tr.stages.values.filter(s => opIds.contains(s.op) && !s.submittedMs.isNaN).toSeq
    def spanS(name: String) = spans.filter(_.name == name).map(s => s.endMs - s.startMs).sum / 1000
    m("queries.build_s") = spanS("queries.build")
    m("queries.consume_s") = spanS("queries.consume")
    m("queries.build_jobs") = jobs.count(j => spans.exists(s =>
      s.name == "queries.build" && s.op == j.op && s.startMs <= j.startMs && j.startMs <= s.endMs))
    for (o <- ops; p <- tr.plans if p.atMs >= o.startMs && p.atMs <= o.endMs + 1) {
      m("plans.analysis_ms") += p.analysisMs
      m("plans.optimization_ms") += p.optimizationMs
      m("plans.planning_ms") += p.planningMs
    }
    m("scheduler.jobs") = jobs.size
    m("scheduler.stages") = stages.size
    m("scheduler.tasks") = stages.map(_.tasks).sum
    m("scheduler.tasks_per_stage") = m("scheduler.tasks") / math.max(1, stages.size)
    m("scheduler.single_task_stage_frac") = stages.count(_.tasks == 1).toDouble / math.max(1, stages.size)
    m("scheduler.launch_wait_ms") = stages.filterNot(_.firstLaunchMs.isNaN)
      .map(s => s.firstLaunchMs - s.submittedMs).sum
    m("scheduler.driver_gap_ms") = ops.map { o =>
      val covered = union(jobs.filter(_.op == o.id).map(j => (j.startMs, j.endMs)), o.startMs, o.endMs)
      o.endMs - o.startMs - covered
    }.sum
    def total(f: StageRec => Long): Double = stages.map(f).sum.toDouble
    m("executor.run_ms") = total(_.runMs)
    m("executor.cpu_ms") = total(_.cpuNs) / 1e6
    m("executor.gc_ms") = total(_.gcMs)
    m("executor.core_use") = m("executor.run_ms") / (cores * math.max(1.0, ops.map(_.latencyS).sum * 1000))
    m("executor.shuffle_write_bytes") = total(_.shuffleWriteBytes)
    m("executor.shuffle_read_bytes") = total(_.shuffleReadBytes)
    m("executor.shuffle_records") = total(_.shuffleWriteRecords)
    m("executor.spill_bytes") = total(_.spillBytes)
    m("executor.peak_exec_mem_bytes") = (0L +: stages.map(_.peakExecMem)).max.toDouble
    m("sources.input_bytes") = total(_.inputBytes)
    m("sources.input_records") = total(_.inputRecords)
    m("MaterializedCaches.persisted_rdds_left") = ops.map(_.persistedLeft).sum
    m("MaterializedCaches.storage_mem_bytes") = (0L +: ops.map(_.storageBytes)).max.toDouble
    wl match {
      case mr: MrWordcount =>
        // stage roles: the map stage reads the corpus, the sink stage
        // writes no shuffle, every other stage is reduce-side
        for (ep <- MrEntryPoints; epOps = ops.filter(_.name == ep) if epOps.nonEmpty) {
          val ids = epOps.map(_.id).toSet
          val st = stages.filter(s => ids.contains(s.op))
          val (map, rest) = st.partition(_.inputBytes > 0)
          val (sink, reduce) = rest.partition(_.shuffleWriteBytes == 0)
          val n = epOps.size
          m(s"MRJob.$ep.map_s") = map.map(_.wallMs).sum / 1000 / n
          m(s"MRJob.$ep.reduce_s") = reduce.map(_.wallMs).sum / 1000 / n
          m(s"MRJob.$ep.emitted_pairs") = map.map(_.shuffleWriteRecords).sum.toDouble / n
          m(s"MRJob.$ep.shuffle_bytes_per_token") =
            map.map(_.shuffleWriteBytes).sum.toDouble / (mr.tokens * n)
          m("TextSink.write_s") += sink.map(_.wallMs).sum / 1000 / ops.size
        }
        m("TextSink.bytes_written") = ops.map(_.sinkBytes).sum.toDouble / ops.size
        m("TextSink.files") = ops.map(_.sinkFiles).sum.toDouble / ops.size
      case _ =>
    }
    m.toMap
  }

  /** Median over traced passes of the pass's wall time over the mean of
    * its untraced neighbours, which cancels a steady JIT warming trend.
    * A run whose only untraced pass is its first, JIT-cold one
    * understates the overhead.
    */
  def overhead(timed: Seq[Main.PassRec]): Double = Stats.median(
    timed.indices.filter(i => timed(i).traced).map { i =>
      val base = Seq(i - 1, i + 1).filter(timed.indices.contains).map(timed).filterNot(_.traced)
      timed(i).wallS / (base.map(_.wallS).sum / base.size)
    })

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def union(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var covered = 0.0
    var end = lo
    for ((s, e) <- intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
           .filter { case (s, e) => e > s }.sortBy(_._1)) {
      val from = math.max(s, end)
      if (e > from) { covered += e - from; end = e }
    }
    covered
  }

  /** Nanoseconds per `Djb2.partition` call over the corpus vocabulary:
    * the median of five timed sweeps of about two million calls each,
    * after two untimed ones; taken after the timed passes.
    */
  def djb2NsPerKey(wl: Workload): Double = {
    val keys = (wl match {
      case mr: MrWordcount => mr.vocabulary
      case _ => (0 until 25000).map(Corpus.word)
    }).toArray
    val rounds = math.max(1, 2000000 / keys.length)
    var sink = 0L
    val reps = (1 to 7).map { _ =>
      val t0 = System.nanoTime()
      for (_ <- 1 to rounds) {
        var i = 0
        while (i < keys.length) { sink += graft.functions.Djb2.partition(keys(i), 10); i += 1 }
      }
      (System.nanoTime() - t0).toDouble / (keys.length.toLong * rounds)
    }
    if (sink == 42) println()
    Stats.median(reps.drop(2))
  }
}
