package graft.bench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.MaterializedCaches
import org.apache.spark.graftbench.ListenerBus
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It runs one workload in passes: each pass
  * resets every cache, takes a fresh session, builds the workload's
  * inputs (timed as set-up), then times each op on its own and checks
  * its output after the clock stops. A workload may start with an untimed
  * JIT warm-up pass. Passes repeat until `--seconds` of timed passes have
  * run and the workload's minimum is met. The last stdout line is one JSON
  * object with the run's metrics (see `mrbench/README.md`).
  *
  * {{{
  * Main --workload mr_wordcount|suite_floor --seed N --seconds S --trace 0|1
  *      --data <dir holding sf0.01> --work <scratch dir>
  *      --expected <expected_rows.tsv>
  * }}}
  */
object Main {
  final case class OpRec(id: Int, pass: Int, name: String, latencyS: Double,
      status: String, startMs: Double, endMs: Double, traced: Boolean,
      persistedLeft: Int, storageBytes: Long, sinkBytes: Long, sinkFiles: Int)

  final case class PassRec(pass: Int, setupS: Double, wallS: Double, traced: Boolean, timed: Boolean)

  /** Every end-to-end metric the run can report, with its unit. */
  val EndToEnd: Map[String, String] = Map(
    "setup_s" -> "s", "wall_s" -> "s", "op_p50_s" -> "s", "op_p90_s" -> "s",
    "op_geomean_s" -> "s", "mr_tokens_per_s" -> "1/s", "failed_frac" -> "ratio",
    "peak_rss_mb" -> "MB")

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = new File(arg("work")).getAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    val wl: Workload = workload match {
      case "mr_wordcount" => new MrWordcount(seed, work, MrWordcount.Size)
      case "suite_floor" =>
        new Suite(seed, s"${arg("data")}/sf0.01", "sf0.01", Queries.floor, arg("expected"))
      case other => sys.error(s"unknown workload $other")
    }

    val tracer = new Tracer
    if (trace) sc.addSparkListener(tracer)

    val ops = mutable.ArrayBuffer.empty[OpRec]
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val warmPasses = wl.warmupPasses
    // a traced run needs an untraced pass to measure its overhead against
    val minTimed = if (trace) math.max(2, wl.minPasses) else wl.minPasses
    var timedSince = Double.NaN
    var stealAtStart = Double.NaN
    var setupS = Double.NaN
    var mrMismatch = false
    def nowMs = System.currentTimeMillis().toDouble
    def timedCount = passes.count(_.timed)
    while (timedCount < minTimed || (System.nanoTime() - timedSince) / 1e9 < seconds) {
      val pass = passes.size + 1
      val timed = pass > warmPasses
      if (timed && timedSince.isNaN) {
        timedSince = System.nanoTime().toDouble
        stealAtStart = stealSeconds
      }
      // traced runs alternate: timed passes 2, 4, ... carry the tracer
      val traced = trace && timed && (pass - warmPasses) % 2 == 0
      val setupStart = System.nanoTime()
      // every pass starts from the same cache state
      MaterializedCaches.invalidateAll()
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", cores.toString)
      if (traced) s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .listenerManager.register(tracer)
      wl.setup(s)
      val passSetupS = (System.nanoTime() - setupStart) / 1e9
      // set-up time is JVM start to the first timed op: session, inputs,
      // warm list and the JIT warm-up passes
      if (timed && setupS.isNaN) setupS = (nowMs - jvmStartMs) / 1000
      tracer.enabled = traced
      var wall = 0.0
      for (name <- wl.ops) {
        val id = ops.size
        sc.setLocalProperty(Tracer.OpProperty, id.toString)
        val startMs = nowMs
        val t0 = System.nanoTime()
        val outcome = try Right(wl.run(s, name, id, tracer)) catch {
          case t: Throwable => Left(s"${t.getClass.getName}: ${String.valueOf(t.getMessage)}")
        }
        val lat = (System.nanoTime() - t0) / 1e9
        val endMs = nowMs
        sc.setLocalProperty(Tracer.OpProperty, null)
        wall += lat
        // untimed from here: output check, cache census, janitor
        val status = outcome match {
          case Left(err) =>
            System.err.println(s"[mrbench] FAILED $name: ${err.linesIterator.take(1).mkString.take(300)}")
            "failed"
          case Right(res) => wl.check(name, res) match {
            case None => "ok"
            case Some(err) =>
              System.err.println(s"[mrbench] WRONG $name: ${err.take(600)}")
              if (wl.isInstanceOf[MrWordcount]) mrMismatch = true
              "wrong"
          }
        }
        val keep = Suite.protectedRddIds
        val left = sc.getPersistentRDDs.keys.count(k => !keep.contains(k))
        val storage = sc.getRDDStorageInfo.map(_.memSize).sum
        val (sinkBytes, sinkFiles) = wl match {
          case mr: MrWordcount => mr.sinkOutput
          case _ => (0L, 0)
        }
        Suite.sweepTemporaries(s)
        System.err.println(f"[mrbench] pass $pass op $name%s $lat%.3f s $status%s")
        ops += OpRec(id, pass, name, lat, status, startMs, endMs, traced, left, storage,
          sinkBytes, sinkFiles)
      }
      tracer.enabled = false
      if (traced) {
        ListenerBus.drain(sc)
        s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.unregister(tracer)
      }
      passes += PassRec(pass, passSetupS, wall, traced, timed)
      System.err.println(f"[mrbench] pass $pass set-up $passSetupS%.3f s, ops $wall%.3f s")
    }

    val stealS = stealSeconds - stealAtStart
    val timedPasses = passes.filter(_.timed).toSeq
    val untraced = timedPasses.filterNot(_.traced)
    def okLatencies(ps: Seq[PassRec]): Seq[Double] = {
      val in = ps.map(_.pass).toSet
      ops.filter(o => in(o.pass) && o.status == "ok").map(_.latencyS).toSeq
    }
    // each op statistic is taken per pass, then the median over passes
    def overPasses(stat: Seq[Double] => Double): Double =
      Stats.median(untraced.map(p => okLatencies(Seq(p))).filter(_.nonEmpty).map(stat))
    val okLat = okLatencies(untraced)
    val wallS = Stats.median(untraced.map(_.wallS))
    val attempted = ops.size
    val failed = ops.count(_.status != "ok")
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "wall_s" -> wallS,
      "op_p50_s" -> overPasses(Stats.median),
      "op_geomean_s" -> overPasses(Stats.geomean))
    if (Stats.reportable(90, okLat.size)) e2e("op_p90_s") = Stats.percentile(okLat, 90)
    wl match {
      case mr: MrWordcount => e2e("mr_tokens_per_s") = mr.tokens * wl.ops.size / wallS
      case _ =>
    }
    e2e("failed_frac") = failed.toDouble / attempted
    e2e("peak_rss_mb") = peakRssMb

    val perLayer = if (trace) Layers.metrics(wl, tracer, ops.toSeq, passes.toSeq, cores) else Nil
    val failures = ops.filter(_.status != "ok").groupBy(_.name).map { case (n, rs) => n -> rs.head.status }

    if (trace) writeTrace(work, workload, seed, tracer, ops.toSeq)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "correct" -> !ops.exists(_.status == "wrong"),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> e2e.map { case (k, v) => k -> Map("value" -> v, "unit" -> EndToEnd(k)) },
      "per_layer" -> mutable.LinkedHashMap(perLayer.map { case (k, v, u, det) =>
        k -> Map("value" -> v, "unit" -> u, "deterministic" -> det) }: _*),
      "samples" -> okLat.size,
      "passes" -> passes.map(p => Map("pass" -> p.pass, "setup_s" -> p.setupS,
        "wall_s" -> p.wallS, "timed" -> p.timed, "traced" -> p.traced)),
      "failures" -> failures,
      // CPU time the hypervisor gave to other guests during the timed
      // passes, summed over CPUs: the share of the noise the host caused
      "host" -> Map("cpus" -> Runtime.getRuntime.availableProcessors(), "steal_s" -> stealS),
      "session" -> Map("master" -> sc.master,
        "spark.sql.shuffle.partitions" -> cores.toString, "spark.ui.enabled" -> "false",
        "spark_version" -> spark.version),
      "workload_info" -> wl.info)
    spark.stop()
    println(Json.render(result))
    System.out.flush()
    System.exit(if (mrMismatch) 3 else 0)
  }

  /** Steal time of all CPUs so far, in seconds (NaN without /proc/stat). */
  def stealSeconds: Double = try {
    val cpu = Files.readAllLines(Paths.get("/proc/stat"), UTF_8).get(0).split("\\s+")
    cpu(8).toDouble / 100
  } catch { case _: Exception => Double.NaN }

  /** VmHWM of this process, in MB (0 where /proc is not available). */
  def peakRssMb: Double = try {
    val line = Files.readAllLines(Paths.get("/proc/self/status"), UTF_8).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  } catch { case _: Exception => 0.0 }

  /** Spans of the traced passes (benchmark calls and Spark jobs) as JSON. */
  def writeTrace(work: String, workload: String, seed: Long, tr: Tracer, ops: Seq[OpRec]): Unit = {
    val benchSpans = tr.spans.toSeq
    var next = benchSpans.size
    val jobSpans = tr.jobs.toSeq.map { j =>
      // a job's parent is the innermost benchmark span of its op open at its start
      val parent = benchSpans.filter(s => s.op == j.op && s.startMs <= j.startMs && j.startMs <= s.endMs)
        .sortBy(s => s.endMs - s.startMs).headOption.map(_.id).getOrElse(-1)
      next += 1
      Span(next - 1, s"spark.job.${j.id}", j.startMs, j.endMs, parent, j.op)
    }
    val doc = Map("workload" -> workload, "seed" -> seed,
      "ops" -> ops.filter(_.traced).map(o => Map("op" -> o.id, "name" -> o.name, "status" -> o.status)),
      "spans" -> (benchSpans ++ jobSpans))
    Files.write(Paths.get(work, s"trace-$workload-$seed.json"), Json.render(doc).getBytes(UTF_8))
  }
}
