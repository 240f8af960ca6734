package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Harness entry point. Run by perfbench/run.py:
  * `java ... perfbench.Main key=value ...` with workload, seed, seconds,
  * trace, data (input tables), work (scratch dir) and out (result JSON). */
object Main {
  def loadAvg1: Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  private def statusKb(key: String): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(-1.0)
    catch { case _: Throwable => -1.0 }

  def main(argv: Array[String]): Unit = {
    val a = argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    if (a("workload") == "oracle_sql") { // for make_expected.py: no session needed
      Files.writeString(Paths.get(a("out")), Json(graft.SparkEntry.oracleSql))
      return
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = loadAvg1
    val cores = Runtime.getRuntime.availableProcessors()
    val work = a("work")
    val seed = a("seed").toLong
    val traced = a("trace") == "1"

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(cores.toString, cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val probe = new Probe(spark, traced)
    val workload = new QueryLoop(spark, a("data"), work, a("queries").split(',').toSeq, seed)
    val setupPhases = workload.setup(math.max(1, cores - 1))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(s"[perfbench] set-up $setupS s: session $sessionS s, ${setupPhases.mkString(", ")}")

    val m0 = System.nanoTime()
    workload.run(probe, a("seconds").toDouble)
    val measureS = (System.nanoTime() - m0) / 1e9
    probe.drain()

    val checks = workload.checks
    val cached = probe.cachedAfterOp
    val out = Map(
      "workload" -> a("workload"), "seed" -> seed, "traced" -> traced,
      "nproc" -> cores, "master" -> spark.sparkContext.master,
      "loadavg_before" -> load0, "loadavg_after" -> loadAvg1,
      "setup_s" -> setupS, "setup_phases" -> (Seq("session_s" -> sessionS) ++ setupPhases).toMap,
      "measure_s" -> measureS,
      "peak_rss_mb" -> statusKb("VmHWM") / 1024.0,
      "cached_rdds_end" -> (if (cached.isEmpty) 0.0 else cached.sum.toDouble / cached.size),
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "ops" -> probe.records.map(r => opJson(probe, r)))
    Files.writeString(Paths.get(a("out")), Json(out))
    spark.stop()
  }

  private def opJson(probe: Probe, r: OpRecord): Map[String, Any] = {
    val stats = probe.phaseStats(r)
    val phases = r.phases.map { case (p, s) =>
      val st = stats.collectFirst { case (`p`, g) => g }
      p -> (Map[String, Any]("s" -> s) ++ st.map(g => Map(
        "jobs" -> g.jobs, "stages" -> g.stages, "single_task_stages" -> g.singleTaskStages,
        "tasks" -> g.tasks, "failed_tasks" -> g.failedTasks,
        "task_busy_s" -> g.busyMs / 1e3, "task_cpu_s" -> g.cpuNs / 1e9,
        "scheduler_delay_s" -> g.schedDelayMs / 1e3, "input_bytes" -> g.inputBytes,
        "shuffle_write_bytes" -> g.shuffleWriteBytes, "shuffle_read_bytes" -> g.shuffleReadBytes,
        "spill_bytes" -> g.spillBytes,
        "job_spans" -> g.jobSpans.map { case (id, a, b) => Seq(id, a, b) },
        "jobs_covered_s" -> Probe.coveredS(g.jobSpans.map(j => (j._2, j._3)).toSeq,
          r.startMs, r.endMs))).getOrElse(Map.empty))
    }
    val allSpans = stats.flatMap(_._2.jobSpans.map(j => (j._2, j._3)))
    Map("id" -> r.id, "name" -> r.name, "layer" -> r.layer,
      "start_ms" -> r.startMs, "end_ms" -> r.endMs, "wall_s" -> r.wallS,
      "gc_s" -> r.gcS, "ok" -> r.ok, "traced" -> r.traced, "plan_s" -> r.planS,
      "phases" -> phases.toMap,
      "driver_gap_s" -> (if (r.traced) r.wallS - Probe.coveredS(allSpans, r.startMs, r.endMs)
                         else -1.0))
  }
}
