package perfbench

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Closed loop, one client: each pass runs every listed registry query as
  * often as it is listed, in a seed-shuffled order (`passOrder`), and
  * materializes it through the `noop` sink.
  * Each query is timed in two phases: construct (the registry function
  * builds the DataFrame; eager pins and gates run here) and execute (the
  * `noop` write, which plans the query once and runs it); a traced run
  * splits planning out of execute from Spark's own tracker (Probe.settle).
  * After each query, outside its timed window, the harness releases the
  * engine's caches as the caching contract asks of callers. Passes repeat
  * until the window is over, so a run measures whole passes and every query
  * weighs the same in every run whatever the seed.
  *
  * `queries` holds `name:layer` pairs; the layer is the operator module the
  * query calls, used for the per-layer breakdown. A query listed twice runs
  * twice a pass and once in the check pass. */
final class QueryLoop(spark: SparkSession, data: String, work: String,
                      queries: Seq[String], seed: Long) {
  private val fns = graft.SparkEntry.queries
  private val (names, layerOf) = {
    val pairs = queries.map { s => val i = s.indexOf(':'); s.take(i) -> s.drop(i + 1) }
    (pairs.map(_._1), pairs.toMap)
  }
  private val failedOutputs = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Untimed, after the session exists: the warm-up pass, which doubles as
    * the correctness pass: every query's output is written as parquet once,
    * for the gate in run.py. The queries share no state outside the session,
    * so `threads` of them run at once: a cold query is mostly code
    * generation and JIT warm-up on its own thread, which overlaps well. The caches are
    * released once at the end, so no query loses its intermediates to
    * another's release. Returns the named set-up phases in seconds. */
  def setup(threads: Int): Seq[(String, Double)] = {
    val t0 = System.nanoTime()
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val done = new Random(seed).shuffle(names.distinct).map { q =>
      Future {
        val q0 = System.nanoTime()
        try fns(q)(spark, data).write.mode("overwrite").parquet(s"$work/out/$q")
        catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] $q failed in the check pass: $e")
          failedOutputs.synchronized { failedOutputs += q }
        }
        System.err.println(f"[perfbench] check $q%s ${(System.nanoTime() - q0) / 1e9}%.3f s")
      }
    }
    try Await.result(Future.sequence(done), Duration.Inf)
    finally pool.shutdown()
    spark.catalog.clearCache()
    Seq("warmup_s" -> (System.nanoTime() - t0) / 1e9)
  }

  /** A pass: rounds of a seed-shuffled order of the distinct queries; a
    * query listed k times is in the first k rounds. Queries listed fewer
    * times come first, and every round and every pass of a run keep the
    * same order. So how many queries run between two runs of one query,
    * and with it what the engine's caches still hold of it (generated code
    * among them), does not depend on the seed: a module query's second run
    * in a pass was up to 40 % faster than its first when little ran between. */
  private def passOrder(rng: Random): Seq[String] = {
    val times = names.groupBy(identity).map { case (q, qs) => q -> qs.size }
    val order = rng.shuffle(names.distinct).sortBy(times)
    (0 until times.values.max).flatMap(r => order.filter(times(_) > r))
  }

  /** The timed window: whole passes for at least `seconds` seconds. */
  def run(probe: Probe, seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val order = passOrder(new Random(seed))
    var pass = 0
    // a traced run alternates traced and untraced passes (overhead ratio)
    while (pass == 0 || System.nanoTime() < deadline || (probe.traced && pass < 2)) {
      probe.tracing = probe.traced && pass % 2 == 0
      order.foreach { q =>
        probe.op(q, layerOf(q)) { o =>
          val df = o.phase("construct")(fns(q)(spark, data))
          o.phase("execute")(df.write.format("noop").mode("overwrite").save())
        }
        probe.settle()
      }
      pass += 1
    }
    probe.tracing = probe.traced
  }

  /** Queries that threw in the check pass: (name, passed, detail). */
  def checks: Seq[(String, Boolean, String)] =
    failedOutputs.toSeq.map(q => (s"output:$q", false, "query threw in the check pass"))
}
