package graft.operators

import graft.SparkSpec

/** [[Serving.inParallel]]'s pooled arm must launch its jobs under the
  * CALLER's job group: Spark copies a thread's local properties only when
  * the thread is created, so a reused pool thread would otherwise keep the
  * group of whichever operation created it — misattributing its jobs and
  * escaping that group's cancellation. */
class InParallelSpec extends SparkSpec {

  test("both arms' jobs carry the caller's job group across successive calls") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val sentinelSeen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val group = p.map(_.getProperty("spark.jobGroup.id")).orNull
        val arm = p.map(_.getProperty("graft.test.arm")).orNull
        if (group == "sentinel") sentinelSeen.set(true)
        else if (group != null && group.startsWith("op-")) seen.add(group -> arm)
      }
    }
    sc.addSparkListener(listener)
    try {
      for (group <- Seq("op-A", "op-B", "op-C")) {
        sc.setJobGroup(group, s"inParallel under $group")
        try Serving.inParallel(
          { sc.setLocalProperty("graft.test.arm", "a")
            spark.range(0, 100, 1, 2).count() },
          { sc.setLocalProperty("graft.test.arm", "b")
            spark.range(0, 100, 1, 2).count() })
        finally {
          sc.setLocalProperty("graft.test.arm", null)
          sc.clearJobGroup()
        }
      }
      // listener events arrive in order: once the sentinel is seen, every
      // job of the three calls has been recorded
      sc.setJobGroup("sentinel", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sentinelSeen.get() && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinelSeen.get(), "listener bus did not deliver the sentinel job")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val byGroup = seen.asScala.toSeq.groupBy(_._1).map { case (g, js) =>
      g -> js.map(_._2).toSet }
    // every call's two arms ran under ITS group — the pooled arm included
    assert(byGroup == Map("op-A" -> Set("a", "b"), "op-B" -> Set("a", "b"),
      "op-C" -> Set("a", "b")), byGroup.toString)
  }

  test("the pooled arm's local-property changes do not leak into the pool thread") {
    val sc = spark.sparkContext
    sc.setJobGroup("op-leak", "leak check")
    try Serving.inParallel((), sc.setLocalProperty("graft.test.leak", "x"))
    finally sc.clearJobGroup()
    // a later pooled arm under no group sees neither the group nor the
    // property the previous arm set
    val (_, props) = Serving.inParallel((),
      (sc.getLocalProperty("spark.jobGroup.id"),
        sc.getLocalProperty("graft.test.leak")))
    assert(props == ((null, null)), props.toString)
  }
}
