package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per JVM, lazily created). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` and counts the Spark jobs it started: jobs are tagged with
    * a job group unique to this call (a thread-local property, inherited by
    * threads `body` spawns), so jobs of suites running concurrently on the
    * shared session are not counted.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = "jobs-during-" + java.util.UUID.randomUUID
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsDuring", interruptOnCancel = false)
    try {
      val out = body
      // job events reach listeners asynchronously: drain before reading
      assert(org.apache.spark.GraftBenchBridge.drainListenerBus(sc, 30000L),
        "listener bus did not drain")
      (out, started.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** ShuffleExchangeExec nodes in a physical plan, descending through AQE
    * wrappers (an executed adaptive plan hides its exchanges in query
    * stages).
    */
  def shuffleExchanges(p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
    case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
      1 + shuffleExchanges(s.child)
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      shuffleExchanges(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => shuffleExchanges(q.plan)
    case other => other.children.map(shuffleExchanges).sum
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
