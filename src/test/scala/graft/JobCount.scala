package graft

import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of test code starts: jobs are tagged
  * with a fresh job group, and the listener bus is drained before the
  * count is read. */
object JobCount {
  def started[T](spark: SparkSession)(body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobsStarted")
      val out = try body finally sc.clearJobGroup()
      org.apache.spark.GraftTestBus.drain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
