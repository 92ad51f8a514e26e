package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a piece of driver code submits. */
object SparkJobs {

  /** Jobs `body` starts on `spark`'s context, counted by a listener; a
    * marker job after it guarantees every earlier event has been
    * delivered.
    */
  def count(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull == "marker")
          marker.countDown()
        else jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    jobs.get
  }
}
