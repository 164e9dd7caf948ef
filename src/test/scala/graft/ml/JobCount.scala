package graft.ml

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts from the calling thread.
  * The jobs are tagged through a local property. Listener events arrive
  * asynchronously but in order, so a marker job run afterwards shows that
  * every earlier job start has been delivered. */
object JobCount {
  private val Key = "graft.test.jobCount"

  def of(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val endTag = tag + "/end"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Key))) match {
          case Some(`tag`) => jobs.incrementAndGet()
          case Some(`endTag`) => drained.countDown()
          case _ =>
        }
    }
    val outer = sc.getLocalProperty(Key)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Key, tag)
      body
      sc.setLocalProperty(Key, endTag)
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "job events not delivered")
      jobs.get
    } finally {
      sc.setLocalProperty(Key, outer)
      sc.removeSparkListener(listener)
    }
  }
}
