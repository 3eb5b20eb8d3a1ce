package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs launched by a block of code, seen through the public
  * listener bus.
  */
object SparkJobs {

  /** Runs `body` under a fresh job group and returns its result with the
    * job group of every Spark job started while it ran, including the jobs
    * Spark starts from its own threads under other groups (broadcasts).
    * Listener events arrive asynchronously and in order, so a marker job
    * run after `body` fences them: once its start is seen, every job of
    * `body` has been.
    */
  def counted[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"spark-jobs-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val groups = new ConcurrentLinkedQueue[String]
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`marker`) => fenced.countDown()
          case g => groups.add(g.getOrElse(""))
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      val result = try body finally {
        sc.setJobGroup(marker, marker, interruptOnCancel = false)
        sc.parallelize(Seq(1), 1).count()
        sc.clearJobGroup()
      }
      assert(fenced.await(30, TimeUnit.SECONDS), "marker job never seen")
      (result, groups.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
