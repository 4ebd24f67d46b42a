package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs one block starts, seen through a listener. The block
  * runs under its own job group; a marker job in a second group runs
  * after it, and the listener bus delivers events in post order, so
  * once the marker is seen every job of the block has been seen too. */
object JobProbe {
  def jobsOf(spark: SparkSession)(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val group = s"probe-${UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(g) if g == group => seen.add(e)
          case Some(g) if g == s"$group-flush" => flushed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "probed block")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-flush", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(flushed.await(60, TimeUnit.SECONDS), "listener bus never drained")
      seen.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  /** A job that writes staged table files: `runStage`'s `runJob`, the
    * one job every staging call starts once its plan is built. */
  def isStaging(j: SparkListenerJobStart): Boolean =
    j.stageInfos.exists(_.name.startsWith("runJob at ManifestTable.scala"))
}
