package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (Spark startup ~10s). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // match GraftSession: registry-relayout probes rely on bucket
      // pruning, which the auto-disable rule strips from filter-only scans
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir: String = TestSession.sfDir

  /** Runs `body` and returns its result with the start events of the
    * Spark jobs it ran. Listener delivery is asynchronous, so a marked
    * sentinel job runs last: events arrive in order, and once the
    * sentinel's start is seen every earlier job's start has been too. */
  def jobsDuring[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val marker = "graft.test.sentinel"
    val seen = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (Option(s.properties).exists(_.getProperty(marker) != null)) drained.countDown()
        else seen.add(s)
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(marker, null)
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
