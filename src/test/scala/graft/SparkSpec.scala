package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftSparkShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for the whole test run (one JVM, forked by sbt). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      // see Verify.scala: Spark 4.1 union-partitioning claim crashes SMJ zips
      .config("spark.sql.unionOutputPartitioning", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Smallest driver-shipped scale factor — used by tests that need the
    * real tables (read-only). */
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def sfDir: String = TestSession.sfDir

  /** Runs `body` and returns its value with the local properties of every
    * Spark job started meanwhile, in start order. Suites run one at a
    * time, so those are the jobs `body` caused. */
  def jobsDuring[A](body: => A): (A, Seq[Properties]) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[Properties]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(e.properties)
    }
    GraftSparkShim.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftSparkShim.drainListenerBus(sc)
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
