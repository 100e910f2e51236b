package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM — Test/fork := true). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark
  lazy val sqlImplicits = spark.implicits

  /** Temp dir removed (recursively) when the test JVM exits — suites write
    * parquet trees into these, so a bare createTempDirectory would leak
    * them into /tmp across runs. */
  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    SparkSpec.cleanupOnExit(d)
    d.toString
  }

  /** The number of Spark jobs `body` submits, counted by a listener that
    * sees only the events posted while `body` runs. */
  def jobsIn(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.ListenerBusDrain(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }
}

object SparkSpec {
  private lazy val hook: java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path] = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      q.forEach { p =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        } catch { case _: Throwable => () }
      }))
    q
  }
  private def cleanupOnExit(p: java.nio.file.Path): Unit = hook.add(p)
}
