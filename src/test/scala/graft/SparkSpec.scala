package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared session base: one local session per suite, temp dirs cleaned up. */
abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SharedSpark.session

  /** A fresh temp dir, deleted with its contents when the JVM exits. */
  def tmpDir(prefix: String): String = SharedSpark.tmpDir(prefix)

  /** Spark jobs `body` starts on this thread (tagged by a local property,
    * so suites sharing the session do not count). */
  def jobs(body: => Any): Int = {
    val key = "graft.test.jobs"
    val tag = java.util.UUID.randomUUID().toString
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(key) == tag)) started.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setLocalProperty(key, tag)
      try body finally spark.sparkContext.setLocalProperty(key, null)
      // listener delivery is async: poll until the count is stable
      var (stable, last) = (0, -1)
      while (stable < 5) {
        Thread.sleep(200)
        if (started.get == last) stable += 1 else { stable = 0; last = started.get }
      }
      last
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SharedSpark {
  lazy val session: SparkSession = GraftSession.get(cores = 4)

  private val made = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  // one hook per JVM deletes every dir tmpDir made, contents included
  // (`deleteOnExit` would delete only the empty ones)
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    made.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))))

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    made.add(d)
    d.toString
  }
}
