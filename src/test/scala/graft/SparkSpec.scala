package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared session base: one local session per suite, temp dirs cleaned up. */
abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SharedSpark.session

  /** A fresh temp dir, deleted with its contents when the JVM exits. */
  def tmpDir(prefix: String): String = SharedSpark.tmpDir(prefix)
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
