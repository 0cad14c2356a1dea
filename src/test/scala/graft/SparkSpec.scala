package graft

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared session for all suites (one JVM under Test/fork). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = Sessions.tuned("local[4]", "4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends BeforeAndAfterAll { this: Suite =>
  lazy val spark: SparkSession = TestSession.spark

  private val tempDirs = mutable.Buffer.empty[Path]

  /** A fresh directory under the system temp dir, deleted with its contents
    * when the suite ends.
    */
  def tempDir(prefix: String): Path = tempDirs.synchronized {
    val dir = Files.createTempDirectory(prefix)
    tempDirs += dir
    dir
  }

  override def afterAll(): Unit =
    try tempDirs.synchronized(tempDirs.foreach(d => FileUtils.deleteQuietly(d.toFile)))
    finally super.afterAll()
}
