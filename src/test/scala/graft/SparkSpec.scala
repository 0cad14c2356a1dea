package graft

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** `f`'s result and the Spark jobs started while it runs, counted by a
    * listener.
    */
  def jobsRunBy[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val sentinel = "spark-spec-sentinel"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      // The bus delivers in order: once the sentinel job is seen, every
      // job `f` started has been counted.
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.contains(sentinel), "sentinel job start not delivered within 30 s")
      (out, jobs.size - 1)
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit =
    try tempDirs.synchronized(tempDirs.foreach(d => FileUtils.deleteQuietly(d.toFile)))
    finally super.afterAll()
}
