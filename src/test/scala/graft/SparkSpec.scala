package graft

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
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
    val (out, sites) = jobSitesRunBy(f)
    (out, sites.size)
  }

  /** `f`'s result and the long call site of each Spark job started while
    * it runs (its last stage's details: the Spark method that started the
    * job, then the caller's frames).
    */
  def jobSitesRunBy[T](f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val sentinel = "spark-spec-sentinel"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add((
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""),
        e.stageInfos.lastOption.map(_.details).getOrElse("")))
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      // The bus delivers in order: once the sentinel job is seen, every
      // job `f` started has been counted.
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      def seen = jobs.iterator().asScala.exists(_._1 == sentinel)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen, "sentinel job start not delivered within 30 s")
      (out, jobs.iterator().asScala.filter(_._1 != sentinel).map(_._2).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit =
    try tempDirs.synchronized(tempDirs.foreach(d => FileUtils.deleteQuietly(d.toFile)))
    finally super.afterAll()
}
