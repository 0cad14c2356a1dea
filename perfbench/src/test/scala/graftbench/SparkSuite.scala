package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One local session per suite and a scratch directory removed afterwards. */
abstract class SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.Sessions.tuned("local[2]", "2")
  lazy val tmp: Path = Files.createTempDirectory("graftbench-test")

  override def afterAll(): Unit = {
    spark.stop()
    Files2.deleteTree(tmp)
  }
}
