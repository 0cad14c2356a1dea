package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{CompactionConfig, CursorCheckpoint}

class ConfigSourceSpec extends AnyFunSuite with SparkSpec {

  private lazy val cfgDir = tempDir("cfg")

  private def writeProps(body: String): String = {
    val f = Files.createTempFile(cfgDir, "cfg", ".properties")
    Files.write(f, body.getBytes("UTF-8"))
    f.toString
  }

  private val valid =
    """tablename=qmq_backup
      |familyname=
      |starttime=08:30:00
      |endtime=12:30:00
      |majorfilesize=530000000000
      |directcompactsize=100000000000
      |""".stripMargin

  test("loads and types a reference-shaped properties file") {
    val c = CompactionConfig.load(writeProps(valid)).get
    assert(c.tableName == "qmq_backup")
    assert(c.familyName.isEmpty)
    assert(c.startTime == "08:30:00" && c.endTime == "12:30:00")
    assert(c.majorFileSize == 530000000000L)
    assert(c.directCompactSize == 100000000000L)
  }

  test("missing key fails with the key name, not a process exit") {
    val e = CompactionConfig.load(writeProps("tablename=t\n")).failed.get
    assert(e.getMessage.contains("starttime"))
  }

  test("malformed time window is rejected; overnight window is legal (reference semantics)") {
    assert(CompactionConfig.load(writeProps(valid.replace("08:30:00", "8:30"))).isFailure)
    val overnight = CompactionConfig.load(writeProps(valid.replace("08:30:00", "23:00:00"))).get
    assert(overnight.startTime > overnight.endTime) // admits nothing, like the reference
  }

  test("cursor checkpoint: read-empty=0, atomic write, wrap-around advance") {
    val dir = tempDir("ckp")
    val ckp = new CursorCheckpoint(s"$dir/cursor")
    assert(ckp.read() == 0)
    ckp.write(99)
    assert(ckp.read() == 99)
    assert(ckp.advance(total = 100) == 0) // 99 -> wrap to 0
    assert(ckp.advance(total = 100) == 1)
    assert(ckp.read() == 1)
  }

  test("a malformed cursor checkpoint throws naming its path and content") {
    val path = tempDir("ckp-bad").resolve("cursor")
    Files.write(path, "12x".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](new CursorCheckpoint(path.toString).read())
    assert(e.getMessage.contains(path.toString) && e.getMessage.contains("12x"), e.getMessage)
  }

  test("the only spark.graft.* session key the library reads is spark.graft.checkpoint.mode") {
    // One spelling per decision: a new option needs a workload on each side
    // of the choice it selects. Scans the sources for key literals.
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root, not ${root.toAbsolutePath}")
    val key = "\"(spark\\.graft\\.[A-Za-z.]+)".r
    val walk = Files.walk(root)
    val keys =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap(f => key.findAllMatchIn(Files.readString(f)).map(_.group(1))).toSet
      finally walk.close()
    assert(keys == Set("spark.graft.checkpoint.mode"), keys)
  }
}
