package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SnapshotStore

/** The commit protocol of [[graft.sources.SnapshotStore]]: a version is
  * written once and reused, a losing writer's files never join the
  * committed directory, and a commit retires what it supersedes — also
  * for the persisted signature table of q_dedup_incremental.
  */
class SnapshotStoreSpec extends AnyFunSuite with SparkSpec {

  private def entries(dir: Path): Set[String] = {
    val it = Files.list(dir)
    try it.iterator().asScala.map(_.getFileName.toString).toSet finally it.close()
  }

  /** Every file under `dir`, relative to it. */
  private def tree(dir: Path): Set[String] = {
    val it = Files.walk(dir)
    try it.iterator().asScala.filter(Files.isRegularFile(_)).map(dir.relativize(_).toString).toSet
    finally it.close()
  }

  private def withFamily(body: (String, Path) => Unit): Unit = {
    val family = s"spec_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val dir = SnapshotStore.root(spark).resolve(family)
    try body(family, dir) finally FileUtils.deleteDirectory(dir.toFile)
  }

  private def writeMark(dir: String, name: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, name), name)
  }

  test("a committed version is reused without calling the writer") {
    withFamily { (family, dir) =>
      var calls = 0
      val first = SnapshotStore.commit(spark, family, "v1") { tmp => calls += 1; writeMark(tmp, "a") }
      val again = SnapshotStore.commit(spark, family, "v1") { tmp => calls += 1; writeMark(tmp, "b") }
      assert(first == dir.resolve("v1").toString && again == first)
      assert(calls == 1)
      assert(tree(dir) == Set("v1/a"))
    }
  }

  test("a losing writer's files never enter the committed directory") {
    withFamily { (family, dir) =>
      val target = dir.resolve("v1")
      val committed = SnapshotStore.commit(spark, family, "v1") { tmp =>
        writeMark(tmp, "loser.parquet")
        // a concurrent writer commits the same version while this one writes
        writeMark(target.toString, "winner.parquet")
      }
      assert(committed == target.toString)
      // a rename onto the existing directory would nest the loser's tmp
      // inside it, and a recursive listing would read its rows
      assert(tree(dir) == Set("v1/winner.parquet"))
    }
  }

  test("a commit retires superseded versions but keeps a live writer's files of its own version") {
    withFamily { (family, dir) =>
      SnapshotStore.commit(spark, family, "v1")(writeMark(_, "a"))
      val live = dir.resolve(".tmp-v2-live")
      writeMark(live.toString, "partial")
      val failed = intercept[IllegalStateException](
        SnapshotStore.commit(spark, family, "v2") { tmp => writeMark(tmp, "b"); throw new IllegalStateException("boom") })
      assert(failed.getMessage == "boom")
      assert(entries(dir) == Set("v1", ".tmp-v2-live"), "a failed write deletes its tmp and retires nothing")
      SnapshotStore.commit(spark, family, "v2")(writeMark(_, "b"))
      assert(tree(dir) == Set("v2/b", ".tmp-v2-live/partial"))
    }
  }

  test("a pointer swap replaces the whole value and leaves no tmp file") {
    val dir = tempDir("pointer")
    val ptr = dir.resolve("LATEST")
    SnapshotStore.point(ptr, "snap-10")
    SnapshotStore.point(ptr, "snap-9")
    assert(Files.readString(ptr) == "snap-9")
    assert(entries(dir) == Set("LATEST"))
  }

  test("only driver-local paths commit: another scheme throws, naming the path") {
    assert(SnapshotStore.local("file:///tmp/x") == Paths.get("/tmp/x"))
    assert(SnapshotStore.local("/tmp/x") == Paths.get("/tmp/x"))
    val e = intercept[IllegalArgumentException](SnapshotStore.local("hdfs://nn/store"))
    assert(e.getMessage.contains("hdfs://nn/store"))
  }

  test("only SnapshotStore commits a directory: no overwrite or rename elsewhere in operators, sources, streaming") {
    // One commit protocol: every writer of these packages goes through
    // SnapshotStore.commit / point. Scans the sources for the spellings of
    // an in-place overwrite and of a hand-rolled rename.
    val roots = Seq("operators", "sources", "streaming").map(Paths.get("src/main/scala/graft", _))
    roots.foreach(r => assert(Files.isDirectory(r), s"run from the repository root, not ${r.toAbsolutePath}"))
    val banned = """SaveMode|mode\("overwrite"\)|Files\.move|ATOMIC_MOVE""".r
    val hits = roots.flatMap { r =>
      val walk = Files.walk(r)
      try walk.iterator().asScala
        .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != "SnapshotStore.scala")
        .flatMap(f => Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if banned.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
        }).toList
      finally walk.close()
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("rotating a documents source retires the superseded signature table and its directory") {
    val sf = tempDir("sigs-rotate")
    val docs = sf.resolve("documents.parquet")
    val family = SnapshotStore.family("graft_dedup_sigs", sf.toString, "documents")
    val dir = SnapshotStore.root(spark).resolve(family)
    // this source's tables, whether named per family or per version
    def sigTables() = spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(family)).toSet
    try {
      val results = (1 to 3).map { i =>
        Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"), docs,
          StandardCopyOption.REPLACE_EXISTING)
        docs.toFile.setLastModified(1700000000000L + i * 1000L) // a new fingerprint
        val rows = SparkEntry.queries("q_dedup_incremental")(spark, sf.toString).collect().toSeq
        val versions = entries(dir)
        assert(versions.size == 1 && !versions.head.startsWith("."), versions)
        assert(sigTables() == Set(family))
        rows
      }
      assert(results.forall(_ == results.head) && results.head.nonEmpty)
    } finally {
      sigTables().foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      FileUtils.deleteDirectory(dir.toFile)
      FileUtils.deleteDirectory(sf.toFile)
    }
  }
}
