package graftbench

import java.nio.file.{Files, Path}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val tmp = Files.createTempDirectory("graftbench-gen")
  override def afterAll(): Unit = Files2.deleteTree(tmp)

  private val shape = StoreShape(files = 6, rowsPerFile = 50, users = 40, zipf = 1.1,
    updates = 3, rowsPerUpdate = 10)

  /** Relative path and bytes of every regular file under `dir`. */
  private def contents(dir: Path): Seq[(String, Seq[Byte])] = {
    val s = Files.walk(dir)
    try s.filter(f => Files.isRegularFile(f)).toArray.toSeq.map(_.asInstanceOf[Path])
      .map(f => dir.relativize(f).toString -> Files.readAllBytes(f).toSeq).sortBy(_._1)
    finally s.close()
  }

  test("the store generator writes byte-identical files for a seed") {
    Store.generate(shape, 7L, tmp.resolve("s1"))
    Store.generate(shape, 7L, tmp.resolve("s2"))
    Store.generate(shape, 8L, tmp.resolve("s3"))
    val a = contents(tmp.resolve("s1"))
    assert(a.size == shape.files + 1 + shape.updates)
    assert(a == contents(tmp.resolve("s2")))
    assert(a != contents(tmp.resolve("s3")))
  }

  test("update timestamps come after everything before them") {
    val (store, updates) = Store.rows(shape, 3L)
    val ts = (store.flatten +: updates).map(_.map(_.ts))
    ts.zip(ts.drop(1)).foreach { case (a, b) => assert(a.max < b.min) }
  }
}
