package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** The one commit protocol for every table graft persists: like an HBase
  * major compaction (SURVEY.md §1: a store ≙ a parquet directory), a new
  * version is written in full, then swapped in, then the superseded files
  * are dropped. Layout: `<warehouse dir>/graft-snapshots/<family>/<version>`.
  * A version directory exists only once complete, which every JVM sharing
  * the warehouse reads as the commit record. A family keeps one version
  * (K = 1, as [[Memo.artifact]] keeps one pin), so writers of one family
  * with distinct versions must not run concurrently.
  */
object SnapshotStore {

  /** `<warehouse dir>/graft-snapshots`. The session qualifies the warehouse
    * as a URI; one outside the driver's local filesystem throws here.
    */
  def root(s: SparkSession): Path =
    Paths.get(new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))).resolve("graft-snapshots")

  /** `kind` plus a hash of `table`'s source path under `sfDir`, as
    * [[Memo.family]] spells it without a context: a SQL identifier.
    */
  def family(kind: String, sfDir: String, table: String): String = {
    val source = Memo.family(sfDir, table).source
    val hash = java.security.MessageDigest.getInstance("SHA-256").digest(source.getBytes("UTF-8"))
    s"${kind}_${hash.take(8).map("%02x".format(_)).mkString}"
  }

  /** The committed directory of `version` in `family`. Unless some JVM
    * committed it already, `write` fills a fresh `.tmp-<version>-<uuid>`
    * path and `Files.move(ATOMIC_MOVE)` commits it; a writer that loses the
    * move deletes its files and returns the winner's. (A Hadoop rename
    * onto an existing directory would nest the loser inside it, where
    * Spark's recursive listing reads it.) `publish` runs on the
    * committed directory; then every other entry of the family is deleted,
    * except this version's tmp directories, which may be live writers'.
    */
  def commit(s: SparkSession, family: String, version: String,
      publish: String => Unit = _ => ())(write: String => Unit): String = {
    val dir = root(s).resolve(family)
    val name = version.replaceAll("[^A-Za-z0-9_]", "_")
    val target = dir.resolve(name)
    if (!Files.isDirectory(target)) {
      val tmp = Files.createDirectories(dir).resolve(s".tmp-$name-${java.util.UUID.randomUUID()}")
      try {
        write(tmp.toString)
        try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.io.IOException if Files.isDirectory(target) => () }
      } finally FileUtils.deleteQuietly(tmp.toFile)
    }
    publish(target.toString)
    dir.toFile.listFiles.foreach { f =>
      val n = f.getName
      if (n != name && !n.startsWith(s".tmp-$name-") && !FileUtils.deleteQuietly(f) && f.exists)
        System.err.println(s"[snapshots] WARN: superseded $f not deleted")
    }
    target.toString
  }
}
