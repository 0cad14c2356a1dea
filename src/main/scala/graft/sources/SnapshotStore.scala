package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** The one commit protocol for every directory graft writes: like an HBase
  * major compaction (SURVEY.md §1: a store ≙ a parquet directory), a new
  * directory is written in full, then swapped in by one rename; nothing is
  * rewritten in place. A committed directory exists only once complete,
  * which every JVM sharing the path reads as the commit record.
  *
  * Persisted tables live at `<warehouse dir>/graft-snapshots/<family>/<version>`.
  * A family keeps one version (K = 1, as [[Memo.artifact]] keeps one pin),
  * so writers of one family with distinct versions must not run
  * concurrently. Other stores (compaction output, the merge store, the
  * ingest stores) commit at their own paths with `commit(target)` or
  * [[create]] and swap their pointers with [[point]], read back by
  * [[pointed]].
  */
object SnapshotStore {

  /** `path` on the driver's local filesystem: a plain path or a `file:`
    * URI. Any other scheme throws, naming the path.
    */
  def local(path: String): Path =
    "^([A-Za-z][A-Za-z0-9+.-]*):".r.findFirstMatchIn(path).map(_.group(1)) match {
      case None => Paths.get(path)
      case Some(scheme) if scheme.equalsIgnoreCase("file") => Paths.get(new java.net.URI(path))
      case Some(_) => throw new IllegalArgumentException(s"$path: graft commits only driver-local paths")
    }

  /** `<warehouse dir>/graft-snapshots`. The session qualifies the warehouse
    * as a URI; one outside the driver's local filesystem throws here.
    */
  def root(s: SparkSession): Path =
    local(s.conf.get("spark.sql.warehouse.dir")).resolve("graft-snapshots")

  /** `kind` plus a hash of `table`'s source path under `sfDir`, as
    * [[Memo.family]] spells it without a context: a SQL identifier.
    */
  def family(kind: String, sfDir: String, table: String): String = {
    val source = Memo.family(sfDir, table).source
    val hash = java.security.MessageDigest.getInstance("SHA-256").digest(source.getBytes("UTF-8"))
    s"${kind}_${hash.take(8).map("%02x".format(_)).mkString}"
  }

  /** The committed directory `target`. Unless some writer committed it
    * already, `write` fills a fresh sibling `.tmp-<name>-<uuid>` path and
    * `Files.move(ATOMIC_MOVE)` commits it; a writer that loses the move
    * deletes its files and returns the winner's. (A Hadoop rename onto an
    * existing directory would nest the loser inside it, where Spark's
    * recursive listing reads it.) Readers of the parent directory never see
    * the tmp path: Spark's file index skips names that start with `.`.
    */
  def commit(target: Path)(write: String => Unit): Path = {
    if (!Files.isDirectory(target)) {
      val tmp = Files.createDirectories(target.toAbsolutePath.getParent)
        .resolve(s".tmp-${target.getFileName}-${java.util.UUID.randomUUID()}")
      try {
        write(tmp.toString)
        try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.io.IOException if Files.isDirectory(target) => () }
      } finally FileUtils.deleteQuietly(tmp.toFile)
    }
    target
  }

  /** `commit(target)` of a new directory at `path`: an existing `path`
    * throws, naming it, since graft never rewrites a directory in place.
    */
  def create(path: String)(write: String => Unit): Path = {
    val target = local(path)
    require(!Files.exists(target), s"$path exists: graft commits a new directory, never over one")
    commit(target)(write)
  }

  /** Atomically replaces the file `pointer` with `value`: a tmp file beside
    * it and one `ATOMIC_MOVE`, so a reader sees the old value or the new
    * one, never a torn file.
    */
  def point(pointer: Path, value: String): Unit = {
    val tmp = Files.createTempFile(pointer.toAbsolutePath.getParent, s".${pointer.getFileName}", ".tmp")
    try {
      Files.write(tmp, value.getBytes("UTF-8"))
      Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  /** The value [[point]] last stored in `pointer`, trimmed, or None before
    * the first swap.
    */
  def pointed(pointer: Path): Option[String] =
    if (Files.exists(pointer)) Some(new String(Files.readAllBytes(pointer), "UTF-8").trim) else None

  /** The committed directory of `version` in `family`, through
    * `commit(target)`. `publish` runs on the committed directory; then
    * every other entry of the family is deleted, except this version's tmp
    * directories, which may be live writers'.
    */
  def commit(s: SparkSession, family: String, version: String,
      publish: String => Unit = _ => ())(write: String => Unit): String = {
    val dir = root(s).resolve(family)
    val name = version.replaceAll("[^A-Za-z0-9_]", "_")
    val target = commit(dir.resolve(name))(write).toString
    publish(target)
    dir.toFile.listFiles.foreach { f =>
      val n = f.getName
      if (n != name && !n.startsWith(s".tmp-$name-") && !FileUtils.deleteQuietly(f) && f.exists)
        System.err.println(s"[snapshots] WARN: superseded $f not deleted")
    }
    target
  }
}
