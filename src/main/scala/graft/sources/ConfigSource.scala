package graft.sources

import java.io.FileInputStream
import java.nio.file.Path
import java.util.Properties
import scala.util.{Failure, Success, Try}

/** The reference's config + checkpoint dataflow (SURVEY.md §2.1 S3/S4),
  * typed and made crash-safe.
  *
  * Reference behavior re-expressed:
  *   - `initPropery` (/root/reference/src/main/java/com/qunar/dba/
  *     QHBaseCompact.java:75-100): properties file → six typed fields,
  *     hard-exit on absence. Here: [[CompactionConfig.load]] returns
  *     Try with field-level parse errors instead of System.exit.
  *   - `storeNewConfig` (QHBaseCompact.java:102-115): rewrites the SAME
  *     properties file in place to persist the `regionindex` cursor — a
  *     torn write loses the whole config. Here: [[CursorCheckpoint]] writes
  *     a separate file via temp-file + atomic rename, so the cursor can
  *     never corrupt the config and a crash mid-write leaves the previous
  *     cursor intact.
  *
  * Deliberately preserved semantics: lexicographic HH:mm:ss window strings
  * (validated for shape only — an overnight window start>end is legal and
  * admits nothing, exactly like the reference, QHBaseCompact.java:52).
  */
final case class CompactionConfig(
    tableName: String,
    familyName: Option[String], // reference iterates all families when unset
    startTime: String,          // "HH:mm:ss"
    endTime: String,            // "HH:mm:ss"
    majorFileSize: Long,        // bytes; stores above this are skipped
    directCompactSize: Long)    // bytes; stores below this compact immediately

object CompactionConfig {
  private val Hms = "([0-9]{2}):([0-9]{2}):([0-9]{2})".r

  def load(path: String): Try[CompactionConfig] = Try {
    val p = new Properties()
    val in = new FileInputStream(path)
    try p.load(in) finally in.close()
    def req(k: String): String =
      Option(p.getProperty(k)).map(_.trim).filter(_.nonEmpty)
        .getOrElse(throw new IllegalArgumentException(s"missing required config key: $k"))
    def hms(k: String): String = req(k) match {
      case s @ Hms(_, _, _) => s
      case s => throw new IllegalArgumentException(s"$k must be HH:mm:ss, got '$s'")
    }
    def long(k: String): Long = Try(req(k).toLong) match {
      case Success(v) if v >= 0 => v
      case _ => throw new IllegalArgumentException(s"$k must be a non-negative long")
    }
    CompactionConfig(
      tableName = req("tablename"),
      familyName = Option(p.getProperty("familyname")).map(_.trim).filter(_.nonEmpty),
      startTime = hms("starttime"),
      endTime = hms("endtime"),
      majorFileSize = long("majorfilesize"),
      directCompactSize = long("directcompactsize"))
  }
}

/** Durable rolling-cursor checkpoint — the reference's `regionindex`
  * (QHBaseCompact.java:29-34,102-115) as its own small driver-local file,
  * replaced atomically by [[SnapshotStore.point]]. Used by batch
  * orchestration; Structured Streaming paths use the engine
  * checkpointLocation instead (SURVEY.md §2.10).
  */
final class CursorCheckpoint(path: String) {
  private val target: Path = SnapshotStore.local(path)

  /** The stored cursor, 0 before the first write. A file that does not
    * hold an integer throws, naming the path and its content.
    */
  def read(): Int = SnapshotStore.pointed(target).fold(0)(v => v.toIntOption.getOrElse(
    throw new IllegalStateException(s"$target: cursor checkpoint holds '$v', not an integer")))

  def write(cursor: Int): Unit = SnapshotStore.point(target, cursor.toString)

  /** Advance with wrap-around — the reference's `if (i >= size) i = 0`
    * (QHBaseCompact.java:140-143).
    */
  def advance(total: Int): Int = {
    val next = if (total <= 0) 0 else (read() + 1) % total
    write(next)
    next
  }
}
