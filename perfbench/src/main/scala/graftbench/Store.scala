package graftbench

import java.nio.file.{Files, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** A row of the `events` schema; `ts` in epoch microseconds. */
final case class Event(id: Long, ts: Long, user: Long, kind: String, value: Double, props: String) {
  def key: (Long, String) = (user, kind)
}

/** Shape of the generated store: `files` files of `rowsPerFile` rows over
  * `users` Zipf(`zipf`)-skewed users, plus `updates` update files of
  * `rowsPerUpdate` rows.
  */
final case class StoreShape(files: Int, rowsPerFile: Int, users: Int, zipf: Double,
    updates: Int, rowsPerUpdate: Int)

/** Seeded generator of a versioned store in the `events` schema: many small
  * parquet files of Zipf-skewed `(user_id, event_type)` keys with several
  * versions each, plus a series of small update files for the merge.
  */
object Store {
  val Keys = Seq("user_id", "event_type")
  val Order = Seq("ts", "event_id")
  val Types = Array("click", "error", "purchase", "signup", "view")

  private val Schema = MessageTypeParser.parseMessageType(
    """message events {
      |  required int64 event_id;
      |  required int64 ts (TIMESTAMP(MICROS,true));
      |  required int64 user_id;
      |  required binary event_type (STRING);
      |  required double value;
      |  required binary props (STRING);
      |}""".stripMargin)

  private val Hour = 3600L * 1000000L
  private val Start = 1704067200L * 1000000L // 2024-01-01T00:00:00Z

  /** Zipf sampler over 1..n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def draw(r: scala.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      (if (i >= 0) i else -i - 1).min(n - 1) + 1
    }
  }

  /** The store's files and the updates, each a group of rows. Update b's
    * timestamps are later than everything before it, so arrival order and
    * timestamp order agree.
    */
  def rows(shape: StoreShape, seed: Long): (Seq[Seq[Event]], Seq[Seq[Event]]) = {
    val r = new scala.util.Random(seed)
    val zipf = new Zipf(shape.users, shape.zipf)
    var id = 0L
    def event(lo: Long, span: Long): Event = {
      id += 1
      Event(id, lo + (r.nextDouble() * span).toLong, zipf.draw(r).toLong, Types(r.nextInt(Types.length)),
        math.round(r.nextDouble() * 100000) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }
    val store = Seq.fill(shape.files)(Seq.fill(shape.rowsPerFile)(event(Start, 30 * 24 * Hour)))
    val updates = (1 to shape.updates).map { b =>
      Seq.fill(shape.rowsPerUpdate)(event(Start + (30 * 24 + b) * Hour, Hour))
    }
    (store, updates)
  }

  /** Newest version per key, in key order. */
  def lastWriteWins(rows: Seq[Event]): Seq[Event] =
    rows.groupBy(_.key).values.map(_.maxBy(e => (e.ts, e.id))).toSeq.sortBy(_.key)

  /** Writes each group as `part-NNNNN.parquet` in `dir`, with mtimes
    * increasing in group order (the order a file stream reads them in).
    */
  def write(groups: Seq[Seq[Event]], dir: Path): Unit = {
    Files.createDirectories(dir)
    val t0 = System.currentTimeMillis()
    val groupOf = new SimpleGroupFactory(Schema)
    // One Hadoop configuration for all files: each new one re-reads the
    // default resources.
    val conf = new org.apache.hadoop.conf.Configuration()
    groups.zipWithIndex.foreach { case (rows, i) =>
      val file = dir.resolve(f"part-$i%05d.parquet")
      val w = ExampleParquetWriter.builder(new LocalOutputFile(file)).withType(Schema).withConf(conf)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try rows.foreach(e => w.write(groupOf.newGroup().append("event_id", e.id).append("ts", e.ts)
        .append("user_id", e.user).append("event_type", e.kind).append("value", e.value)
        .append("props", e.props)))
      finally w.close()
      file.toFile.setLastModified(t0 + i * 1000L)
    }
  }

  /** Store files under `dir/store`, the merge's input under `dir/updates`:
    * the store's newest versions first, then the updates.
    */
  def generate(shape: StoreShape, seed: Long, dir: Path): Unit = {
    val (store, updates) = rows(shape, seed)
    write(store, dir.resolve("store"))
    write(lastWriteWins(store.flatten) +: updates, dir.resolve("updates"))
  }
}
