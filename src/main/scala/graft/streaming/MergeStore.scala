package graft.streaming

import java.io.File
import java.nio.file.{Files, Path}
import java.util.Base64
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, SortOrder,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, FileScanRDD, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.GraftRows
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.CollectionAccumulator
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}
import graft.operators.Compactor
import graft.sources.SnapshotStore

/** The layout of a [[StreamingDaemon.mergeSink]] snapshot and the merge
  * that writes the next one.
  *
  * A snapshot is P key-sorted, range-disjoint parquet files, one per shard
  * (the sorted runs [[Compactor.compact]] writes; SURVEY §1: a store's
  * regions), plus the manifest `_bounds`: the store's keys and, per shard,
  * up to 2 × [[KeptPerShard]] of its keys sampled at even positions while
  * it was written, the first of them its first key. Shard i holds the keys
  * k with first(i) ≤ k < first(i + 1), ordered ascending with nulls first,
  * so the P − 1 first keys of shards 1 … P − 1 are the bounds. The shard
  * files sort by name length, then name (Spark's `part-<task>` names). Spark
  * skips `_` names, so every reader of the directory sees only the rows.
  *
  * The first batch chooses P: [[Compactor.planFileCount]] of the batch
  * plan's size estimate and `spark.sql.files.maxPartitionBytes`, and when
  * P > 1 bounds sampled from the batch's keys. A merge then splits every
  * shard whose file has grown past `maxPartitionBytes` at its sampled keys,
  * HBase's region split: the store keeps about one shard per
  * `maxPartitionBytes`, so an upsert's tasks grow with the store. A merge
  * never deletes a key, so a bound stays the first key of its shard, and no
  * shard is ever empty.
  */
private[graft] object MergeStore {

  /** The manifest's name inside a snapshot directory. */
  val Manifest = "_bounds"

  /** Rows sampled per batch partition and shard when the first bounds are chosen. */
  private val SamplePerShard = 20

  /** A shard's manifest entry keeps between this many and twice as many of
    * its keys (all of them when it has fewer): it splits into at most that
    * many pieces at once.
    */
  private val KeptPerShard = 16

  /** Ascending, nulls first, by the fields at `ordinals` of `schema`. */
  private def ordering(schema: StructType, ordinals: Seq[Int]): InterpretedOrdering =
    new InterpretedOrdering(ordinals.map { i =>
      SortOrder(BoundReference(i, schema(i).dataType, schema(i).nullable), Ascending)
    })

  /** Routes a row (or a key) to its shard: the number of bounds at or
    * below its key.
    */
  private final class ShardPartitioner(bounds: Array[InternalRow], keyOrd: Ordering[InternalRow])
      extends Partitioner {
    def numPartitions: Int = bounds.length + 1
    def getPartition(key: Any): Int = {
      val row = key.asInstanceOf[InternalRow]
      var (lo, hi) = (0, bounds.length)
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (keyOrd.lteq(bounds(mid), row)) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** Shard i of the next snapshot: its first key (None for shard 0), the
    * stored file it merges (None for an empty store), and whether that
    * file is one of several pieces of a shard that splits, so that rows
    * outside the piece's range are skipped.
    */
  private final case class Piece(first: Option[InternalRow], file: Option[File], cut: Boolean)

  /** Merges `batch` into the snapshot `prior` (None for an empty store)
    * and writes the next snapshot into the new directory `out`: one Spark
    * job. The batch alone is partitioned by the shard bounds and sorted by
    * key; each stored shard file is read as one partition (one per piece
    * when it splits) and zipped with its batch slice, and the two sorted
    * streams merge into one file with the newest row of every key by
    * `orderCols` (ties go to the batch). The prior is never shuffled, and
    * only a splitting shard's file is read more than once.
    */
  def merge(spark: SparkSession, storeDir: String, prior: Option[Path],
      keys: Seq[String], orderCols: Seq[String], batch: DataFrame, out: String): Unit = {
    val ordered = batch.select((keys ++ batch.columns.filterNot(keys.contains)).map(col): _*)
    val schema = ordered.schema
    val keyRefs = keys.indices.map(i => BoundReference(i, schema(i).dataType, schema(i).nullable))
    val keyOrd = ordering(schema, keys.indices)
    val versionOrd = ordering(schema, orderCols.map(schema.fieldIndex))
    val maxBytes = GraftRows.sqlConf(spark).filesMaxPartitionBytes
    // Catalyst rows; an operator may reuse a row object, so a held row is copied
    val rows = ordered.queryExecution.toRdd
    val pieces = prior match {
      case Some(snap) => split(shards(storeDir, snap, keys), maxBytes)
      case None =>
        val size = ordered.queryExecution.optimizedPlan.stats.sizeInBytes.min(Long.MaxValue).toLong
        val p = Compactor.planFileCount(size, maxBytes)
        val bounds = if (p == 1) Nil else sampleBounds(rows, keyRefs, p, keyOrd)
        (None +: bounds.map(Some(_))).map(Piece(_, None, cut = false))
    }
    val bounds = pieces.drop(1).flatMap(_.first).toArray
    val cut = pieces.map(_.cut).toArray
    val shardOf = new ShardPartitioner(bounds, keyOrd)
    implicit val byKey: Ordering[InternalRow] = keyOrd
    val slices = rows.map(r => (r.copy(), null)).repartitionAndSortWithinPartitions(shardOf).map(_._1)
    val sampled = spark.sparkContext.collectionAccumulator[(Int, Array[Array[Byte]])]
    val merged = scan(spark, pieces.map(_.file), schema).zipPartitions(slices) { (stored, sorted) =>
      val i = TaskContext.getPartitionId()
      val inPiece =
        if (!cut(i)) stored
        else stored.dropWhile(r => i > 0 && keyOrd.lt(r, bounds(i - 1)))
          .takeWhile(r => i == bounds.length || keyOrd.lt(r, bounds(i)))
      sampleKeys(i, mergeSorted(inPiece, sorted, keyOrd, versionOrd), UnsafeProjection.create(keyRefs), sampled)
    }
    GraftRows.dataFrame(spark, merged, schema).write.option("maxRecordsPerFile", 0L).parquet(out)
    // Spark writes no file for an empty partition but the first; every shard
    // but the first of an empty store holds a key, so each shard has its file
    val byShard = sampled.value.asScala.toMap
    val files = dataFiles(SnapshotStore.local(out))
    if (files.size != pieces.size)
      throw new IllegalStateException(s"merge store $storeDir: the merge wrote ${files.size} data files " +
        s"for ${pieces.size} shards")
    Files.writeString(SnapshotStore.local(out).resolve(Manifest),
      writeManifest(keys, pieces.indices.map(i => byShard(i).toSeq)))
  }

  /** One shard's merge: its stored rows (key-sorted, one per key) and its
    * batch slice (key-sorted) as one key-sorted stream holding the newest
    * row of every key. A stored row is returned without a copy, so it is
    * valid until the next call.
    */
  private def mergeSorted(stored: Iterator[InternalRow], batch: Iterator[InternalRow],
      keyOrd: Ordering[InternalRow], versionOrd: Ordering[InternalRow]): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private val s = stored.buffered
      private val b = batch.buffered
      def hasNext: Boolean = s.hasNext || b.hasNext
      def next(): InternalRow =
        if (!b.hasNext || (s.hasNext && keyOrd.lt(s.head, b.head))) s.next()
        else {
          var newest = b.next()
          while (b.hasNext && keyOrd.equiv(b.head, newest)) {
            val r = b.next()
            if (versionOrd.gt(r, newest)) newest = r
          }
          if (s.hasNext && keyOrd.equiv(s.head, newest)) {
            val kept = s.next()
            if (versionOrd.gt(kept, newest)) kept else newest
          } else newest
        }
    }

  /** Shard `part`'s rows, unchanged. Once they run out, the keys at every
    * step-th position go to `out` as `UnsafeRow` bytes, the first key
    * among them: the step starts at 1 and doubles, dropping every other
    * kept key, whenever 2 × [[KeptPerShard]] are kept.
    */
  private def sampleKeys(part: Int, rows: Iterator[InternalRow], keyOf: UnsafeProjection,
      out: CollectionAccumulator[(Int, Array[Array[Byte]])]): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private var kept = ArrayBuffer.empty[Array[Byte]]
      private var seen = 0L
      private var step = 1L
      private var done = false
      def hasNext: Boolean = rows.hasNext || {
        if (!done) { done = true; out.add((part, kept.toArray)) }
        false
      }
      def next(): InternalRow = {
        val r = rows.next()
        if (seen % step == 0) {
          kept += keyOf(r).copy().getBytes
          if (kept.size == 2 * KeptPerShard) {
            kept = kept.grouped(2).map(_.head).to(ArrayBuffer)
            step *= 2
          }
        }
        seen += 1
        r
      }
    }

  /** Partition i reads `files(i)` whole; a piece of a splitting shard shares its file. */
  private def scan(spark: SparkSession, files: Seq[Option[File]], schema: StructType): RDD[InternalRow] = {
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema, new StructType(),
      schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), GraftRows.hadoopConf(spark))
    val partitions = files.zipWithIndex.map { case (file, i) =>
      FilePartition(i, file.toArray.map { f =>
        PartitionedFile(InternalRow.empty, SparkPath.fromPath(new HadoopPath(f.toURI)), 0L, f.length,
          Array.empty[String], f.lastModified, f.length)
      })
    }
    new FileScanRDD(spark, read, partitions, schema, Nil, Map.empty,
      new FileSourceOptions(CaseInsensitiveMap(Map.empty[String, String])))
  }

  /** P − 1 bounds from a reservoir sample of the batch's keys: distinct
    * sampled keys at even ranks, never the smallest, so every shard holds
    * at least one key. Fewer distinct sampled keys than `p` give fewer
    * shards.
    */
  private def sampleBounds(rows: RDD[InternalRow], keyRefs: Seq[BoundReference], p: Int,
      keyOrd: Ordering[InternalRow]): Seq[InternalRow] = {
    val n = SamplePerShard * p
    val sample = rows.mapPartitionsWithIndex { (part, it) =>
      val key = UnsafeProjection.create(keyRefs)
      val rnd = new scala.util.Random(part)
      val kept = ArrayBuffer.empty[InternalRow]
      var seen = 0L
      it.foreach { r =>
        seen += 1
        if (kept.size < n) kept += key(r).copy()
        else {
          val j = (rnd.nextDouble() * seen).toLong
          if (j < n) kept(j.toInt) = key(r).copy()
        }
      }
      kept.iterator
    }.collect().sorted(keyOrd)
    val distinct = sample.headOption.toSeq ++
      sample.sliding(2).collect { case Array(a, b) if keyOrd.lt(a, b) => b }
    val shards = math.min(p, distinct.size)
    (1 until shards).map(i => distinct(i * distinct.size / shards))
  }

  /** The pieces of the next snapshot: a stored shard whose file is larger
    * than `maxBytes` splits into ⌈length / maxBytes⌉ pieces (at most as
    * many as its sampled keys) at sampled keys of even rank; every other
    * shard stays one piece.
    */
  private def split(stored: Seq[(File, Seq[InternalRow])], maxBytes: Long): Seq[Piece] =
    stored.zipWithIndex.flatMap { case ((file, sampled), i) =>
      val k = math.min(Compactor.planFileCount(file.length, maxBytes), sampled.size).max(1)
      (0 until k).map { j =>
        Piece(if (i == 0 && j == 0) None else Some(sampled(j * sampled.size / k)), Some(file), cut = k > 1)
      }
    }

  /** The data files of snapshot directory `snap` in shard order. */
  private[graft] def dataFiles(snap: Path): Seq[File] =
    snap.toFile.listFiles().toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .sortBy(f => (f.getName.length, f.getName))

  /** The shard files of snapshot `snap` in shard order, each with its
    * sampled keys, from its manifest. A snapshot without one, or whose
    * files or keys do not match it, throws, naming the store: it is never
    * merged as if it were sorted.
    */
  private def shards(storeDir: String, snap: Path, keys: Seq[String]): Seq[(File, Seq[InternalRow])] = {
    val manifest = snap.resolve(Manifest)
    if (!Files.exists(manifest))
      throw new IllegalStateException(s"merge store $storeDir: snapshot ${snap.getFileName} has no " +
        s"$Manifest manifest, so its files are not known to be key-sorted shards; it cannot be merged")
    val (stored, sampled) = readManifest(Files.readString(manifest))
    if (stored != keys)
      throw new IllegalStateException(s"merge store $storeDir: snapshot ${snap.getFileName} is " +
        s"sharded by ${stored.mkString(", ")}, not by the merge keys ${keys.mkString(", ")}")
    val files = dataFiles(snap)
    if (files.size != sampled.size)
      throw new IllegalStateException(s"merge store $storeDir: snapshot ${snap.getFileName} holds " +
        s"${files.size} data files, but its $Manifest names ${sampled.size} shards")
    files.zip(sampled)
  }

  /** The bounds of the snapshot directory `snap` as rows of `keySchema`. */
  private[graft] def bounds(snap: Path, keySchema: StructType): Seq[Row] =
    readManifest(Files.readString(snap.resolve(Manifest)))._2.drop(1).map(_.head)
      .map(b => CatalystTypeConverters.convertToScala(b, keySchema).asInstanceOf[Row])

  /** `{"keys": [...], "shards": [[...], ...]}`, each shard's sampled keys
    * as base64 of their `UnsafeRow` bytes, so a key of any type Spark
    * orders is stored as it is compared.
    */
  private def writeManifest(keys: Seq[String], shards: Seq[Seq[Array[Byte]]]): String =
    compact(render(JObject(
      "keys" -> JArray(keys.map(JString(_)).toList),
      "shards" -> JArray(shards.map(s =>
        JArray(s.map(b => JString(Base64.getEncoder.encodeToString(b))).toList)).toList))))

  private def readManifest(json: String): (Seq[String], Seq[Seq[InternalRow]]) = {
    val m = parse(json)
    def strings(v: JValue): Seq[String] = v match {
      case JArray(vs) => vs.map { case JString(s) => s; case s => throw new IllegalStateException(s"$Manifest: $s") }
      case _ => throw new IllegalStateException(s"$Manifest: $v is not an array")
    }
    val keys = strings(m \ "keys")
    val shards = (m \ "shards") match {
      case JArray(ss) => ss.map(s => strings(s).map { b64 =>
        val bytes = Base64.getDecoder.decode(b64)
        val row = new UnsafeRow(keys.size)
        row.pointTo(bytes, bytes.length)
        row: InternalRow
      })
      case v => throw new IllegalStateException(s"$Manifest: $v is not an array")
    }
    (keys, shards)
  }
}
