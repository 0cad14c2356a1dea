package graft

import java.nio.file.{Files, Path, Paths}
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Compaction
import graft.streaming.{MergeStore, StreamingDaemon}

/** The merge store's one-job merge ([[MergeStore.merge]] behind
  * [[StreamingDaemon.applyMergeBatch]]) against two references over random
  * stores and batch sequences, with its layout checked after every batch.
  */
class MergeStoreSpec extends AnyFunSuite with SparkSpec {

  private val keys = Seq("user_id", "event_type")
  private val ord = Seq("ts", "event_id")
  private val schema = StructType.fromDDL(
    "user_id BIGINT, event_type STRING, ts TIMESTAMP, event_id BIGINT, value DOUBLE")
  private val keySchema = StructType(schema.take(2))
  private type Key = (Option[Long], Option[String])
  // ascending, nulls first: the order the shards are sorted and split in
  private val keyOrder: Ordering[Key] = Ordering.Tuple2[Option[Long], Option[String]]

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def sorted(df: DataFrame): Seq[String] =
    df.select(schema.fieldNames.toSeq.map(col): _*).collect().map(_.toString).toSeq.sorted

  /** The upsert `applyMergeBatch` ran before the shard merge, kept as a
    * reference: prior rows of keys the batch does not touch pass through,
    * the rest meet the batch in one LWW. Its equi-joins never match a null
    * key component.
    */
  private def threeJoin(prior: DataFrame, batch: DataFrame): DataFrame = {
    val touched = batch.select(keys.map(col): _*)
    prior.join(touched, keys, "left_anti")
      .unionByName(Compaction.lastWriteWins(
        prior.join(touched, keys, "left_semi").unionByName(batch), keys, ord))
  }

  /** A random batch of `n` rows over users `users`, 4 event types, with
    * timestamps in `[t0, t0 + 1000)` s and fresh event ids from `ids`.
    */
  private def batch(rnd: Random, n: Int, users: Range, t0: Long, nulls: Boolean, ids: Iterator[Long]): Seq[Row] =
    Seq.fill(n) {
      val user = if (nulls && rnd.nextInt(8) == 0) null else java.lang.Long.valueOf(users(rnd.nextInt(users.size)).toLong)
      val kind = if (nulls && rnd.nextInt(8) == 0) null else Seq("a", "b", "c", "d")(rnd.nextInt(4))
      Row(user, kind, new java.sql.Timestamp((t0 + rnd.nextInt(1000)) * 1000L), ids.next(), rnd.nextDouble())
    }

  /** The snapshot LATEST names and the keys of each of its data files, in
    * shard order and file order.
    */
  private def shardKeys[K](store: String, keyCols: Seq[String], key: Row => K): (Path, Seq[Seq[K]]) = {
    val snap = Paths.get(store, Files.readString(Paths.get(store, "LATEST")).trim)
    (snap, MergeStore.dataFiles(snap).map(f =>
      spark.read.parquet(f.toString).select(keyCols.map(col): _*).collect().toSeq.map(key)))
  }

  /** The store's layout after a batch: exactly P files (P from the
    * manifest), each sorted with unique keys, ranges disjoint and in shard
    * order, and every bound the first key of its shard. Returns P.
    */
  private def checkLayout[K](store: String, keySchema: StructType, key: Row => K)(implicit ord: Ordering[K]): Int = {
    val (snap, perFile) = shardKeys(store, keySchema.fieldNames.toSeq, key)
    val bounds = MergeStore.bounds(snap, keySchema).map(key)
    assert(perFile.size == bounds.size + 1, s"$snap: ${perFile.size} files, ${bounds.size} bounds")
    for (ks <- perFile) assert(ks.zip(ks.drop(1)).forall { case (a, b) => ord.lt(a, b) }, s"$snap: unsorted $ks")
    val ranges = perFile.filter(_.nonEmpty).map(ks => (ks.head, ks.last))
    assert(ranges.size == perFile.size || perFile.size == 1, s"$snap: an empty shard")
    assert(ranges.zip(ranges.drop(1)).forall { case ((_, hi), (lo, _)) => ord.lt(hi, lo) },
      s"$snap: overlapping shards $ranges")
    assert(perFile.drop(1).map(_.head).corresponds(bounds)(ord.equiv),
      s"$snap: bounds $bounds are not the shards' first keys")
    perFile.size
  }

  private def key(r: Row): Key = (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.getString(1)))

  private def checkLayout(store: String): Int = checkLayout(store, keySchema, key)(keyOrder)

  /** Random cases: a base batch, then batches with in-batch duplicates,
    * older versions of stored keys (LWW by order, not arrival), keys below
    * and above every stored key, and an empty one; half the cases add
    * null key components.
    */
  private def property(seed: Int, cases: Int): Seq[(Int, Int)] = {
    val rnd = new Random(seed)
    (0 until cases).map { c =>
      val nulls = c % 2 == 1
      val ids = Iterator.from(1).map(_.toLong)
      val store = tempDir(s"mergeprop-$seed-$c").toString
      val batches = Seq(
        batch(rnd, 150, 0 until 30, 10000, nulls, ids),
        batch(rnd, 60, 0 until 30, 20000, nulls, ids) ++ batch(rnd, 20, 10 until 12, 20000, nulls, ids),
        batch(rnd, 40, 0 until 30, 0, nulls, ids),
        batch(rnd, 30, -10 until 0, 30000, nulls, ids) ++ batch(rnd, 30, 40 until 60, 0, nulls, ids),
        Nil,
        batch(rnd, 80, -12 until 62, 15000, nulls, ids))
      var applied = Seq.empty[Row]
      var reference = Seq.empty[Row]
      var (first, shards) = (0, 0)
      for ((rows, i) <- batches.zipWithIndex) {
        assert(StreamingDaemon.applyMergeBatch(spark, store, keys, ord, frame(rows), i.toLong))
        applied ++= rows
        val latest = sorted(StreamingSpec.readMergeStore(spark, store, frame(Nil), keys))
        assert(latest == sorted(Compaction.lastWriteWinsWindow(frame(applied), keys, ord)), s"case $c batch $i")
        if (!nulls) {
          reference = threeJoin(frame(reference), frame(rows)).collect().toSeq
          assert(latest == sorted(frame(reference)), s"case $c batch $i: three-join reference")
        }
        val p = checkLayout(store)
        assert(p >= shards, s"case $c batch $i: P fell from $shards to $p, but shards only split")
        if (i == 0) first = p
        shards = p
      }
      (first, shards)
    }
  }

  /** `f` with `spark.sql.files.maxPartitionBytes` at `bytes`. */
  private def withMaxPartitionBytes[T](bytes: Long)(f: => T): T = {
    val conf = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(conf)
    spark.conf.set(conf, bytes.toString)
    try f finally before.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }

  test("property: one shard, LATEST equals the three-join upsert and the window LWW after every batch") {
    assert(property(seed = 11, cases = 4).forall(_ == ((1, 1))))
  }

  test("property: several shards (small maxPartitionBytes), the same answers, and P sorted range-disjoint files with their bounds") {
    val shards = withMaxPartitionBytes(2048)(property(seed = 12, cases = 4))
    info(s"P at the first and the last batch of each case: ${shards.mkString(", ")}")
    assert(shards.forall(_._1 > 1), shards)
  }

  test("a shard that outgrows maxPartitionBytes splits at its sampled keys, in the upsert's one job") {
    val store = tempDir("mergesplit").toString
    val ids = Iterator.from(1).map(_.toLong)
    val rnd = new Random(13)
    val base = batch(rnd, 400, 0 until 200, 10000, nulls = false, ids)
    val delta = batch(rnd, 100, 150 until 250, 20000, nulls = false, ids)
    assert(StreamingDaemon.applyMergeBatch(spark, store, keys, ord, frame(base), 0L))
    assert(checkLayout(store) == 1)
    val shard = MergeStore.dataFiles(Paths.get(store, "snap-0")).head.length
    // the one shard is now about three times the largest a shard may be
    val (_, jobs) = withMaxPartitionBytes(shard / 3 + 1)(
      jobsRunBy(StreamingDaemon.applyMergeBatch(spark, store, keys, ord, frame(delta), 1L)))
    assert(jobs == 1)
    assert(checkLayout(store) == 3)
    assert(sorted(StreamingSpec.readMergeStore(spark, store, frame(Nil), keys)) ==
      sorted(Compaction.lastWriteWinsWindow(frame(base ++ delta), keys, ord)))
  }

  test("keys of any orderable type: a double and a float key over several shards, nulls and NaN included") {
    val dSchema = StructType.fromDDL("x DOUBLE, f FLOAT, ts TIMESTAMP, event_id BIGINT, v STRING")
    val dKeys = Seq("x", "f")
    def dFrame(rows: Seq[Row]) = spark.createDataFrame(java.util.Arrays.asList(rows: _*), dSchema)
    val xs = Seq[java.lang.Double](null, -1.5e300, -2.25, 0.0, 0.5, 3.75, 1e10, Double.NaN)
    val fs = Seq[java.lang.Float](null, -7.5f, 0.0f, 1.25f, Float.NaN)
    val rnd = new Random(14)
    val ids = Iterator.from(1).map(_.toLong)
    def rows(n: Int, t0: Long) = Seq.fill(n)(Row(xs(rnd.nextInt(xs.size)), fs(rnd.nextInt(fs.size)),
      new java.sql.Timestamp((t0 + rnd.nextInt(1000)) * 1000L), ids.next(), s"v${rnd.nextInt()}"))
    type D = (Option[Double], Option[Float])
    val dOrd: Ordering[D] = Ordering.Tuple2(Ordering.Option(Ordering.Double.TotalOrdering),
      Ordering.Option(Ordering.Float.TotalOrdering))
    def dKey(r: Row): D = (Option(r.get(0)).map(_.asInstanceOf[Double]), Option(r.get(1)).map(_.asInstanceOf[Float]))
    def dSorted(df: DataFrame) = df.select(dSchema.fieldNames.toSeq.map(col): _*).collect().map(_.toString).toSeq.sorted
    val store = tempDir("mergedouble").toString
    var applied = Seq.empty[Row]
    withMaxPartitionBytes(1024) {
      for ((b, i) <- Seq(rows(200, 10000), rows(60, 20000), rows(60, 0)).zipWithIndex) {
        assert(StreamingDaemon.applyMergeBatch(spark, store, dKeys, Seq("ts", "event_id"), dFrame(b), i.toLong))
        applied ++= b
        assert(dSorted(StreamingSpec.readMergeStore(spark, store, dFrame(Nil), dKeys)) ==
          dSorted(Compaction.lastWriteWinsWindow(dFrame(applied), dKeys, Seq("ts", "event_id"))), s"batch $i")
        assert(checkLayout(store, StructType(dSchema.take(2)), dKey)(dOrd) > 1, s"batch $i")
      }
    }
  }

  test("a null key component is one key: its update replaces the stored row (the three-join upsert kept both)") {
    val store = tempDir("mergenull").toString
    def at(s: Long, id: Long, v: Double) = Row(null, "a", new java.sql.Timestamp(s * 1000L), id, v)
    val (old, newer) = (Seq(at(1, 1, 1.0)), Seq(at(2, 2, 2.0)))
    assert(StreamingDaemon.applyMergeBatch(spark, store, keys, ord, frame(old), 0L))
    assert(StreamingDaemon.applyMergeBatch(spark, store, keys, ord, frame(newer), 1L))
    assert(sorted(StreamingSpec.readMergeStore(spark, store, frame(Nil), keys)) == sorted(frame(newer)))
    assert(sorted(threeJoin(frame(old), frame(newer))) == sorted(frame(old ++ newer)))
  }
}
