package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

import graft.operators.{Compaction, Compactor, TextQueries}
import graft.sources.SnapshotStore
import graft.streaming.StreamingDaemon

/** Multi-JVM kill checks for every path where graft pins, streams or
  * commits a directory. Each phase runs on `local-cluster[2,2,1024]`
  * ([[Sessions.localCluster]]: a real standalone scheduler with two executor
  * JVMs, the only in-sandbox posture where an executor can die), SIGKILLs
  * an executor, and checks the state after the kill, and after a restart
  * where the phase has one, against a truth computed on a plain `local[4]`
  * session.
  *
  * One runner ([[onCluster]]) drives a table of phases ([[pinPhases]],
  * [[streamPhases]]):
  *  1. reliable pins survive an executor's death and are re-consumed;
  *  2. a pin whose write an executor SIGKILL interrupts retries to the
  *     correct result, never a torn artifact;
  *  3. a fixture fingerprint rotation evicts the superseded generation's
  *     reliable checkpoint dirs (MemoSpec's eviction, multi-JVM);
  *  4-6. the `ingestDedupLoop` gate: a clean run, a run with a kill
  *     mid-batch, and a restart from the post-kill checkpoint that must
  *     keep the persisted signature store (a clone of a pre-kill admission
  *     is rejected, a novel doc admitted) and rewrite no committed batch;
  *  7. `statefulLww` keeps its keyed state through a kill mid-batch and a
  *     query restart (the per-key version counter keeps counting);
  *  8. `Compactor.compact(outDir)` killed mid-run commits exactly the LWW
  *     truth in key-sorted, range-disjoint files, with no duplicate rows
  *     from the killed task attempt and no `.tmp-*` left;
  *  9. `mergeSink` killed mid-batch leaves `LATEST` on the LWW truth in
  *     key-sorted, range-disjoint shard files, one
  *     `_applied` marker per batch and no `.tmp-*`; a restart with one
  *     more update file rewrites no committed `snap-N` and reaches the
  *     truth over every file.
  *
  * A [[MidRun]] kill is task-start-triggered ([[ProbeKill.TaskStartKiller]]):
  * it fires on the task start at a fraction of the latest dry run's task
  * starts and targets the executor that task launched on, so it lands with
  * work in flight. Its evidence is listener-based
  * ([[ProbeKill.FailedTaskCounter]]): the pass only counts if a task of the
  * killed run ended non-Success, else the probe says "rerun the probe"
  * instead of recording a vacuous pass. The PASS line names the stages of
  * the interrupted tasks and the graft frames of their call sites.
  *
  * The pin phases run in `spark.graft.checkpoint.mode=reliable`, the mode
  * they exist to check; the others in the default mode, so the runner
  * starts two cluster sessions one after the other. Every session of a run
  * shares one warehouse in a [[ProbeKill.tempDir]], so the snapshot
  * families a run commits (the dedup signature table of the fixture copy)
  * go with its JVM.
  *
  * Not part of `sbt test` (one SparkContext per JVM): run as
  * `SPARK_SCALA_VERSION=2.13 sbt "runMain graft.KillProbe [sfDir]"`. The
  * env var matters: the standalone Worker builds the executor command
  * through the launcher library, whose Scala-version probe otherwise dies
  * with "Cannot find any build directories" when SPARK_HOME is a bare dist
  * without launcher/target. Results are recorded in BASELINE.md ("Current
  * numbers").
  */
object KillProbe {

  /** How a phase kills an executor. */
  private sealed trait Kill
  /** No kill: the phase checks what an earlier phase's kill left. */
  private case object NoKill extends Kill
  /** SIGKILL an executor after `run`, with no task in flight. */
  private case object BetweenRuns extends Kill
  /** SIGKILL, during `run`, the executor of the task start at
    * 1/`divisor` of the latest dry run's task starts.
    */
  private final case class MidRun(divisor: Int) extends Kill

  /** One row of the phase table. The runner runs `dry` (a clean run whose
    * task starts size the next [[MidRun]] kill), then `run` with the
    * phase's kill, then `check` (the state expected after the kill, and
    * after the dry run) and `restart` (a restart over the killed run's
    * state, checked). `check` and `restart` return the evidence the PASS
    * line prints.
    */
  private final case class Phase(
      name: String,
      kill: Kill,
      dry: Option[() => Unit] = None,
      run: () => Unit = () => (),
      check: () => String,
      restart: Option[() => String] = None)

  private val Keys = Seq("user_id", "event_type")
  private val Order = Seq("ts", "event_id")

  private def labels(s: SparkSession, sfDir: String): Map[Long, Long] =
    SparkEntry.queries("q_dedup_components")(s, sfDir)
      .selectExpr("doc_id", "cluster_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def ivf(s: SparkSession, sfDir: String): Seq[String] =
    SparkEntry.queries("q_simsearch_ivf")(s, sfDir).collect().map(_.toString).toSeq.sorted

  /** `df`'s rows as a multiset: columns in name order, rows as sorted strings. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.toSeq.map(col): _*).collect().map(_.toString).toSeq.sorted

  private def laterByDays(n: Int) = timestamp_micros(unix_micros(col("ts")) + n * 86400000000L)

  /** Batch LWW truth over a (event_id, ts_us, user_id, event_type, value)
    * frame: per key the newest version by (ts_us, event_id) plus the total
    * version count — exactly what [[StreamingDaemon.statefulLww]]'s final
    * per-key update must equal regardless of micro-batch slicing.
    */
  private def lwwTruth(ev: DataFrame): Map[(Long, String), (Long, Long, Double, Long)] =
    byKey(ev.groupBy(col("user_id"), col("event_type"))
      .agg(
        max_by(struct(col("event_id"), col("ts_us"), col("value")),
          struct(col("ts_us"), col("event_id"))).as("w"),
        count(lit(1)).as("n"))
      .select(col("user_id"), col("event_type"),
        col("w.event_id"), col("w.ts_us"), col("w.value"), col("n")))

  /** Final streamed LWW state: the update row from the LATEST batch per key
    * (`outDir/batch=N` written by the foreachBatch sink; partition pruning
    * makes the read a metadata walk + last-batch scan shape).
    */
  private def lwwFinal(s: SparkSession, outDir: String): Map[(Long, String), (Long, Long, Double, Long)] =
    byKey(s.read.parquet(outDir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max_by(struct(col("last_event_id"), col("ts_us"), col("last_value"),
        col("versions_seen")), col("batch")).as("w"))
      .select(col("user_id"), col("event_type"),
        col("w.last_event_id"), col("w.ts_us"), col("w.last_value"), col("w.versions_seen")))

  /** (user_id, event_type) -> (event id, ts_us, value, version count). */
  private def byKey(lww: DataFrame): Map[(Long, String), (Long, Long, Double, Long)] =
    lww.collect().map(r => (r.getLong(0), r.getString(1)) ->
      ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5)))).toMap

  /** The corpus split's band keys: the pre-existing signature store the
    * ingest gate checks the streamed crawl against.
    */
  private def corpusSigs(s: SparkSession, sfDir: String): DataFrame =
    TextQueries.bandKeysOf(Tables.documents(s, sfDir).filter(col("doc_id") % 10 =!= 7))
      .withColumnRenamed("doc_id", "corpus_doc")

  private def acceptedSet(s: SparkSession, outDir: String): Set[Long] =
    s.read.parquet(s"$outDir/batch=*").select("doc_id")
      .collect().map(_.getLong(0)).toSet

  /** Run [[StreamingDaemon.statefulLww]] over the staged event files as an
    * AvailableNow file stream, one file per trigger, batch-dir sink.
    */
  private def runLww(s: SparkSession, evDir: String, outDir: String, ckpDir: String): Unit = {
    import s.implicits._
    val ds = StreamingDaemon.source(s, evDir,
      StructType.fromDDL("event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"))
      .as[StreamingDaemon.EventIn]
    StreamingDaemon.statefulLww(ds)
      .writeStream
      .option("checkpointLocation", ckpDir)
      .outputMode(StreamingDaemon.statefulLwwOutputMode)
      .trigger(Trigger.AvailableNow())
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[StreamingDaemon.LwwUpdate], batchId: Long) =>
          SnapshotStore.commit(SnapshotStore.local(s"$outDir/batch=$batchId"))(batch.write.parquet(_))
          ()
      }
      .start()
      .awaitTermination()
  }

  /** Fails when any entry under `dir` is a `.tmp-*` commit leftover. */
  private def requireNoTmp(dir: String): Unit = {
    val it = Files.walk(Paths.get(dir))
    val left = try it.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith(".tmp-")).toList
      finally it.close()
    require(left.isEmpty, s"$dir holds commit leftovers: ${left.mkString(", ")}")
  }

  /** Fails unless every parquet file of `dir` is sorted by [[Keys]] and no
    * two files' key ranges overlap (the sorted-run invariant of a store).
    */
  private def requireSortedDisjoint(s: SparkSession, dir: String): Int = {
    val ord = Ordering.Tuple2[Long, String]
    val files = new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSeq
    val perFile = files.map { f =>
      val ks = s.read.parquet(f.getPath).select(Keys.map(col): _*).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      require(ks == ks.sorted(ord), s"${f.getName} is not sorted by $Keys")
      ks
    }
    val ranges = perFile.filter(_.nonEmpty).map(ks => (ks.head, ks.last)).sortBy(_._1)(ord)
    require(ranges.zip(ranges.drop(1)).forall { case ((_, hi), (lo, _)) => ord.lt(hi, lo) },
      s"files of $dir overlap in key range: $ranges")
    files.size
  }

  /** One probe run over `sfDir`. Constructing it stages every phase's
    * inputs and computes their truths on a `local[4]` session, stopped
    * before any cluster session starts; [[pinPhases]] and [[streamPhases]]
    * are the phase table over those inputs.
    */
  private final class Run(sfDir: String, conf: Map[String, String]) {
    private def tmp(tag: String) = ProbeKill.tempDir(tag)
    private val local = Sessions.shared("local[4]", "4").config(conf).getOrCreate()
    local.sparkContext.setLogLevel("WARN")
    // A fixture copy gets a fresh path and fingerprint, so every memo
    // misses and the whole pin chain re-runs cold over it.
    private val rotateDir = tmp("graft_probe_rotate")
    for (t <- Seq("documents", "embeddings"))
      Files.copy(Paths.get(s"$sfDir/$t.parquet"), Paths.get(s"$rotateDir/$t.parquet"))
    // Distinct mtimes pin the file-source order, so the truth run and the
    // cluster runs see identical batch slicing.
    private def appendFiles(dir: String, parts: Seq[DataFrame]): Unit = parts.foreach { p =>
      p.coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1100)
    }
    // the streamed crawl: the docs outside the corpus split
    private val fresh = Tables.documents(local, sfDir).filter(col("doc_id") % 10 === 7)
    private val docsIn = tmp("scp_docs_in")
    appendFiles(docsIn, (0 until 3).map(i => fresh.filter(col("doc_id") % 3 === i)))
    private val events = Tables.events(local, sfDir)
    // four event micro-batch files, ts pre-normalized to epoch micros
    private val eventsIn = tmp("scp_ev_in")
    appendFiles(eventsIn, (0 until 4).map(i => events.filter(col("event_id") % 4 === i).select(
      col("event_id"), unix_micros(col("ts")).as("ts_us"),
      col("user_id"), col("event_type"), col("value"))))
    // The accepted set of a clean single-process run over the SAME staged
    // files. NOT localCheckpoint'ed corpus sigs: on the cluster the lineage
    // must stay recomputable through an executor death, so both sides use
    // the plain recomputable DataFrame.
    private val truthOut = tmp("scp_t_out")
    StreamingDaemon.ingestDedupLoop(local, docsIn, corpusSigs(local, sfDir),
      truthOut, tmp("scp_t_ckp"), tmp("scp_t_sig")).awaitTermination()
    // A versioned store of many small files: every event, plus a newer
    // version of a third of the keys.
    private val compactIn = tmp("kp_compact_in")
    events.repartition(24).write.mode("append").parquet(compactIn)
    events.filter(col("user_id") % 3 === 0)
      .withColumn("ts", laterByDays(10)).withColumn("event_id", col("event_id") + 1000000L)
      .coalesce(1).write.mode("append").parquet(compactIn)
    private val compacted = Compaction.lastWriteWinsWindow(local.read.parquet(compactIn), Keys, Order)
    // The merge stream: the compacted store as batch 0, then update files
    // with later versions of a key subset each; `mergeNext` is held back
    // for the restart.
    private def update(i: Int) = compacted.filter(col("user_id") % 4 === i % 4)
      .withColumn("ts", laterByDays(i)).withColumn("event_id", col("event_id") + i * 1000000L)
      .withColumn("value", col("value") + i)
    private val mergeIn = tmp("kp_merge_in")
    private val mergeNext = tmp("kp_merge_next")
    appendFiles(mergeIn, compacted +: (1 to 3).map(update))
    appendFiles(mergeNext, Seq(update(4)))
    private val merged = local.read.parquet(mergeIn)

    private val truthLabels = labels(local, sfDir)
    private val truthAccepted = acceptedSet(local, truthOut)
    private val truthLww = lwwTruth(local.read.parquet(eventsIn))
    private val truthCompacted = rows(compacted)
    private val truthMerged = rows(Compaction.lastWriteWinsWindow(merged, Keys, Order))
    private val truthMergedNext = rows(Compaction.lastWriteWinsWindow(
      merged.unionByName(local.read.parquet(mergeNext)), Keys, Order))
    local.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()

    /** Phases 1-3, on a reliable-checkpoint session. */
    def pinPhases(s: SparkSession): Seq[Phase] = {
      val ckpDir = ProbeKill.tempDir("graft_cluster_ckp")
      s.sparkContext.setCheckpointDir(ckpDir)
      // reliable checkpoints are files under <ckpDir>/<uuid>/rdd-N
      def rddDirs(): Int = ProbeKill.dirSignature(ckpDir).keys.map(k => k.take(k.lastIndexOf('/')))
        .count(_.split('/').last.startsWith("rdd-"))
      var got = Map.empty[Long, Long]
      var ivf1 = Seq.empty[String]
      var c0, c1 = 0
      Seq(
        Phase("reliable pins survive executor JVM death", BetweenRuns,
          dry = Some(() => got = labels(s, sfDir)),
          run = () => {
            require(got == truthLabels, s"cluster reliable run diverges from local truth (${got.size} vs ${truthLabels.size})")
            ivf1 = ivf(s, sfDir)
            require(ivf1.nonEmpty, "vector memo pipeline returned no rows on the cluster")
          },
          // The SAME memoized pinned artifacts (same context, same
          // fingerprints): their partitions must be readable despite the
          // dead executor.
          check = () => {
            got = labels(s, sfDir)
            require(got == truthLabels, s"post-kill reliable consume diverges (${got.size} vs ${truthLabels.size})")
            require(ivf(s, sfDir) == ivf1, "post-kill vector memo consume diverges")
            s"components (${got.size} labels) and ivf (${ivf1.size} rows) both equal pre-kill results"
          }),
        // Sized from phase 1's cold run over the fixture, killed over its copy.
        Phase("pin interrupted by executor SIGKILL retried to the correct result (no torn artifact)", MidRun(4),
          run = () => {
            // Checkpoint dirs before any rotateDir work, counted once a GC has
            // let the ContextCleaner delete the dirs of phase 1's unreachable
            // per-run pins: their deletion during the run below would hide
            // the generation it adds.
            System.gc(); Thread.sleep(1000)
            c0 = rddDirs()
            got = labels(s, rotateDir)
          },
          check = () => {
            require(got == truthLabels,
              s"mid-pin-kill run diverges from truth (${got.size} vs ${truthLabels.size}): a retried pin served a torn artifact")
            s"labels equal truth"
          }),
        // Rewrite the fixture (new fingerprint) and re-run: the superseded
        // generation's cached-family checkpoint dirs must be deleted while
        // the new pin's results are correct. Per-run intermediate pins ride
        // the GC + ContextCleaner backstop, hence the settle loop; without
        // eviction the cached families alone would add a second generation.
        Phase("rotation evicted superseded reliable pins", NoKill,
          run = () => {
            c1 = rddDirs()
            require(c1 > c0, s"phase-2 run left no reliable checkpoint dirs to rotate ($c0 -> $c1)")
            s.createDataFrame(Seq(
                (1L, "entirely unrelated prose about spark physical plans"),
                (2L, "rotated snapshot duplicate text shared by two docs"),
                (3L, "rotated snapshot duplicate text shared by two docs")))
              .toDF("doc_id", "text")
              .select(col("doc_id"), col("text"), lit("en").as("lang"), lit("probe").as("source"),
                length(col("text")).cast("long").as("n_chars"))
              .coalesce(1)
              .write.mode("overwrite").parquet(s"${rotateDir}/documents.parquet")
            // No mtime nudging needed: after the overwrite the path is a
            // Spark-written DIRECTORY, and the dir:<hash> fingerprint digests
            // the recursive file listing (fresh task-UUID part names every
            // write) — rotation detection cannot miss a same-tick rewrite.
            got = labels(s, rotateDir)
          },
          check = () => {
            require(got == Map(2L -> 2L, 3L -> 2L), s"post-rotation labels wrong: $got (stale pin served?)")
            val gen1 = c1 - c0
            var settled = rddDirs()
            var tries = 0
            while (settled >= c1 + gen1 && tries < 30) {
              System.gc(); Thread.sleep(500); settled = rddDirs(); tries += 1
            }
            require(settled < c1 + gen1,
              s"superseded checkpoint dirs not evicted on rotation: before=$c1 (gen size $gen1), after settle=$settled")
            s"gen1=$gen1 dirs; $c1 -> $settled after re-run + settle"
          }))
    }

    /** Phases 4-9, on a default-mode session. */
    def streamPhases(s: SparkSession): Seq[Phase] = {
      val sigs = corpusSigs(s, sfDir)
      def ingest(out: String, ckp: String, sig: String): Unit =
        StreamingDaemon.ingestDedupLoop(s, docsIn, sigs, out, ckp, sig).awaitTermination()
      val ingestA = tmp("scp_a_out")
      val (ingestB, ckpB, sigB) = (tmp("scp_b_out"), tmp("scp_b_ckp"), tmp("scp_b_sig"))
      val (lwwA, lwwB, lwwCkpB) = (tmp("scp_l1_out"), tmp("scp_l2_out"), tmp("scp_l2_ckp"))
      val (compactA, compactB) = (s"${tmp("kp_compact_a")}/out", s"${tmp("kp_compact_b")}/out")
      def compact(out: String): Unit =
        Compactor.compact(s.read.parquet(compactIn), Keys, Order, 4, Some(out), maxRecordsPerFile = 8)
      val (storeA, storeB, mergeCkpB) = (tmp("kp_store_a"), tmp("kp_store_b"), tmp("kp_merge_ckp_b"))
      def merge(store: String, ckp: String): Unit =
        StreamingDaemon.mergeSink(s, mergeIn, store, ckp, Keys, Order).awaitTermination()
      def latestDir(store: String): String = {
        val snap = SnapshotStore.pointed(Paths.get(store, "LATEST"))
        require(snap.isDefined, s"$store has no LATEST")
        s"$store/${snap.get}"
      }
      def latest(store: String): Seq[String] = rows(s.read.parquet(latestDir(store)))
      def committed(store: String, batches: Int): String = {
        val markers = Option(new File(store, "_applied").list()).toSeq.flatten.toSet
        require(markers == (0 until batches).map(b => s"batch-$b").toSet,
          s"$store: applied markers $markers, expected one per batch 0..${batches - 1}")
        requireNoTmp(store)
        s"${markers.size} markers"
      }
      Seq(
        Phase("clean multi-JVM ingest run equals truth", NoKill,
          dry = Some(() => ingest(ingestA, tmp("scp_a_ckp"), tmp("scp_a_sig"))),
          check = () => {
            require(acceptedSet(s, ingestA) == truthAccepted, "clean cluster ingest run diverges from single-process truth")
            s"${truthAccepted.size} docs accepted"
          }),
        Phase("ingest gate absorbed an executor SIGKILL mid-batch", MidRun(2),
          run = () => ingest(ingestB, ckpB, sigB),
          check = () => {
            require(acceptedSet(s, ingestB) == truthAccepted,
              "killed ingest run diverges from truth: executor death corrupted the gate")
            "accepted set equals truth"
          }),
        // While the daemon is "down": a near-dup clone of a pre-kill admission
        // and a genuinely novel doc land as a new file. The restarted query
        // must reject the clone via the PERSISTED signature store and admit
        // the novel doc. Re-processing cannot be detected from the accepted
        // SET alone (a replay would self-dedup against its own persisted
        // hashes and converge to the same set), so the committed batch dirs
        // are pinned byte-for-byte too.
        Phase("restart from the post-kill checkpoint kept the dedup state", NoKill,
          run = () => {
            val keeper = Tables.documents(s, sfDir).filter(col("doc_id") === truthAccepted.min)
            val novelText = (1 to 60).map(i => s"scp${i}probe").mkString(" ")
            keeper.withColumn("doc_id", col("doc_id") + 2000000L)
              .union(keeper
                .withColumn("doc_id", col("doc_id") + 3000000L)
                .withColumn("text", lit(novelText)))
              .coalesce(1).write.mode("append").parquet(docsIn)
            val preRestart = ProbeKill.dirSignature(ingestB)
            ingest(ingestB, ckpB, sigB)
            require(ProbeKill.dirSignature(ingestB).view.filterKeys(preRestart.contains).toMap == preRestart,
              "restart REWROTE a committed pre-restart batch dir (checkpoint ignored)")
          },
          check = () => {
            val kept = acceptedSet(s, ingestB)
            require(kept.filter(_ < 2000000L) == truthAccepted, "restart lost a pre-restart batch")
            require(!kept.exists(id => id >= 2000000L && id < 3000000L),
              "near-dup of a pre-kill admission re-admitted after restart — store state lost")
            require(kept.exists(_ >= 3000000L), "novel post-restart doc wrongly rejected")
            "clone rejected, novel admitted"
          }),
        Phase("statefulLww state survived executor SIGKILL and query restart", MidRun(2),
          dry = Some(() => runLww(s, eventsIn, lwwA, tmp("scp_l1_ckp"))),
          run = () => runLww(s, eventsIn, lwwB, lwwCkpB),
          check = () => {
            require(lwwFinal(s, lwwA) == truthLww, "clean cluster statefulLww run diverges from batch truth")
            require(lwwFinal(s, lwwB) == truthLww,
              "killed statefulLww run diverges from batch truth: keyed state lost or double-counted")
            s"${truthLww.size} keys equal truth"
          },
          // One more file with NEWER versions for a key subset and fresh
          // event ids: the restarted query must CONTINUE the state-store
          // counters, and the newest-version fields must update.
          restart = Some(() => {
            val maxId = s.read.parquet(eventsIn).agg(max(col("event_id"))).head().getLong(0)
            s.read.parquet(eventsIn)
              .filter(col("user_id") % 5 === 0)
              .groupBy(col("user_id"), col("event_type"))
              .agg(max(col("ts_us")).as("ts_us"), first(col("value")).as("value"))
              .withColumn("event_id", monotonically_increasing_id() + maxId + 1L)
              .withColumn("ts_us", col("ts_us") + 864000000000L) // +10 days
              .withColumn("value", col("value") + 1000.0)
              .select("event_id", "ts_us", "user_id", "event_type", "value")
              .coalesce(1).write.mode("append").parquet(eventsIn)
            runLww(s, eventsIn, lwwB, lwwCkpB)
            val truth2 = lwwTruth(s.read.parquet(eventsIn))
            require(lwwFinal(s, lwwB) == truth2,
              "restarted statefulLww diverges from batch truth over old+new events — state did not persist across restart")
            require(truth2.exists { case (k, v) => truthLww.get(k).exists(_._4 + 1 == v._4) },
              "restart leg produced no continued version counter — probe input defect")
            "counters continued, versions correct"
          })),
        Phase("compaction killed mid-run committed exactly the LWW truth", MidRun(2),
          dry = Some(() => compact(compactA)),
          run = () => compact(compactB),
          check = () => {
            require(rows(s.read.parquet(compactA)) == truthCompacted, "clean cluster compaction diverges from the LWW truth")
            require(rows(s.read.parquet(compactB)) == truthCompacted,
              "killed compaction diverges from the LWW truth: a killed task attempt left rows behind or lost some")
            val files = requireSortedDisjoint(s, compactB)
            requireNoTmp(new File(compactB).getParent)
            s"${truthCompacted.size} rows in $files key-sorted, range-disjoint files"
          }),
        Phase("merge killed mid-batch left LATEST on the truth; its restart rewrote no snapshot", MidRun(2),
          dry = Some(() => merge(storeA, tmp("kp_merge_ckp_a"))),
          run = () => merge(storeB, mergeCkpB),
          check = () => {
            require(latest(storeA) == truthMerged, "clean cluster merge diverges from the LWW truth")
            require(latest(storeB) == truthMerged, "killed merge: LATEST diverges from the LWW truth over every staged file")
            val files = requireSortedDisjoint(s, latestDir(storeB))
            s"LATEST equals truth in $files key-sorted, range-disjoint file(s), ${committed(storeB, 4)}"
          },
          restart = Some(() => {
            val snaps = ProbeKill.dirSignature(storeB).filter(_._1.startsWith("snap-"))
            for (f <- new File(mergeNext).listFiles() if f.getName.endsWith(".parquet"))
              Files.move(f.toPath, Paths.get(mergeIn, f.getName))
            merge(storeB, mergeCkpB)
            require(ProbeKill.dirSignature(storeB).view.filterKeys(snaps.contains).toMap == snaps,
              "merge restart REWROTE a committed snapshot")
            require(latest(storeB) == truthMergedNext, "restarted merge: LATEST diverges from the LWW truth over all files")
            s"${snaps.size} committed snapshot files unchanged, LATEST equals truth, ${committed(storeB, 5)}"
          })))
    }
  }

  /** Runs `phases` on a fresh `local-cluster` session with `conf`, numbered
    * from `first`; returns the number run.
    */
  private def onCluster(conf: Map[String, String], first: Int)(phases: SparkSession => Seq[Phase]): Int = {
    val s = Sessions.localCluster(conf)
    s.sparkContext.setLogLevel("WARN")
    val appId = s.sparkContext.applicationId
    val failedTasks = new ProbeKill.FailedTaskCounter
    val killer = new ProbeKill.TaskStartKiller(appId)
    s.sparkContext.addSparkListener(failedTasks)
    s.sparkContext.addSparkListener(killer)
    ProbeKill.awaitRegistered(s)
    val table = phases(s)
    var (dryStarts, drySec) = (0L, 0.0)
    for ((p, i) <- table.zipWithIndex) {
      // settledStarts on both ends: async TaskStart delivery must not
      // undercount the window a kill point is computed from
      p.dry.foreach { d =>
        val before = killer.settledStarts()
        val t0 = System.nanoTime()
        d()
        drySec = (System.nanoTime() - t0) / 1e9
        dryStarts = killer.settledStarts() - before
      }
      val killed = p.kill match {
        case NoKill => p.run(); ""
        case BetweenRuns =>
          p.run()
          s"killed executor pid=${ProbeKill.killExecutor(appId)} between runs; "
        case MidRun(divisor) =>
          val failedBefore = failedTasks.quiescentSnapshot(s)
          killer.arm(math.max(1, (dryStarts / divisor).toInt))
          p.run()
          killer.disarm()
          failedTasks.requireInterrupted(failedBefore,
            f"${p.name}: kill interrupted no task (dry $drySec%.1f s / $dryStarts starts, fired=${killer.fired})")
          val stages = failedTasks.interruptedStages(failedBefore).mkString("; ")
          f"${failedTasks.get - failedBefore} task(s) interrupted in $stages, dry run $dryStarts starts ($drySec%.1f s); "
      }
      val evidence = killed + p.check()
      if (p.kill != NoKill) ProbeKill.awaitExecutors(appId)
      val restarted = p.restart.fold("")(r => s"; restart: ${r()}")
      println(s"[kill-probe] PASS(${first + i}) ${p.name}: $evidence$restarted")
    }
    s.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    table.size
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val warehouse = Map("spark.sql.warehouse.dir" -> ProbeKill.tempDir("graft_probe_warehouse"))
    val run = new Run(sfDir, warehouse)
    val pins = onCluster(warehouse + ("spark.graft.checkpoint.mode" -> "reliable"), 1)(run.pinPhases)
    val total = pins + onCluster(warehouse, pins + 1)(run.streamPhases)
    println(s"[kill-probe] PASS: all $total phases green on local-cluster[2,2,1024]")
  }
}
