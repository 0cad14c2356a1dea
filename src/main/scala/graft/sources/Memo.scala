package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Shared staleness-proof memoization for per-snapshot artifacts (LSH edge
  * sets, cluster labels, trained centroids, persisted signature tables).
  *
  * An artifact is declared once, with [[artifact]]; the declaration owns
  * its cache, its cache key, the pin of every build and the release of the
  * pin a new snapshot supersedes. A cache key is a [[Family]] plus a
  * version, the source [[fingerprint]], and is never spelled as a string.
  *
  * Two hazards this fixes over a bare TrieMap keyed on the sfDir path:
  *
  *  - STALENESS: a fixture regenerated in-JVM under the same path would be
  *    served the previous snapshot's artifact. The key therefore carries a
  *    fingerprint of the source parquet and the owning SparkContext's
  *    identity (localCheckpoint'ed DataFrames die with their context; a new
  *    session in the same JVM must never be handed another context's
  *    checkpoints).
  *  - RACES: TrieMap.getOrElseUpdate is not atomic for side effects — two
  *    concurrent first callers could both run an expensive pipeline, or
  *    both write the same persisted table.
  *    ConcurrentHashMap.computeIfAbsent runs the compute at most once per
  *    key, with later callers for that key blocking until it finishes.
  */
object Memo {

  /** `table`'s source parquet under `sfDir`: absolute, as spelled (not
    * canonicalized).
    */
  private def source(sfDir: String, table: String): java.io.File =
    new java.io.File(new java.io.File(sfDir).getAbsolutePath, s"$table.parquet")

  /** Fingerprint of `table`'s source parquet under `sfDir`. Stable across
    * sessions; changes whenever the source is regenerated.
    *
    *  - Single FILE (the driver fixtures): size + mtime — cheap (one stat)
    *    and sufficient, since a rewrite changes at least the mtime tick.
    *  - DIRECTORY (a Spark-written parquet dir, the daemon posture): the
    *    directory's own length is meaningless and its mtime only moves
    *    when DIRECT children are added/removed — an in-place part-file
    *    rewrite under the same names would fingerprint identically. The
    *    fingerprint therefore digests the RECURSIVE listing
    *    (relative name, length, mtime per file, sorted): any
    *    re-materialization changes part-file names (task UUIDs) and
    *    mtimes, so it can never be served stale. Cost is one listing walk
    *    per lookup — the price of correctness for multi-file sources; the
    *    bench fixtures are single files and never pay it.
    */
  def fingerprint(sfDir: String, table: String): String = {
    val src = source(sfDir, table)
    // Fail loudly on a missing source: java.io.File stats resolve ONLY the
    // driver's local filesystem, and a path that doesn't exist there (typo,
    // or an HDFS/S3 URI this local variant cannot see) would silently
    // fingerprint as the constant "0:0" — every regeneration would then
    // collide on one memo key and serve stale artifacts with no error.
    // Remote sources need a Hadoop-FileSystem fingerprint, not a constant.
    require(src.exists,
      s"Memo.fingerprint: $src does not exist on the driver's local filesystem " +
        "(a non-local source must not be fingerprinted by this java.io.File variant)")
    if (!src.isDirectory) s"${src.length}:${src.lastModified}"
    else {
      val digest = java.security.MessageDigest.getInstance("SHA-256")
      def walk(f: java.io.File, rel: String): Unit =
        if (f.isDirectory) {
          val kids = f.listFiles()
          if (kids != null)
            kids.sortBy(_.getName).foreach(k => walk(k, s"$rel/${k.getName}"))
        } else digest.update(s"$rel:${f.length}:${f.lastModified}\n".getBytes("UTF-8"))
      walk(src, "")
      s"dir:${digest.digest().take(8).map("%02x".format(_)).mkString}"
    }
  }

  /** What stays the same across snapshots of an artifact's source: the
    * source's absolute path, as spelled (not canonicalized), and the owning
    * SparkContext's identity, empty for a value valid in every context (a
    * schema). Two cache entries of one family are one artifact for two
    * versions of its source; only the newest is kept.
    */
  final case class Family(source: String, context: String)

  /** The context-free family of `table` under `sfDir`. */
  def family(sfDir: String, table: String): Family = Family(source(sfDir, table).getPath, "")

  /** The family of an artifact of `table` under `sfDir` owned by `s`'s
    * context. applicationId + startTime is unique per context for the JVM's
    * life — identityHashCode is NOT (identity hashes recycle after GC, and a
    * collision would hand a new context a dead context's localCheckpoints).
    */
  def family(s: SparkSession, sfDir: String, table: String): Family =
    Family(source(sfDir, table).getPath,
      s"${s.sparkContext.applicationId}:${s.sparkContext.startTime}")

  /** Per-key-atomic memo keyed on (family, version) with SUPERSEDED-VERSION
    * eviction: when a compute lands a new version of a family (the source
    * fingerprint rotated), the family's previous entry is removed and handed
    * to `onEvict` — for an [[artifact]] that's [[releasePin]], which frees
    * the checkpoint blocks/files a strong map reference would otherwise keep
    * alive for the JVM's life (a long-lived daemon regenerating snapshots
    * would leak executor disk otherwise). Eviction fires only when a NEW key
    * is actually computed, i.e. once per source regeneration; by then every
    * new lookup resolves to the new fingerprint, so the evicted snapshot
    * has no future readers (in-flight jobs over the OLD snapshot must not
    * race a regeneration — same contract as the fixture rotation itself).
    *
    * A compute must not read this same cache: ConcurrentHashMap forbids
    * updating other mappings of a map inside its computeIfAbsent (it can
    * throw "Recursive update"), which is why every [[artifact]] owns one.
    */
  final class Cache[V](onEvict: V => Unit = (_: V) => ()) {
    private val m = new java.util.concurrent.ConcurrentHashMap[(Family, String), V]()
    private val live = new java.util.concurrent.ConcurrentHashMap[Family, String]()
    def get(family: Family, version: String)(compute: => V): V = {
      var inserted = false
      val v = m.computeIfAbsent((family, version), _ => { inserted = true; compute })
      if (inserted) {
        val prev = live.put(family, version)
        if (prev != null && prev != version) {
          val old = m.remove((family, prev))
          if (old != null)
            try onEvict(old)
            catch { case e: Throwable =>
              System.err.println(s"[memo] WARN: evict of superseded $family@$prev failed: ${e.getMessage}")
            }
        }
      }
      v
    }
    /** Live (non-evicted) entry count — spec hook for the bounded-size claim. */
    def size: Int = m.size
  }

  /** A memoized per-snapshot DataFrame derived from `table`, as the
    * `(session, sfDir) => DataFrame` its call sites use. The first call per
    * (family, fingerprint) runs `build` and pins its result exactly once
    * (`build` itself must not pin its result); later calls are served the
    * pinned frame; a call after the source rotated builds anew and releases
    * the superseded pin. Artifacts may read other artifacts inside `build`:
    * each declaration owns its [[Cache]].
    */
  final class Artifact private[Memo] (table: String, build: (SparkSession, String) => DataFrame)
      extends ((SparkSession, String) => DataFrame) {
    private val cache = new Cache[DataFrame](releasePin)
    def apply(s: SparkSession, sfDir: String): DataFrame =
      cache.get(family(s, sfDir, table), fingerprint(sfDir, table))(pin(build(s, sfDir)))
    /** Live entry count — spec hook for the bounded-size claim. */
    private[graft] def size: Int = cache.size
  }

  def artifact(table: String)(build: (SparkSession, String) => DataFrame): Artifact =
    new Artifact(table, build)

  /** Per-SESSION memo for artifacts that are session-bound, not merely
    * context-bound — e.g. the [[graft.Tables]] DataFrame reads: a Dataset
    * remembers the SparkSession that created it, and
    * `createOrReplaceTempView` registers in THAT session's catalog, so a
    * DataFrame memoized under one session must never be served to a
    * `newSession()` sibling (round-13 regression: six SQL queries register
    * temp views in an isolated newSession; a context-keyed load cache
    * registered them in the parent session instead →
    * TABLE_OR_VIEW_NOT_FOUND).
    *
    * Boundedness: the outer map is an access-ordered LRU capped at
    * `maxSessions`, NOT a WeakHashMap. Weak keys cannot work here — the
    * cached values (DataFrames) strongly reference the SparkSession that
    * created them, i.e. the map KEY, and a WeakHashMap entry whose value
    * reaches its own key is never collectable (the round-13 version had
    * exactly this leak: every short-lived `newSession()` isolation session
    * pinned itself, its SessionState and its DataFrames for the JVM's
    * life). The explicit LRU makes the lifetime deterministic instead:
    * long-lived sessions stay hot by being touched (the root session is
    * re-accessed on every query, so churn from one-shot isolation sessions
    * can only evict OTHER one-shot sessions), and in the long-lived-daemon
    * posture the retained set is at most `maxSessions` sessions' worth of
    * resolved reads. Within a session, a [[Cache]] keeps one version per
    * family.
    */
  final class SessionCache[V](maxSessions: Int = 8) {
    private val outer =
      new java.util.LinkedHashMap[SparkSession, Cache[V]](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[SparkSession, Cache[V]]): Boolean =
          size > maxSessions
      }
    def get(s: SparkSession, family: Family, version: String)(compute: => V): V = {
      val inner = outer.synchronized {
        var m = outer.get(s)
        if (m == null) { m = new Cache[V](); outer.put(s, m) }
        m
      }
      inner.get(family, version)(compute)
    }
    /** Retained session count — spec hook for the bounded-growth claim. */
    def sessionCount: Int = outer.synchronized(outer.size)
    /** True iff `s` currently holds a memo entry set (without touching the
      * LRU access order — spec hook).
      */
    def retains(s: SparkSession): Boolean = outer.synchronized {
      val it = outer.keySet.iterator
      var found = false
      while (it.hasNext && !found) found = it.next() eq s
      found
    }
  }

  /** Materialization PIN for per-run intermediates (`ds.pin()` via
    * [[PinOps]]) — the one switch between the two Spark checkpoint
    * flavors, governing every pipeline call site:
    *
    *  - `spark.graft.checkpoint.mode=local` (default):
    *    `Dataset.localCheckpoint()` — blocks stored on EXECUTOR
    *    local disk/memory. Right for local mode and for clusters where a
    *    lost executor may simply recompute-fail the query (the artifacts
    *    pinned here are per-run intermediates, cheap to rebuild by
    *    re-running). The failure semantics on a real cluster: the
    *    checkpointed blocks die with their executor, and any job that
    *    still references them FAILS (Spark cannot recompute a truncated
    *    lineage) — the query must be re-run from source.
    *  - `spark.graft.checkpoint.mode=reliable`:
    *    `Dataset.checkpoint()` — blocks written to the fault-tolerant
    *    `SparkContext.setCheckpointDir` filesystem (HDFS/S3). Executor
    *    loss is survivable; the cost is a distributed-FS write per pin.
    *    The dataset is persisted around the checkpoint call: Spark's
    *    reliable checkpoint writes files in a SECOND pass after the
    *    eager action, which would recompute the whole un-cached lineage
    *    (doubling the cost of every pin); the transient
    *    cache makes that pass a block read, and is dropped once the
    *    checkpoint files exist. Required for long multi-stage production
    *    runs (the 100 TB posture) where re-running from source on one
    *    lost executor is unacceptable. The checkpoint dir must be set or
    *    `pin()` throws with instructions rather than silently falling
    *    back. Operational note: reliable checkpoint files accumulate for
    *    the application's life unless
    *    `spark.cleaner.referenceTracking.cleanCheckpoints=true` (GC-driven
    *    cleanup) — size/lifecycle the directory for the run.
    *
    * Both flavors are eager and truncate lineage — plan shape downstream
    * is identical (an RDD scan), so the switch never changes results or
    * downstream optimization; MemoSpec pins result-equality across modes
    * on a real consumer.
    */
  def pin[T](ds: Dataset[T]): Dataset[T] = {
    val s = ds.sparkSession
    s.conf.get("spark.graft.checkpoint.mode", "local") match {
      case "local" => ds.localCheckpoint()
      case "reliable" =>
        if (s.sparkContext.getCheckpointDir.isEmpty)
          throw new IllegalStateException(
            "spark.graft.checkpoint.mode=reliable requires " +
              "SparkContext.setCheckpointDir (a fault-tolerant path, e.g. HDFS/S3)")
        val cached = ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try cached.checkpoint() // eager: files exist when this returns
        finally cached.unpersist(blocking = false)
      case other =>
        throw new IllegalArgumentException(
          s"spark.graft.checkpoint.mode=$other (expected 'local' or 'reliable')")
    }
  }

  /** `ds.pin()` — the pipeline spelling of [[pin]]. */
  implicit final class PinOps[T](private val ds: Dataset[T]) extends AnyVal {
    def pin(): Dataset[T] = Memo.pin(ds)
  }

  /** Release the materialization behind a SUPERSEDED [[Artifact]] value —
    * its [[Cache]] `onEvict` hook.
    *
    * Every artifact value is a `pin()` result, whose analyzed plan is a
    * bare `LogicalRDD` over the checkpointed RDD: `unpersist` frees the
    * localCheckpoint blocks (local mode), and deleting `getCheckpointFile`
    * removes the reliable checkpoint directory (reliable mode) —
    * deterministic cleanup instead of waiting on GC + ContextCleaner.
    */
  private def releasePin(ds: DataFrame): Unit = {
    val rdd = ds.queryExecution.analyzed.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    rdd.getCheckpointFile.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      try p.getFileSystem(ds.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
      catch { case e: Throwable =>
        System.err.println(s"[memo] WARN: checkpoint dir $f not deleted: ${e.getMessage}")
      }
    }
    rdd.unpersist(blocking = false)
  }
}
