package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.Memo

/** The staleness + race guards of [[graft.sources.Memo]]: a fixture
  * regenerated in-JVM under the SAME path must yield fresh derived
  * artifacts (round-3 review: the TrieMap memos keyed on the bare path
  * served stale edges/labels/centroids after a rewrite), and concurrent
  * first callers must compute once.
  */
class MemoSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def writeDocs(dir: String, rows: Seq[(Long, String)]): Unit = {
    rows.map { case (id, t) => (id, t, "en", "spec", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // mtime has millisecond resolution — a rewrite landing in the same
    // tick as the original would fingerprint identically; pin it forward.
    val f = new java.io.File(s"$dir/documents.parquet")
    f.setLastModified(f.lastModified() + 1000)
  }

  /** A one-file source `table` under `dir` whose fingerprint is a function
    * of `tick`: each new tick is a regenerated snapshot.
    */
  private def touch(dir: String, table: String, tick: Int): Unit = {
    val f = new java.io.File(dir, s"$table.parquet")
    if (!f.exists) java.nio.file.Files.write(f.toPath, Array[Byte](0))
    f.setLastModified(1000000000000L + tick * 1000L)
  }

  // the same root-pin introspection releasePin uses — a pin() result's
  // analyzed plan is a bare LogicalRDD over the checkpointed RDD
  private def pinnedRdd(ds: org.apache.spark.sql.DataFrame) =
    ds.queryExecution.analyzed.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
  private def persisted(ds: org.apache.spark.sql.DataFrame): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(pinnedRdd(ds).id)

  test("key changes when the source parquet is regenerated in place") {
    val dir = tempDir("graft_memo_key").toString
    writeDocs(dir, Seq((1L, "alpha beta gamma delta")))
    val (f1, v1) = (Memo.family(spark, dir, "documents"), Memo.fingerprint(dir, "documents"))
    writeDocs(dir, Seq((1L, "totally different words here now")))
    val (f2, v2) = (Memo.family(spark, dir, "documents"), Memo.fingerprint(dir, "documents"))
    assert(f1 == f2, "a regenerated source is the same family")
    assert(v1 != v2, "a regenerated source is a new version")
  }

  test("memoized dedup pipeline serves fresh results after a fixture rewrite") {
    val dir = tempDir("graft_memo_q").toString
    // Snapshot 1: docs 1 and 2 are identical -> one near-dup cluster {1, 2}.
    writeDocs(dir, Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely unrelated prose about spark physical plans")))
    def labels(): Map[Long, Long] =
      SparkEntry.queries("q_dedup_components")(spark, dir)
        .select(col("doc_id"), col("cluster_id"))
        .as[(Long, Long)].collect().toMap
    assert(labels() == Map(1L -> 1L, 2L -> 1L))
    // Snapshot 2, SAME path: now 2 and 3 are the duplicates. A path-keyed
    // memo would keep serving {1,2}.
    writeDocs(dir, Seq(
      (1L, "entirely unrelated prose about spark physical plans"),
      (2L, "a second snapshot with rewritten duplicate text rows"),
      (3L, "a second snapshot with rewritten duplicate text rows")))
    assert(labels() == Map(2L -> 2L, 3L -> 2L))
  }

  test("pin() honors spark.graft.checkpoint.mode: local by default, reliable writes the checkpoint dir, results identical") {
    import graft.sources.Memo.PinOps
    val ckpDir = tempDir("graft_pin_ckp").toString
    val dir = tempDir("graft_pin_q").toString
    writeDocs(dir, Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely unrelated prose about spark physical plans")))
    def countCkpFiles(): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum else 1
      walk(new java.io.File(ckpDir))
    }
    val df = spark.range(100).select(col("id"), (col("id") % 7).as("k"))
    // default mode: localCheckpoint — nothing lands in the reliable dir
    val local = df.pin()
    assert(local.collect().toSeq == df.collect().toSeq)
    // a real consumer under RELIABLE mode: same answer, checkpoint dir used.
    // q_dedup_components runs the full memoized banding pipeline, whose
    // pin() sites all fire under the switch in one query.
    val modeKey = "spark.graft.checkpoint.mode"
    val want = SparkEntry.queries("q_dedup_components")(spark, dir)
      .select(col("doc_id"), col("cluster_id")).as[(Long, Long)].collect().toMap
    spark.conf.set(modeKey, "reliable")
    try {
      // reliable without a checkpoint dir: throw with instructions, never
      // a silent localCheckpoint fallback
      val ex = intercept[IllegalStateException](df.pin())
      assert(ex.getMessage.contains("setCheckpointDir"))
      spark.sparkContext.setCheckpointDir(ckpDir)
      val before = countCkpFiles()
      val reliable = df.pin()
      assert(reliable.collect().toSeq == df.collect().toSeq)
      assert(countCkpFiles() > before, "reliable pin must write the checkpoint dir")
      // fixture REWRITE defeats the memo (staleness guard), so the consumer
      // below re-runs its pipeline under the reliable switch end to end
      writeDocs(dir, Seq(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox jumps over the lazy dog"),
        (3L, "entirely unrelated prose about spark physical plans")))
      val got = SparkEntry.queries("q_dedup_components")(spark, dir)
        .select(col("doc_id"), col("cluster_id")).as[(Long, Long)].collect().toMap
      assert(got == want, "reliable mode must not change results")
      // a second consumer family: the VECTOR memo path (trained IVF
      // centroids + assignment pins) also runs whole under the switch.
      // The embeddings table is COPIED to a fresh dir so its fingerprint
      // misses every memo populated by other suites in this JVM — the
      // Lloyd training + assignment pins must actually fire in reliable
      // mode, not be served from a cache built under local mode.
      java.nio.file.Files.copy(
        java.nio.file.Paths.get("/root/testdata/sf0.001/embeddings.parquet"),
        java.nio.file.Paths.get(s"$dir/embeddings.parquet"))
      val ivf = SparkEntry.queries("q_simsearch_ivf")(spark, dir)
      assert(ivf.count() > 0, "vector pipeline must run under reliable mode")
      spark.conf.set(modeKey, "bogus")
      intercept[IllegalArgumentException](df.pin())
    } finally spark.conf.unset(modeKey)
  }

  test("superseded pins are evicted on fingerprint rotation: blocks unpersisted, reliable checkpoint dirs deleted, results live") {
    val dir = tempDir("graft_evict_t").toString
    var rows = 50L
    var builds = 0
    val art = Memo.artifact("t") { (s, _) => builds += 1; s.range(rows).toDF("id") }

    // LOCAL mode: rotation unpersists the superseded localCheckpoint blocks
    touch(dir, "t", 1)
    val v1 = art(spark, dir)
    assert(persisted(v1), "the artifact must pin its build")
    touch(dir, "t", 2); rows = 60
    val v2 = art(spark, dir)
    assert(!persisted(v1), "superseded pin's blocks must be unpersisted on rotation")
    assert(v2.count() == 60, "live entry unaffected by the eviction")
    assert(art.size == 1, "cache holds only the live version per family")
    // same fingerprint re-lookup: no eviction, served entry intact
    assert(art(spark, dir).count() == 60 && builds == 2, "must not recompute")
    // distinct families never evict each other
    val dirU = tempDir("graft_evict_u").toString
    touch(dirU, "t", 1); rows = 7
    val other = art(spark, dirU)
    assert(art.size == 2 && other.count() == 7 && v2.count() == 60 && persisted(v2))

    // RELIABLE mode: rotation deletes the superseded checkpoint DIRECTORY
    val ckpDir = tempDir("graft_evict_ckp").toString
    val modeKey = "spark.graft.checkpoint.mode"
    spark.conf.set(modeKey, "reliable")
    try {
      spark.sparkContext.setCheckpointDir(ckpDir)
      val rArt = Memo.artifact("r")((s, _) => s.range(rows).toDF("id"))
      touch(dir, "r", 1); rows = 40
      val r1 = rArt(spark, dir)
      val ckpFile1 = pinnedRdd(r1).getCheckpointFile.get
      assert(new java.io.File(new java.net.URI(ckpFile1).getPath).exists, "reliable pin wrote its dir")
      touch(dir, "r", 2); rows = 41
      val r2 = rArt(spark, dir)
      assert(!new java.io.File(new java.net.URI(ckpFile1).getPath).exists,
        "superseded reliable checkpoint dir must be deleted on rotation")
      assert(r2.count() == 41 && pinnedRdd(r2).getCheckpointFile.isDefined)
    } finally spark.conf.unset(modeKey)

    // INTEGRATION: the real memoized dedup pipeline across 3 fixture
    // regenerations in reliable mode — cached-family checkpoint dirs must
    // not accumulate linearly (evicted per rotation; per-run intermediates
    // ride the GC backstop and are excluded by measuring growth, not
    // absolute count).
    spark.conf.set(modeKey, "reliable")
    try {
      val dir = tempDir("graft_evict_q").toString
      def rddDirs(): Int = {
        def walk(f: java.io.File): Int =
          if (f.isDirectory) (if (f.getName.startsWith("rdd-")) 1 else 0) + f.listFiles().map(walk).sum
          else 0
        walk(new java.io.File(ckpDir))
      }
      def run(salt: String): Unit = {
        writeDocs(dir, Seq(
          (1L, s"the quick brown fox jumps over the lazy dog $salt"),
          (2L, s"the quick brown fox jumps over the lazy dog $salt"),
          (3L, s"entirely unrelated prose about spark physical plans $salt")))
        SparkEntry.queries("q_dedup_components")(spark, dir).count()
      }
      run("one")
      val afterFirst = rddDirs()
      run("two"); run("three")
      // q_dedup_components' build pins only cached families (the memoized
      // band buckets and starEdges); any per-run pin would ride the
      // GC + ContextCleaner backstop: nudge it and poll until the count
      // settles — the DETERMINISTIC claim is the cached families' dirs
      // (evicted synchronously per rotation), which without eviction
      // would triple afterFirst all by themselves
      var afterThird = rddDirs()
      var tries = 0
      while (afterThird >= 2 * afterFirst && tries < 30) {
        System.gc(); Thread.sleep(500); tries += 1
        afterThird = rddDirs()
      }
      assert(afterThird < 2 * afterFirst,
        s"checkpoint dirs accumulate across rotations: $afterFirst -> $afterThird")
    } finally spark.conf.unset(modeKey)
  }

  test("SessionCache: bounded LRU — isolation-session churn cannot grow the map or evict the hot root session") {
    // The round-13 WeakHashMap version leaked every newSession() forever:
    // cached DataFrames strongly reference their creating session (the map
    // key), so weak keys never collected. The LRU bound is the fix — churn
    // from one-shot sessions evicts only other one-shot sessions, because
    // the root session is re-touched between them (as it is between real
    // queries).
    val cache = new Memo.SessionCache[String](maxSessions = 8)
    val k = Memo.Family("k", "")
    assert(cache.get(spark, k, "v")("root") == "root")
    val firstIso = spark.newSession()
    cache.get(firstIso, k, "v")("iso0")
    (1 to 40).foreach { i =>
      cache.get(spark.newSession(), k, "v")(s"iso$i") // one-shot churn
      assert(cache.get(spark, k, "v")(fail("root entry must survive churn")) == "root")
    }
    assert(cache.sessionCount <= 8, s"LRU must bound retained sessions, got ${cache.sessionCount}")
    assert(cache.retains(spark), "hot root session must stay resident")
    assert(!cache.retains(firstIso), "cold isolation sessions must age out")
  }

  test("eviction soak: 50 fingerprint rotations per mode leave cache size and storage flat") {
    val modeKey = "spark.graft.checkpoint.mode"
    val dir = tempDir("graft_soak").toString
    var rows = 0L

    // LOCAL mode: 50 rotations of one artifact — exactly one live cache
    // entry and exactly one persisted checkpoint RDD at every step.
    val art = Memo.artifact("soak")((s, _) => s.range(rows).toDF("id"))
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    var last: org.apache.spark.sql.DataFrame = null
    (1 to 50).foreach { i =>
      touch(dir, "soak", i); rows = 10 + i
      last = art(spark, dir)
      assert(last.count() == 10 + i)
      assert(art.size == 1, s"rotation $i: cache grew to ${art.size}")
      val extra = spark.sparkContext.getPersistentRDDs.size - persistedBefore
      assert(extra <= 1, s"rotation $i: $extra superseded checkpoint RDDs still persisted")
    }
    assert(persisted(last), "live pin must stay persisted")

    // RELIABLE mode: same soak; the checkpoint DIRECTORY count must stay
    // flat (deterministic releasePin deletes, not GC timing).
    val ckpDir = tempDir("graft_soak_ckp").toString
    def rddDirs(): Int = {
      val kids = new java.io.File(ckpDir).listFiles()
      if (kids == null) 0
      else kids.map(d => Option(d.listFiles()).map(_.count(_.getName.startsWith("rdd-"))).getOrElse(0)).sum
    }
    spark.conf.set(modeKey, "reliable")
    try {
      spark.sparkContext.setCheckpointDir(ckpDir)
      val rArt = Memo.artifact("rsoak")((s, _) => s.range(rows).toDF("id"))
      (1 to 50).foreach { i =>
        touch(dir, "rsoak", i); rows = 10 + i
        val v = rArt(spark, dir)
        assert(v.count() == 10 + i)
        assert(rArt.size == 1)
        assert(rddDirs() <= 1, s"rotation $i: ${rddDirs()} reliable checkpoint dirs accumulated")
      }
      assert(rddDirs() == 1, "the live pin's checkpoint dir must remain")
    } finally spark.conf.unset(modeKey)
  }

  test("concurrent first callers compute once per key") {
    val cache = new Memo.Cache[java.lang.Long]
    val calls = new java.util.concurrent.atomic.AtomicLong
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val results = (1 to 8).map { _ =>
      pool.submit(new java.util.concurrent.Callable[java.lang.Long] {
        def call(): java.lang.Long =
          cache.get(Memo.Family("k", ""), "v") { Thread.sleep(50); calls.incrementAndGet() }
      })
    }
    val got = results.map(_.get()).toSet
    pool.shutdown()
    assert(calls.get() == 1L && got == Set(1L: java.lang.Long))
  }

  test("a source path containing '|' releases the superseded pin on rotation") {
    // A '|'-joined string key parsed back into (family, version) took a
    // path fragment for the version here, so the fingerprint leaked into
    // the family and a rotation never found the pin it superseded.
    val dir = tempDir("graft_memo_a|b").toString
    var rows = 3L
    val art = Memo.artifact("t")((s, _) => s.range(rows).toDF("id"))
    touch(dir, "t", 1)
    val v1 = art(spark, dir)
    touch(dir, "t", 2); rows = 4
    val v2 = art(spark, dir)
    assert(!persisted(v1), "superseded pin under a '|' path must be released")
    assert(art.size == 1 && v2.count() == 4 && persisted(v2))
  }

  test("a nested artifact builds each level once per fingerprint, and a rotation rebuilds and releases both") {
    // The outer build reads the inner artifact, so the inner compute runs
    // inside the outer's computeIfAbsent: each declaration must own its
    // map (a shared ConcurrentHashMap forbids that nesting).
    val dir = tempDir("graft_memo_nested").toString
    var rows = 5L
    val innerBuilds = new java.util.concurrent.atomic.AtomicInteger
    val outerBuilds = new java.util.concurrent.atomic.AtomicInteger
    val inner = Memo.artifact("t") { (s, _) => innerBuilds.incrementAndGet(); s.range(rows).toDF("id") }
    val outer = Memo.artifact("t") { (s, d) =>
      outerBuilds.incrementAndGet(); inner(s, d).select((col("id") * 2).as("id2"))
    }
    touch(dir, "t", 1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val firsts = try {
      (1 to 4).map(_ => pool.submit(new java.util.concurrent.Callable[org.apache.spark.sql.DataFrame] {
        def call(): org.apache.spark.sql.DataFrame = outer(spark, dir)
      })).map(_.get())
    } finally pool.shutdown()
    val o1 = firsts.head
    assert(firsts.forall(_ eq o1), "concurrent callers share one outer value")
    val i1 = inner(spark, dir)
    assert((innerBuilds.get, outerBuilds.get) == ((1, 1)), "each level builds once per fingerprint")
    assert(persisted(i1) && persisted(o1) && pinnedRdd(i1).id != pinnedRdd(o1).id,
      "each level is its own pin")

    touch(dir, "t", 2); rows = 7
    val o2 = outer(spark, dir)
    assert((innerBuilds.get, outerBuilds.get) == ((2, 2)), "a rotation rebuilds both levels")
    assert(!persisted(i1) && !persisted(o1), "a rotation releases both superseded pins")
    assert(o2.as[Long].collect().sorted.toSeq == (0L until 7L).map(_ * 2))
    assert(inner.size == 1 && outer.size == 1)
  }
}
