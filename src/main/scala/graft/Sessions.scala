package graft

import org.apache.spark.sql.SparkSession

/** One tuned SparkSession builder for Verify/Bench/tests so every entry point
  * runs with identical semantics: UTC (oracle discipline, SURVEY.md §5.2),
  * shuffle partitions sized to cores (not 200 — right for local[n]; on a real
  * cluster AQE coalescing makes the initial number a ceiling, not a cost),
  * nanosAsLong (the only way Spark 4 reads the ns-precision events.ts), and
  * AQE left on for runtime re-planning / skew handling.
  */
object Sessions {
  /** The settings every graft session shares, whatever its master; a caller
    * that needs one more static setting (the kill probe's own warehouse)
    * adds it to this builder.
    */
  private[graft] def shared(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions())
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // GC-driven backstop for checkpoint files whose pin is dropped
      // without a Memo artifact's eviction (releasePin is the deterministic
      // path; this catches the per-run intermediate pins no artifact owns)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      // one warehouse, so one SnapshotStore root, whatever the working directory
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft-warehouse"))

  def tuned(master: String, cpus: String): SparkSession =
    shared(master, cpus).getOrCreate()

  /** The multi-JVM probe session ([[KillProbe]]):
    * `local-cluster[2,2,1024]` — a REAL standalone scheduler with two
    * separate executor JVM processes, the only in-sandbox posture where an
    * executor can actually die. Executors are spawned by the Worker, so they
    * need the app classes (same machine → extraClassPath of this JVM's
    * classpath); SparkContext itself prepends the JDK17 `--add-opens` set to
    * `spark.executor.extraJavaOptions`. The executors' `java.io.tmpdir` is a
    * [[ProbeKill.tempDir]], so the native libraries snappy and lz4 extract
    * there are deleted with it even when a probe SIGKILLs the executor.
    * Requires SPARK_SCALA_VERSION=2.13 in the environment (the Worker builds
    * the executor command through the launcher library, whose Scala-version
    * probe otherwise dies with "Cannot find any build directories" when
    * SPARK_HOME is a bare dist without launcher/target).
    */
  def localCluster(extraConf: Map[String, String] = Map.empty): SparkSession = {
    val b = shared("local-cluster[2,2,1024]", "8")
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .config("spark.executor.extraJavaOptions",
        s"-Djava.io.tmpdir=${ProbeKill.tempDir("graft_executor_tmp")}")
    extraConf.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
  }
}
