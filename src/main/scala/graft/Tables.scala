package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the driver-generated star schema + event +
  * LLM-pipeline tables (see FIXTURES.md). Every query in
  * [[SparkEntry.queries]] is parameterized by `sfDir` so the same plan runs
  * unchanged on sf0.001 … 100 TB; nothing here is collected to the driver.
  */
object Tables {
  import graft.sources.Memo

  /** `spark.read.parquet` pays file listing + parquet schema inference on
    * EVERY call (~80 ms/call on the round-12 host class, measured repeat
    * cost) — driver-side metadata work a real cluster pays once per query,
    * but which the 169-query bench paid 2-3× per query per round. The
    * resolved DataFrame is immutable, so it is memoized per SparkSession
    * under the source's [[Memo.family]] and [[Memo.fingerprint]]: a
    * regenerated fixture (a new fingerprint) or a new session gets a fresh
    * read; everything downstream — analysis, optimization, scan, shuffle —
    * still runs per query, so bench numbers keep measuring the query, not
    * repeated footer reads. Keyed per SESSION (not per context): a
    * Dataset's temp views register in the session that created it, so
    * `newSession()` isolation sessions must never be handed a sibling's
    * DataFrame.
    */
  private val loads = new Memo.SessionCache[DataFrame]
  // The inferred schema is a plain value, valid across sessions — cached
  // under the same context-free family and fingerprint WITHOUT session
  // identity so the short-lived `newSession()` isolation sessions (which
  // by design miss the DataFrame memo every call) still skip the
  // footer-reading schema inference.
  private val schemas = new Memo.Cache[org.apache.spark.sql.types.StructType]
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val family = Memo.family(sfDir, name)
    val version = Memo.fingerprint(sfDir, name)
    loads.get(spark, family, version) {
      val path = s"$sfDir/$name.parquet"
      val schema = schemas.get(family, version)(spark.read.parquet(path).schema)
      spark.read.schema(schema).parquet(path)
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` has shipped in several parquet encodings across testdata
    * generations; normalize every one to µs TimestampType (LTZ) so
    * unix_micros & friends resolve downstream:
    *  - ns-precision INT64 (read as LongType under
    *    spark.sql.legacy.parquet.nanosAsLong, set by [[Sessions.tuned]]):
    *    integer `div` 1000 — a double divide would lose precision on
    *    epoch-nanos (~1.7e18 > 2^53). Matches DuckDB's ns→µs truncation.
    *  - µs timestamp without timezone (TIMESTAMP_NTZ): cast to TIMESTAMP.
    *    The session timezone is pinned UTC, so the cast is a pure
    *    reinterpretation of the same micros — exactly DuckDB's epoch_us()
    *    on a naive timestamp.
    *  - µs TIMESTAMP: already the target type.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // The NTZ->LTZ cast reinterprets WALL-CLOCK time in the session
        // zone: only under UTC is it the pure micros reinterpretation the
        // scaladoc promises. A session built without [[Sessions.tuned]]
        // would silently shift every event by its zone offset — fail loudly
        // instead.
        val tz = s.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"events.ts is TIMESTAMP_NTZ: the micros-preserving cast to " +
            s"TIMESTAMP requires spark.sql.session.timeZone=UTC (got '$tz'); " +
            "build the session via graft.Sessions.tuned")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
