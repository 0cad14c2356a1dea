package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.JsonlIngest

class JsonlIngestSpec extends AnyFunSuite with SparkSpec {

  private val schema = new StructType()
    .add("doc_id", LongType).add("text", StringType).add("lang", StringType)

  private def writeFixture(lines: Seq[String]): String = {
    val dir = tempDir("jsonl")
    Files.write(dir.resolve("part-0.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    dir.toString
  }

  test("clean rows parse against the pinned schema; corrupt lines quarantine with the raw text") {
    val dir = writeFixture(Seq(
      """{"doc_id": 1, "text": "hello world", "lang": "en"}""",
      """{"doc_id": 2, "text": "bonjour", "lang": "fr"}""",
      """{"doc_id": 3, "text": "truncated...""", // unterminated JSON
      """not json at all""",
      """{"doc_id": 4, "text": "ok", "lang": "de"}"""))
    val parsed = JsonlIngest.read(spark, dir, schema).persist()
    val clean = JsonlIngest.clean(parsed)
    val quarantined = JsonlIngest.quarantine(parsed)

    assert(clean.select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet == Set(1L, 2L, 4L))
    assert(clean.columns.toSeq == Seq("doc_id", "text", "lang")) // no corrupt col leaks
    val bad = quarantined.select("raw_line").collect().map(_.getString(0)).toSet
    assert(bad.exists(_.contains("truncated")) && bad.exists(_.contains("not json")))
    assert(quarantined.count() == 2)
    // fingerprint is deterministic: re-reading yields identical hashes
    val again = JsonlIngest.quarantine(JsonlIngest.read(spark, dir, schema).persist())
      .select("line_hash").collect().map(_.getString(0)).toSet
    assert(again == quarantined.select("line_hash").collect().map(_.getString(0)).toSet)
  }

  test("clean and quarantine are filters over one schema-pinned scan, not re-reads") {
    val dir = writeFixture(Seq("""{"doc_id": 1, "text": "a", "lang": "en"}"""))
    val parsed = JsonlIngest.read(spark, dir, schema)
    // no schema inference pass: the relation's schema is exactly the pinned one
    assert(parsed.schema.fieldNames.toSeq ==
      Seq("doc_id", "text", "lang", JsonlIngest.CorruptCol))
    // a type-mismatched row (doc_id is a string) quarantines rather than nulls
    val dir2 = writeFixture(Seq("""{"doc_id": "NaN", "text": "x", "lang": "en"}"""))
    val parsed2 = JsonlIngest.read(spark, dir2, schema).persist()
    assert(JsonlIngest.clean(parsed2).count() == 0)
    assert(JsonlIngest.quarantine(parsed2).count() == 1)
  }
}
