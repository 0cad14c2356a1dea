package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextQueries
import graft.operators.TextQueries.BucketCap

/** TextQueries.cappedPairs, the one bounded-state pair expansion of the
  * dedup family: all C(n, 2) pairs for a bucket of 2..BucketCap members, a
  * star to the bucket minimum above the cap, nothing for a singleton.
  */
class CappedPairsSpec extends AnyFunSuite with SparkSpec {

  private def idPair(a: Column, b: Column) = struct(a.as("doc_a"), b.as("doc_b"))

  /** The policy spelled out over plain Scala collections. */
  private def reference(rows: Seq[(Long, String, Long)]): Set[(Long, Long, Long)] =
    rows.groupBy { case (r, bkey, _) => (r, bkey) }.toSeq.flatMap { case ((r, _), ms) =>
      val ids = ms.map(_._3).sorted
      if (ids.size <= BucketCap) ids.combinations(2).map(p => (r, p(0), p(1))).toSeq
      else ids.tail.map(id => (r, ids.head, id))
    }.toSet

  test("buckets of 1, 2, BucketCap and BucketCap + 1 members match the brute-force reference per carried value") {
    import spark.implicits._
    // Each r holds one bucket of every size, over disjoint id ranges, and
    // the two r values share their bucket keys: if r did not split the
    // buckets, "full" would hold 2 * BucketCap members and star, and "one"
    // and "two" would pair across r.
    val sizes = Seq("one" -> 1, "two" -> 2, "full" -> BucketCap, "over" -> (BucketCap + 1))
    val rows = for {
      r <- Seq(1L, 2L)
      ((bkey, n), k) <- sizes.zipWithIndex
      i <- 0 until n
    } yield (r, bkey, r * 100000L + k * 1000L + i)
    val out = TextQueries.cappedPairs(rows.toDF("r", "bkey", "doc_id"), Seq("bkey"),
        col("doc_id"), Seq("r"))(idPair)
    assert(out.columns.toSeq == Seq("r", "doc_a", "doc_b"))
    val got = out.as[(Long, Long, Long)].collect().toSeq
    assert(got.size == got.toSet.size, "a pair was emitted twice")
    assert(got.toSet == reference(rows))
    // per r: C(2,2) + C(100,2) clique pairs, 100 star pairs, none from the singleton
    val perR = 1 + BucketCap * (BucketCap - 1) / 2 + BucketCap
    assert(got.groupBy(_._1).view.mapValues(_.size).toMap == Map(1L -> perR, 2L -> perR))
    // each "over" bucket: BucketCap star pairs, all from its minimum id
    val over = got.filter { case (r, _, b) => b / 1000L == r * 100L + 3L }
    assert(over.size == 2 * BucketCap && over.forall { case (r, a, _) => a == r * 100000L + 3000L })
  }

  test("a struct member stars around the bucket minimum and keeps its fields") {
    import spark.implicits._
    val rows = (0L to BucketCap.toLong).map(i => ("hot", 500L - i, i % 7))
    val out = TextQueries.cappedPairs(rows.toDF("w", "doc_id", "n"), Seq("w"),
        struct(col("doc_id"), col("n")), Nil)((a, b) =>
        struct(a.getField("doc_id").as("doc_a"), a.getField("n").as("na"),
          b.getField("doc_id").as("doc_b"), b.getField("n").as("nb")))
    assert(out.columns.toSeq == Seq("doc_a", "na", "doc_b", "nb"))
    val got = out.as[(Long, Long, Long, Long)].collect().toSet
    val rep = 500L - BucketCap
    val nOf = rows.map { case (_, id, n) => id -> n }.toMap
    assert(got == rows.collect { case (_, id, n) if id != rep => (rep, nOf(rep), id, n) }.toSet)
  }

  test("the pair expansion and the sz-versus-BucketCap gate live only in cappedPairs") {
    // One spelling of the cap policy: a second in-bucket expansion (a
    // slice from i + 2 inside transform) or a second `sz` gate against
    // BucketCap would let the copies drift apart. The cap audit's size
    // histogram prices cappedPairs' stars and is the one other `sz` gate.
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root, not ${root.toAbsolutePath}")
    val expansion = """slice\([^\n]*\bi\s*\+\s*lit\(2\)""".r
    val gate = """col\("sz"\)[^\n]*BucketCap""".r
    // the source span of a definition: from its opening line to the first
    // line closing it at the same indentation
    def span(src: String, open: String, close: String): Option[(Int, Int)] = {
      val start = src.indexOf(open)
      if (start < 0) None else Some((start, src.indexOf(close, start)))
    }
    val walk = Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    // (pattern, where it matched): "helper", "audit" or file:line
    val found = files.flatMap { f =>
      val src = Files.readString(f)
      val helper = span(src, "def cappedPairs(", "\n  }\n")
      val audit = span(src, "\"q_dedup_cap_audit\" ->", "\n    }),\n")
      def within(at: Int, s: Option[(Int, Int)]) = s.exists { case (a, b) => a <= at && at < b }
      Seq("expansion" -> expansion, "gate" -> gate).flatMap { case (kind, re) =>
        re.findAllMatchIn(src).map(_.start).map { at =>
          val line = src.substring(0, at).count(_ == '\n')
          kind -> (if (within(at, helper)) "helper"
            else if (kind == "gate" && within(at, audit)) "audit"
            else s"$f:${line + 1}: ${src.linesIterator.drop(line).next().trim}")
        }
      }
    }
    val stray = found.map(_._2).filterNot(Set("helper", "audit"))
    assert(stray.isEmpty, stray.mkString("\n"))
    // the patterns still find the helper's own expansion and its two gates
    assert(found.filter(_._2 == "helper").map(_._1).sorted == Seq("expansion", "gate", "gate"), found)
  }
}
