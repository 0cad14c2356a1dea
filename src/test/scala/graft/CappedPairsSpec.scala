package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{TextQueries, VectorQueries}
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

  test("building cappedPairs runs no Spark job: both phases wait for the query's own action") {
    import spark.implicits._
    // one over-cap bucket (BucketCap star pairs) and one pair bucket
    val rows = (0L to BucketCap.toLong).map(("hot", _)) ++ Seq(("two", 7L), ("two", 8L))
    val (out, jobs) = jobsRunBy(TextQueries.cappedPairs(rows.toDF("bkey", "doc_id"), Seq("bkey"),
        col("doc_id"), Nil)(idPair))
    assert(jobs == 0, s"building cappedPairs ran $jobs job(s)")
    assert(out.count() == BucketCap + 1)
  }

  test("an embedding band bucket of BucketCap + 1 near-identical vectors stars from its minimum vec_id") {
    import spark.implicits._
    val dir = tempDir("embedcap").toString
    // BucketCap + 1 vectors of one sign pattern, apart only in the size of
    // their first element, share the bucket of every band. Two vectors of
    // another pattern share small buckets and pair as before.
    def vec(positive: Int => Boolean, bump: Float) =
      Array.tabulate(64)(i => (if (positive(i)) 0.5f else -0.5f) + (if (i == 0) bump else 0f))
    val hot = (0 to BucketCap).map(k => (1000L + k, vec(_ % 3 == 0, k * 1e-3f)))
    val small = Seq(5L, 6L).map(id => (id, vec(_ % 2 == 0, id * 1e-3f)))
    (hot ++ small).map { case (id, e) => (id, e, 0) }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    val got = VectorQueries.embedCandidates(spark, dir)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
    assert(got.toSet == (1001L to 1000L + BucketCap).map(1000L -> _).toSet + (5L -> 6L))
    assert(got.length == got.toSet.size, "a pair was emitted twice")
  }

  test("the pair expansion and the sz-versus-BucketCap gate live only in cappedPairs") {
    // One spelling of the cap policy: a second in-bucket expansion (a
    // slice from i + 2 inside transform) or a second read of BucketCap,
    // whatever the gate's column is called, would let the copies drift
    // apart. BucketCap is declared once and read by cappedPairs, by
    // cappedStore (the stored side of the corpus↔new probes) and by the cap
    // audit, which prices cappedPairs' stars. cappedPairs materializes
    // nothing: a pin or persist in it would run a job while its caller is
    // still building a query. Comments do not count.
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root, not ${root.toAbsolutePath}")
    val expansion = """slice\([^\n]*\bi\s*\+\s*lit\(2\)""".r
    val cap = """\bBucketCap\b""".r
    val materialize = """\.pin\(\)|\.persist\(""".r
    // comments blanked to spaces, so offsets and line numbers still hold
    val comment = """(?s)/\*.*?\*/|//[^\n]*""".r
    def code(src: String) = comment.replaceAllIn(src, m => m.matched.replaceAll("[^\n]", " "))
    // the source span of a definition: from its opening text to the first
    // `close` after it
    def span(src: String, open: String, close: String): Option[(Int, Int)] = {
      val start = src.indexOf(open)
      if (start < 0) None else Some((start, src.indexOf(close, start)))
    }
    val walk = Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    // (pattern, where it matched): the name of an allowed site or file:line
    val found = files.flatMap { f =>
      val raw = Files.readString(f)
      val src = code(raw)
      val capped = span(src, "def cappedPairs(", "\n  }\n")
      val sites = Seq(
        "cappedPairs" -> capped,
        "cappedStore" -> span(src, "def cappedStore(", "\n\n"),
        "audit" -> span(src, "\"q_dedup_cap_audit\" ->", "\n    }),\n"),
        "declaration" -> span(src, "val BucketCap = ", "\n"))
      val pinned = for {
        (a, b) <- capped.toSeq
        m <- materialize.findAllMatchIn(src.substring(a, b))
      } yield "materialize" -> s"$f: cappedPairs calls ${m.matched}"
      pinned ++ Seq("expansion" -> expansion, "cap" -> cap).flatMap { case (kind, re) =>
        re.findAllMatchIn(src).map(_.start).map { at =>
          val line = src.substring(0, at).count(_ == '\n')
          val site = sites.collectFirst { case (name, Some((a, b))) if a <= at && at < b => name }
          kind -> site.filter(kind == "cap" || _ == "cappedPairs")
            .getOrElse(s"$f:${line + 1}: ${raw.linesIterator.drop(line).next().trim}")
        }
      }
    }
    val stray = found.map(_._2).filterNot(Set("cappedPairs", "cappedStore", "audit", "declaration"))
    assert(stray.isEmpty, stray.mkString("\n"))
    // the patterns still find each helper's own reads
    assert(found.filter(_._2 == "cappedPairs").map(_._1).sorted == Seq("cap", "cap", "expansion"), found)
    assert(found.count(_ == ("cap" -> "cappedStore")) == 1, found)
  }
}
