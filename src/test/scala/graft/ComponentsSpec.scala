package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Components

class ComponentsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Reference labels by plain union-find; self-loops carry no edge. */
  private def ufLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val links = edges.filter(e => e._1 != e._2)
    links.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = links.flatMap(e => Seq(e._1, e._2)).distinct
    verts.map(v => v -> find(v)).toMap
  }

  /** [[Components.labels]] of `df` as a map, after checking the output
    * schema: v and lbl of the input's id type, both nullable.
    */
  private def labelsOf(df: DataFrame): Map[Long, Long] = {
    val out = Components.labels(df)
    val idType = df.schema("u").dataType
    assert(out.schema == StructType(Seq(StructField("v", idType), StructField("lbl", idType))))
    out.select(col("v").cast("long"), col("lbl").cast("long")).as[(Long, Long)].collect().toMap
  }

  test("property: labels equals union-find on random graphs") {
    // Random edges include duplicates, reversed pairs and self-loops; half
    // the trials use IntegerType ids, half LongType. The last graph is a
    // 200-node path (diameter 199).
    val rnd = new scala.util.Random(47)
    val graphs = Seq.fill(8) {
      val n = 10 + rnd.nextInt(40)
      Seq.fill(5 + rnd.nextInt(60))((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    } :+ (0L until 199L).map(i => (i + 1, i))
    for ((edges, trial) <- graphs.zipWithIndex) {
      val df =
        if (trial % 2 == 0) edges.map(e => (e._1.toInt, e._2.toInt)).toDF("u", "v")
        else edges.toDF("u", "v")
      assert(labelsOf(df) == ufLabels(edges), s"trial $trial: $edges")
    }
  }

  test("self-loops and duplicate/reversed edges are normalized away") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 2L), (1L, 2L), (4L, 3L), (5L, 5L))
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L)
    assert(labelsOf(edges.toDF("u", "v")) == want)
    assert(labelsOf(edges.map(e => (e._1.toInt, e._2.toInt)).toDF("u", "v")) == want)
  }

  test("an edge with a null endpoint is dropped") {
    // Vertex 7 appears only beside a null, so it is not in the output.
    val edges = Seq((Some(1L), Some(2L)), (None, Some(7L)), (Some(3L), None), (Some(2L), Some(3L)),
      (None, None))
    assert(labelsOf(edges.toDF("u", "v")) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("a graph above DriverMaxEdges is rejected, naming the cap") {
    // DriverMaxEdges + 1 distinct edges of one path: normalized edges are
    // counted, so the input is past the cap by exactly one.
    val edges = spark.range(Components.DriverMaxEdges + 1L)
      .select((col("id") + 1).as("u"), col("id").as("v"))
    val e = intercept[IllegalArgumentException](Components.labels(edges))
    assert(e.getMessage.contains("1048576"), e.getMessage)
  }

  test("non-integral vertex ids are rejected, naming the type") {
    val e = intercept[IllegalArgumentException](
      Components.labels(Seq(("a", "b"), ("b", "c")).toDF("u", "v")))
    assert(e.getMessage.contains("string"), e.getMessage)
  }

  test("labels on a 60-edge graph runs at most 2 Spark jobs") {
    // The bounded collect is the only action: two jobs over a
    // two-partition input, the limit's exchange and the result.
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(60)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val df = edges.toDF("u", "v").repartition(2).localCheckpoint()
    val (out, jobs) = jobsRunBy(Components.labels(df))
    assert(jobs <= 2, s"labels ran $jobs jobs")
    assert(out.as[(Long, Long)].collect().toMap == ufLabels(edges))
  }

  test("incremental fold equals full recontraction over the same edge set") {
    val d = "/root/testdata/sf0.001"
    assertFoldEqualsRecontraction(d)
  }

  test("a fresh doc in a hot corpus skey bucket gets an edge to the bucket's minimum corpus doc") {
    val d = tempDir("hotskey").toString
    // 120 docs of one text: each band bucket of the 108 corpus docs
    // (doc_id % 10 != 7) is over BucketCap, and the 12 fresh docs
    // (doc_id % 10 = 7) fall into every one of them.
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    (0L until 120L).map(i => (i, text, "en", "test", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val edges = graft.operators.TextQueries.incNewEdges(spark, d).as[(Long, Long)].collect().toSet
    val newCorpus = edges.filter { case (_, v) => v % 10 != 7 }
    assert(newCorpus == (7L until 120L by 10L).map(_ -> 0L).toSet, newCorpus)
    assertFoldEqualsRecontraction(d)
  }

  /** The q_dedup_cluster_incremental claim, stated directly: folding the
    * new snapshot's edges into the corpus label store (labelling only the
    * quotient graph) must produce EXACTLY the labels a from-scratch
    * labelling of corpus ∪ new edges produces.
    */
  private def assertFoldEqualsRecontraction(d: String): Unit = {
    val fold = SparkEntry.queries("q_dedup_cluster_incremental")(spark, d)
      .as[(Long, Long)].collect().toMap
    // Branches share base-plan lineage, which trips Union constraint
    // rewriting in a direct unionAll here — materialize the (tiny,
    // spec-only) edge lists and re-parallelize instead.
    val edges =
      (graft.operators.TextQueries.incCorpusEdges(spark, d).as[(Long, Long)].collect() ++
        graft.operators.TextQueries.incNewEdges(spark, d).as[(Long, Long)].collect())
        .toSeq.toDF("u", "v")
    val full = Components.labels(edges).as[(Long, Long)].collect().toMap
    assert(fold.nonEmpty && fold == full)
  }
}
