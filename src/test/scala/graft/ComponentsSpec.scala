package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
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

  /** Labels from both paths — driver union-find ([[Components.labels]])
    * and star contraction ([[Components.contract]]) — on the same input,
    * after checking that the two output schemas are equal.
    */
  private def bothPaths(df: DataFrame, maxIter: Int = 25): (Map[Long, Long], Map[Long, Long]) = {
    val (driver, star) = (Components.labels(df, maxIter), Components.contract(df, maxIter))
    assert(driver.schema == star.schema)
    def collect(out: DataFrame) =
      out.select(col("v").cast("long"), col("lbl").cast("long")).as[(Long, Long)].collect().toMap
    (collect(driver), collect(star))
  }

  private def starLabels(edges: Seq[(Long, Long)], maxIter: Int = 25): Map[Long, Long] =
    Components.contract(edges.toDF("u", "v"), maxIter)
      .as[(Long, Long)].collect().toMap

  test("property: star contraction equals union-find on random graphs") {
    // Each graph runs through both paths: driver union-find (labels) and
    // star contraction (contract), with equal output schemas. Random edges
    // include duplicates, reversed pairs and self-loops; half the trials
    // use IntegerType ids, half LongType.
    val rnd = new scala.util.Random(47)
    for (trial <- 1 to 8) {
      val n = 10 + rnd.nextInt(40)
      val m = 5 + rnd.nextInt(60)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val df =
        if (trial % 2 == 0) edges.map(e => (e._1.toInt, e._2.toInt)).toDF("u", "v")
        else edges.toDF("u", "v")
      val want = ufLabels(edges)
      val (driver, star) = bothPaths(df)
      assert(driver == want, s"trial $trial driver: $edges")
      assert(star == want, s"trial $trial star: $edges")
    }
  }

  test("long path converges to the min root in O(log n) rounds") {
    // A 200-node path has diameter 199 — min-label propagation at the old
    // 20-round cap would return silently-partial labels; star contraction
    // must finish (and label everything 0) well inside 25 rounds.
    val edges = (0L until 199L).map(i => (i, i + 1))
    val got = starLabels(edges)
    assert(got.size == 200 && got.values.forall(_ == 0L))
  }

  test("exhausting the iteration cap throws instead of returning partial labels") {
    val edges = (0L until 63L).map(i => (i, i + 1))
    val e = intercept[IllegalStateException](starLabels(edges, maxIter = 1))
    assert(e.getMessage.contains("did not converge"))
  }

  test("edge digest separates sets the old (count, sum, sum) triple confused") {
    // {(3,1),(4,2)} and {(4,1),(3,2)} share count=2, sum(u)=7, sum(v)=3 —
    // the collision ADVICE flagged. The hash-XOR digest must tell them
    // apart, and must be order-insensitive for a permuted equal set.
    val a = Seq((3L, 1L), (4L, 2L)).toDF("u", "v")
    val b = Seq((4L, 1L), (3L, 2L)).toDF("u", "v")
    val aPermuted = Seq((4L, 2L), (3L, 1L)).toDF("u", "v")
    assert(Components.edgeDigest(a) != Components.edgeDigest(b))
    assert(Components.edgeDigest(a) == Components.edgeDigest(aPermuted))
  }

  test("self-loops and duplicate/reversed edges are normalized away") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 2L), (1L, 2L), (4L, 3L), (5L, 5L))
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L)
    assert(bothPaths(edges.toDF("u", "v")) == ((want, want)))
    assert(bothPaths(edges.map(e => (e._1.toInt, e._2.toInt)).toDF("u", "v")) == ((want, want)))
  }

  test("an edge with a null endpoint is dropped on both paths") {
    // Vertex 7 appears only beside a null, so it is in neither output.
    val edges = Seq((Some(1L), Some(2L)), (None, Some(7L)), (Some(3L), None), (Some(2L), Some(3L)),
      (None, None))
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L)
    assert(bothPaths(edges.toDF("u", "v")) == ((want, want)))
  }

  /** `f`'s result and the Spark jobs started while it runs, counted by a
    * listener.
    */
  private def jobsRunBy[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val sentinel = "components-spec-sentinel"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      // The bus delivers in order: once the sentinel job is seen, every
      // job `f` started has been counted.
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.contains(sentinel), "sentinel job start not delivered within 30 s")
      (out, jobs.size - 1)
    } finally sc.removeSparkListener(listener)
  }

  test("labels on a 60-edge graph runs at most 2 Spark jobs") {
    // The driver path's bounded collect is its only action (two jobs over
    // a two-partition input: the limit's exchange and the result); star
    // contraction on the same graph pays a checkpoint job per round.
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(60)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val df = edges.toDF("u", "v").repartition(2).localCheckpoint()
    val (driver, viaDriver) = jobsRunBy(Components.labels(df))
    val (star, viaStar) = jobsRunBy(Components.contract(df, 25))
    assert(viaDriver <= 2, s"labels ran $viaDriver jobs")
    assert(viaStar > 2, s"contract ran $viaStar jobs")
    for (out <- Seq(driver, star)) assert(out.as[(Long, Long)].collect().toMap == ufLabels(edges))
  }

  test("incremental fold equals full recontraction over the same edge set") {
    // The q_dedup_cluster_incremental claim, stated directly: folding the
    // new snapshot's edges into the corpus label store (contracting only
    // the quotient graph) must produce EXACTLY the labels a from-scratch
    // contraction of corpus ∪ new edges produces.
    val d = "/root/testdata/sf0.001"
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
