package graft.operators

import java.util.concurrent.TimeoutException
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Connected components of an edge list, on the driver when the graph is
  * small and by distributed star contraction when it is not.
  *
  * [[Components.labels]] first collects at most `DriverMaxEdges + 1`
  * normalized edges in one bounded aggregate (one Spark job, two when the
  * limit needs an exchange). When the graph has at most
  * [[Components.DriverMaxEdges]] edges it runs union-find on the driver,
  * which takes no further job, and returns the labels as a local
  * DataFrame. Above the constant it hands the edges to
  * [[Components.contract]]. The cost of a round-based algorithm is rounds
  * times per-round latency; a graph that fits one machine is cheapest in
  * one round, and the O(log n) rounds of star contraction only pay once it
  * does not fit (on the dedup fixtures' few hundred edges it takes 4
  * rounds and about 30 jobs).
  *
  * [[Components.contract]] is alternating large-star / small-star
  * contraction (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC 2014): unlike min-label propagation, which needs
  * O(component diameter) rounds and keeps the full edge set live every
  * round, it converges in O(log n) rounds and shrinks the edge set toward
  * one star per component (rooted at the component minimum) as it goes.
  *
  * Edge representation: (u, v) with u > v, deduped, no self-loops — both
  * operations preserve that canonical orientation, so no re-normalization
  * pass is needed between rounds. Per round the only wide operations are one
  * groupBy and one join per star op, both keyed on a vertex id; neighbor
  * lists are never collected into a row (a hub vertex's neighborhood stays
  * distributed — the collect_list formulation would OOM on the star-shaped
  * intermediates this algorithm deliberately produces).
  *
  * Convergence is detected by an order-insensitive set digest of the
  * canonical edge set — (count, bit_xor(xxhash64(u,v)), bit_xor(murmur3
  * (u,v))) — one cheap aggregate job per round over the pinned (Memo.pin)
  * edges, no extra join (the previous isEmpty-diff formulation paid a full
  * self-join per round). XORing per-edge hashes from two independent
  * families makes the digest effectively set-unique: a repeat across rounds
  * means the edge SET is unchanged (collision odds ~2^-64 per comparison),
  * unlike the earlier (count, sum(u), sum(v)) triple, which distinct edge
  * sets such as {(3,1),(4,2)} vs {(4,1),(3,2)} share.
  * A run that exhausts `maxIter` without converging THROWS rather than
  * returning silently-partial labels (labels that diverge from the exact
  * transitive closure the oracle computes).
  */
object Components {

  /** One large-star round: every vertex connects its strictly-larger
    * neighbors to the minimum of its closed neighborhood. Input/output
    * edges are canonical (u > v).
    */
  def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
    // least(u, mn) = min of the closed neighborhood; emitted pair has
    // v > u >= least(u, mn), so the canonical orientation is preserved and
    // no self-loop can appear. NO dedup here: duplicate edges cannot change
    // smallStar's per-u min, and smallStar dedups its own output — paying
    // one distinct per round instead of two.
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), least(col("u"), col("mn")).as("v"))
  }

  /** One small-star round: every vertex connects its smaller neighbors (and
    * itself) to the minimum of those neighbors. Input must be canonical
    * (u > v), so the per-u min IS the neighborhood min; output stays
    * canonical.
    */
  def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy(col("u")).agg(min(col("v")).as("mn"))
    e.join(mins, "u").select(col("v").as("u"), col("mn").as("v"))
      .union(mins.select(col("u"), col("mn").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Order-insensitive set digest of a canonical (u, v) edge set: count +
    * bit_xor of two independent per-edge hashes. XOR is overflow-free
    * (ANSI-safe, unlike sum of full-range longs); the contraction loop's
    * edge sets are distinct() so no duplicate can self-cancel, and two hash
    * families make a cross-set collision astronomically unlikely — a
    * repeated digest across rounds means the edge SET reached its fixpoint.
    * Package-visible so the spec can pin that it separates sets the old
    * (count, sum(u), sum(v)) triple confused.
    */
  private[graft] def edgeDigest(d: DataFrame): (Long, Long, Long) = {
    val r = d.agg(
      count(lit(1)),
      bit_xor(xxhash64(col("u"), col("v"))),
      bit_xor(hash(col("u"), col("v")).cast("long"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Pin (eager checkpoint) `d` and compute its [[edgeDigest]] IN THE SAME
    * JOB via `Dataset.observe`: the CollectMetrics aggregates ride the
    * checkpoint's materialization pass, so each contraction round costs one
    * driver-visible job instead of two (round 22, guide §2.4/§5 — the
    * digest job per round was pure scheduling latency; the digest itself is
    * unchanged and ObservedDigestSpec pins it against [[edgeDigest]]).
    */
  private[graft] def pinWithDigest(d: DataFrame): (DataFrame, (Long, Long, Long)) = {
    val obs = Observation()
    val pinned = graft.sources.Memo.pin(d.observe(obs,
      count(lit(1)).as("n"),
      bit_xor(xxhash64(col("u"), col("v"))).as("h1"),
      bit_xor(hash(col("u"), col("v")).cast("long")).as("h2")))
    (pinned, awaitDigest(obs))
  }

  /** How long [[awaitDigest]] waits for a checkpoint's observed metrics.
    * pin() is eager, so they normally arrive with the action; the bound
    * turns a lost delivery into an error instead of a hang.
    */
  private[graft] val ObservedDigestWait: FiniteDuration = 60.seconds

  /** The (n, h1, h2) digest `obs` observed on a contraction checkpoint.
    * bit_xor over zero rows is null → 0L, matching edgeDigest. Throws
    * IllegalStateException naming the metrics if they do not arrive
    * within `bound`.
    */
  private[graft] def awaitDigest(obs: Observation,
      bound: FiniteDuration = ObservedDigestWait): (Long, Long, Long) = {
    val row = try Await.result(obs.future, bound) catch {
      case _: TimeoutException => throw new IllegalStateException(
        s"observed metrics n, h1, h2 of the contraction checkpoint did not arrive within $bound")
    }
    def l(k: String) = row.getAs[Any](k) match { case x: Long => x; case _ => 0L }
    (l("n"), l("h1"), l("h2"))
  }

  /** Largest graph [[labels]] contracts on the driver. The bounded collect
    * returns the edges as one row holding an array of two 8-byte ids per
    * edge (16 B), decoded into an `Array[Long]` of the same size: 2^20
    * edges × 32 B = 32 MB of driver heap, well under 64 MB. Union-find
    * and the returned local rows then add 16 B per edge (the sorted id
    * copy) and 40 B per vertex (ids, parents, roots, labels, and the row
    * data), at most two vertices per edge.
    */
  val DriverMaxEdges: Int = 1 << 20

  /** Per-vertex component labels (v, lbl) of `edges` (columns u, v; any
    * orientation, duplicates allowed; self-loops and edges with a null
    * endpoint ignored), where lbl = the component's minimum vertex id.
    * Both id columns are of the type of `greatest(u, v)`.
    *
    * One bounded aggregate collects at most `DriverMaxEdges + 1`
    * normalized edges. With at most [[DriverMaxEdges]] of them the labels
    * come from union-find on the driver, as a local DataFrame; otherwise
    * (or when the ids are not integral) from [[contract]], which throws if
    * `maxIter` rounds do not reach the fixpoint.
    */
  def labels(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val norm = normalized(edges)
    val idType = norm.schema("u").dataType
    val s = edges.sparkSession
    import s.implicits._
    val small = idType match {
      case ByteType | ShortType | IntegerType | LongType =>
        // u0, v0, u1, v1, ...: collect_list keeps each pair's two ids together.
        Some(norm.limit(DriverMaxEdges + 1)
          .agg(flatten(collect_list(array(col("u").cast(LongType), col("v").cast(LongType)))))
          .as[Array[Long]].head())
          .filter(_.length <= 2 * DriverMaxEdges)
      case _ => None
    }
    small.map { flat =>
      System.err.println(s"[components] driver: ${flat.length / 2} edges")
      val (ids, root) = unionFind(flat)
      Seq((ids, root.map(ids(_)))).toDF("v", "lbl")
        .select(explode(arrays_zip(col("v"), col("lbl"))).as("e"))
        .select(col("e.v").cast(idType).as("v"), col("e.lbl").cast(idType).as("lbl"))
        // Nullable like the star path's output, whose labels come out of a min().
        .to(StructType(Seq(StructField("v", idType), StructField("lbl", idType))))
    }.getOrElse(contract(edges, maxIter))
  }

  /** `edges` as (greatest, least) pairs without self-loops. greatest/least
    * skip a null operand, so an edge with one null endpoint becomes a
    * self-loop and drops out with them.
    */
  private def normalized(edges: DataFrame): DataFrame =
    edges
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))

  /** Union-find over the edges (flat(2i), flat(2i + 1)): the sorted
    * distinct vertex ids and, per id, the index of its component's root.
    * Ids are indexed in sorted order and a union hangs the larger root
    * under the smaller, so every root is its component's minimum.
    */
  private def unionFind(flat: Array[Long]): (Array[Long], Array[Int]) = {
    val all = flat.clone()
    java.util.Arrays.sort(all)
    var n = 0
    all.indices.foreach { i => if (i == 0 || all(i) != all(i - 1)) { all(n) = all(i); n += 1 } }
    val ids = java.util.Arrays.copyOf(all, n)
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    (0 until flat.length by 2).foreach { i =>
      val (ru, rv) = (find(java.util.Arrays.binarySearch(ids, flat(i))),
        find(java.util.Arrays.binarySearch(ids, flat(i + 1))))
      if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
    }
    (ids, Array.tabulate(n)(find))
  }

  /** [[labels]] by star contraction, for graphs above [[DriverMaxEdges]].
    * Throws if `maxIter` alternating rounds do not reach the fixpoint.
    */
  private[graft] def contract(edges: DataFrame, maxIter: Int): DataFrame = {
    // AQE stays ON for the in-loop jobs — measured both ways at sf0.1:
    // AQE's partition coalescing collapses each tiny-graph exchange to a
    // handful of tasks, which beats its per-stage planning latency by a
    // wide margin (disabling it regressed 4 s → 17 s at local[32], where
    // every non-coalesced stage ran 32 near-empty tasks).
    // Round 22: pin + digest share one job per round (see [[pinWithDigest]]).
    var (e, chk) = pinWithDigest(normalized(edges).distinct())
    val n = chk._1
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val (next, nchk) = pinWithDigest(smallStar(largeStar(e)))
      converged = nchk == chk
      chk = nchk
      e = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"star contraction did not converge in $maxIter rounds " +
          s"(checksum $chk) — raise maxIter; returning partial labels " +
          "would silently diverge from the exact transitive closure")
    // The round count is the quantity the O(log n) claim is about.
    System.err.println(s"[components] star: $n edges, $iter rounds")
    // Fixpoint is a star forest rooted at each component's min: children
    // label themselves with their root, roots label themselves.
    e.select(col("u").as("v"), col("v").as("lbl"))
      .union(e.select(col("v"), col("v").as("lbl")).distinct())
  }
}
