package graft.operators

import java.util.concurrent.TimeoutException
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.sources.Memo.PinOps

/** Distributed connected components by alternating large-star / small-star
  * contraction (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC 2014) — the 100 TB replacement for plain min-label
  * propagation: propagation needs O(component diameter) rounds and keeps the
  * full edge set live every round, while star contraction converges in
  * O(log n) rounds and shrinks the edge set toward one star per component
  * (rooted at the component minimum) as it goes.
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

  /** Contract `edges` (any orientation; self-loops ignored) to per-vertex
    * component labels (v, lbl) where lbl = the component's minimum vertex
    * id. Throws if `maxIter` alternating rounds do not reach the fixpoint.
    *
    * `canonical = true` asserts the CALLER's edges are already in the loop's
    * canonical form — u > v strictly (so no self-loops) and distinct — and
    * already materialized (pinned/memoized), so the normalization pass (one
    * full-edge-set exchange for the distinct + a checkpoint job) is skipped
    * and only the initial digest job runs (round 22, guide §2.4: the
    * memoized star-edge inputs of the clustering family are
    * construction-canonical — bucket-min star edges are strictly ordered and
    * deduped by their memo — so every timed run paid that exchange for
    * nothing). Callers own the contract; the oracle gate and ComponentsSpec
    * pin the results.
    */
  def labels(edges: DataFrame, maxIter: Int = 25, canonical: Boolean = false): DataFrame = {
    // AQE stays ON for the in-loop jobs — measured both ways at sf0.1:
    // AQE's partition coalescing collapses each tiny-graph exchange to a
    // handful of tasks, which beats its per-stage planning latency by a
    // wide margin (disabling it regressed 4 s → 17 s at local[32], where
    // every non-coalesced stage ran 32 near-empty tasks).
    // Round 22: pin + digest share one job per round (see [[pinWithDigest]]).
    var (e, chk) =
      if (canonical) (edges, edgeDigest(edges))
      else pinWithDigest(edges
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
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
    // Visible convergence telemetry (one line per contraction, stderr): the
    // round count is the quantity the O(log n) claim is about.
    System.err.println(s"[components] converged in $iter rounds, ${chk._1} star edges")
    // Fixpoint is a star forest rooted at each component's min: children
    // label themselves with their root, roots label themselves.
    e.select(col("u").as("v"), col("v").as("lbl"))
      .union(e.select(col("v"), col("v").as("lbl")).distinct())
  }
}
