package graft

/** The physical-plan SPELLINGS the plan-pinning specs match against,
  * centralized (round-11 ADVICE) so a Spark version bump is a
  * single-place update: these are plan-STRING internals — operator
  * simpleStrings, attribute-reference prints, partial-aggregate function
  * prefixes — none of which is an API-stable surface. Verified against
  * the vendored Spark 4.1.2 jars; on a bump, re-run the plan specs and
  * update only this object (a failure here means the SPELLING moved, not
  * that a plan regressed — eyeball the printed plan before touching any
  * query).
  *
  * Notes on deliberate looseness: [[Window]] is a substring of
  * [[WindowGroupLimit]] and [[AnyJoin]] of every join operator — pins
  * that FORBID a string rely on that (no "Window" at all ⇒ no window of
  * any kind); pins that REQUIRE a specific operator use the longer
  * spelling.
  */
object PlanPins {
  // physical operators (executedPlan / optimizedPlan simpleString prefixes)
  val CartesianProduct = "CartesianProduct"
  val BroadcastNestedLoopJoin = "BroadcastNestedLoopJoin"
  val SortMergeJoin = "SortMergeJoin"
  val BroadcastHashJoin = "BroadcastHashJoin"
  val ShuffledHashJoin = "ShuffledHashJoin"
  val AnyJoin = "Join"
  val Window = "Window"
  val WindowGroupLimit = "WindowGroupLimit"
  val FileScan = "FileScan"
  val TakeOrderedAndProject = "TakeOrderedAndProject"
  val Union = "Union"
  val Expand = "Expand"
  val GenerateExplode = "Generate explode"
  val Subquery = "Subquery"
  val LeftSemi = "LeftSemi"
  val ExistingRDD = "Scan ExistingRDD"

  // aggregate/exchange fragments
  val PartialCount = "partial_count"
  val HashPartitioning = "hashpartitioning"
  val RangePartitioning = "rangepartitioning"

  // regex pins (attribute-reference prints include exprIds: name#NNN[L])
  /** The bounded-bucket size gate `sz <= BucketCap` as printed in Filter. */
  val SizeGate = raw"sz#\d+L? <= 100".r
  /** The bucket MEMBERSHIP collect (struct rows — prefix/Hamming paths). */
  val MembershipCollectStruct = raw"partial_collect_list\(struct\(doc_id".r
  /** The bucket MEMBERSHIP collect (bare ids — the minhash pair path). */
  val MembershipCollectIds = raw"partial_collect_list\(doc_id".r
  /** Exactly one pair-key exchange (the final (doc_a, doc_b) aggregation). */
  val PairExchange = raw"Exchange hashpartitioning\(doc_a".r
  /** The (band, bkey) bucket-key exchange; a ReusedExchange line prints it too. */
  val BucketExchange = raw"Exchange hashpartitioning\(band#".r
  /** A reuse of the bucket-key exchange. */
  val ReusedBucketExchange = raw"ReusedExchange \[[^\]]*\], Exchange hashpartitioning\(band#".r
}
