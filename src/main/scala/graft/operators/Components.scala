package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Connected components of an edge list, by union-find on the driver.
  *
  * [[Components.labels]] collects at most `DriverMaxEdges + 1` normalized
  * edges in one bounded aggregate (one Spark job, two when the limit needs
  * an exchange), runs union-find on the driver, which takes no further
  * job, and returns the labels as a local DataFrame. The cost of a
  * round-based algorithm is rounds times per-round latency, and a graph
  * that fits one machine is cheapest in one round. The dedup family's
  * graphs are far below the cap (the largest on record, the hot-bucket
  * `ScaleProbe` soak at sf0.1, has about 10^5 edges); a larger graph or a
  * non-integral id type is rejected with an `IllegalArgumentException`
  * naming the cap or the type.
  */
object Components {

  /** Largest graph [[labels]] accepts. The bounded collect returns the
    * edges as one row holding an array of two 8-byte ids per edge (16 B),
    * decoded into an `Array[Long]` of the same size: 2^20 edges × 32 B =
    * 32 MB of driver heap, well under 64 MB. Union-find and the returned
    * local rows then add 16 B per edge (the sorted id copy) and 40 B per
    * vertex (ids, parents, roots, labels, and the row data), at most two
    * vertices per edge.
    */
  val DriverMaxEdges: Int = 1 << 20

  /** Per-vertex component labels (v, lbl) of `edges` (columns u, v; any
    * orientation, duplicates allowed; self-loops and edges with a null
    * endpoint ignored), where lbl = the component's minimum vertex id.
    * Both id columns are of the type of `greatest(u, v)`, nullable.
    *
    * Throws `IllegalArgumentException` when that type is not integral or
    * when the graph has more than [[DriverMaxEdges]] normalized edges.
    */
  def labels(edges: DataFrame): DataFrame = {
    val norm = normalized(edges)
    val idType = norm.schema("u").dataType
    require(Set[DataType](ByteType, ShortType, IntegerType, LongType)(idType),
      s"Components.labels needs integral vertex ids, got ${idType.simpleString}")
    val s = edges.sparkSession
    import s.implicits._
    // u0, v0, u1, v1, ...: collect_list keeps each pair's two ids together.
    val flat = norm.limit(DriverMaxEdges + 1)
      .agg(flatten(collect_list(array(col("u").cast(LongType), col("v").cast(LongType)))))
      .as[Array[Long]].head()
    require(flat.length <= 2 * DriverMaxEdges,
      s"Components.labels takes at most DriverMaxEdges = $DriverMaxEdges normalized edges; " +
        "the graph has more")
    System.err.println(s"[components] driver: ${flat.length / 2} edges")
    val (ids, root) = unionFind(flat)
    Seq((ids, root.map(ids(_)))).toDF("v", "lbl")
      .select(explode(arrays_zip(col("v"), col("lbl"))).as("e"))
      .select(col("e.v").cast(idType).as("v"), col("e.lbl").cast(idType).as("lbl"))
      .to(StructType(Seq(StructField("v", idType), StructField("lbl", idType))))
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
}
