package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle enumeration over an undirected edge list —
  * the clique-density probe for near-duplicate graphs (a triangle-rich
  * overlap graph means transitive boilerplate families; triangle
  * counts per component separate template clusters from chains).
  *
  * Algorithm: canonical id-orientation (u < v), join oriented edges
  * sharing their low endpoint into wedges (a < b < c), close each
  * wedge with one more equi-join — two shuffles, no cartesian, output
  * each triangle exactly once as (a, b, c). Wedge fan-out is bounded
  * by the max oriented out-degree; id orientation is the form the
  * relational oracle replays verbatim, and [[trianglesDegreeOriented]]
  * is the output-identical web-scale hardening (low-degree ->
  * high-degree orientation bounds oriented out-degree by ~sqrt(m)).
  */
object Triangles {

  /** (a, b, c) with a < b < c: each triangle of the undirected graph
    * exactly once. Self-loops and duplicate/reversed edges are
    * normalized away first. Production default = DEGREE orientation
    * ([[trianglesDegreeOriented]]): id orientation fans a hub id
    * ordered low into C(deg, 2) wedges — quadratic in the hub — while
    * degree orientation bounds every node's wedge fan-out by O(sqrt(m))
    * regardless of skew. Output-identical (AnalyticsSpec gates both
    * against each other); [[trianglesIdOriented]] remains the
    * oracle-replay form the relational oracle mirrors verbatim.
    */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    trianglesDegreeOriented(edges, srcCol, dstCol)

  /** Canonical id-oriented enumeration — the form the relational oracle
    * replays verbatim; output-identical to the degree-oriented default
    * but hub-skew-quadratic, so it stays the unit-test/oracle sibling
    * rather than the production path.
    */
  def trianglesIdOriented(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    trianglesOf(oriented(edges, srcCol, dstCol))

  /** Canonical (u < v) oriented, deduped, self-loop-free edge frame. */
  private def oriented(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("v"))
      .filter(col("u") < col("v"))
      .distinct()

  private def trianglesOf(e: DataFrame): DataFrame = {
    val wedges = e.as("e1")
      .join(e.as("e2"), col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    wedges
      .join(e.as("e3"), col("b") === col("e3.u") && col("c") === col("e3.v"))
      .select(col("a"), col("b"), col("c"))
  }

  /** Degree-oriented enumeration — the web-scale hardening named in the
    * scaladoc above. Each edge is oriented from its lower-(degree, id)
    * endpoint to the higher one, which bounds every node's oriented
    * out-degree by O(sqrt(m)): a node with oriented out-degree d has d
    * neighbors whose degree is >= its own (>= d), so d^2 <= 2m. Wedge
    * fan-out on a hub-skewed graph therefore drops from C(deg_hub, 2)
    * — quadratic in the hub — to C(O(sqrt(m)), 2) total. One extra
    * degree join over the id-oriented plan, same two equi-join shape;
    * the output is identical: each triangle exactly once as
    * (a, b, c) with a < b < c.
    */
  def trianglesDegreeOriented(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    trianglesOfDegreeOriented(orientedByDegree(edges, srcCol, dstCol))

  private def trianglesOfDegreeOriented(d: DataFrame): DataFrame = {
    // wedge (x; y, z) with (dy, y) < (dz, z) in the same total order
    // that oriented the edges — so the closing edge {y, z}, if present,
    // is stored oriented y -> z and one equi-join finds it
    val wedges = d.as("e1")
      .join(d.as("e2"), col("e1.x") === col("e2.x") &&
        (col("e1.dy") < col("e2.dy") ||
          (col("e1.dy") === col("e2.dy") && col("e1.y") < col("e2.y"))))
      .select(col("e1.x").as("w0"), col("e1.y").as("w1"), col("e2.y").as("w2"))
    wedges
      .join(d.as("e3"), col("w1") === col("e3.x") && col("w2") === col("e3.y"))
      .select(array_sort(array(col("w0"), col("w1"), col("w2"))).as("t"))
      .select(col("t").getItem(0).as("a"), col("t").getItem(1).as("b"),
        col("t").getItem(2).as("c"))
  }

  /** (x, y, dy): each undirected edge once, oriented low -> high in the
    * (degree, id) total order; dy carries the head's degree so the
    * wedge join can order out-neighbors without another lookup.
    * Package-visible so tests can assert the sqrt(m) out-degree bound.
    */
  private[graft] def orientedByDegree(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    byDegree(edges, srcCol, dstCol)._1

  /** [[orientedByDegree]] and the (node, deg) table it was oriented by. */
  private def byDegree(edges: DataFrame, srcCol: String,
      dstCol: String): (DataFrame, DataFrame) = {
    val e = oriented(edges, srcCol, dstCol)
    val deg = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val ann = e
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    (ann.select(
      when(uFirst, col("u")).otherwise(col("v")).as("x"),
      when(uFirst, col("v")).otherwise(col("u")).as("y"),
      when(uFirst, col("dv")).otherwise(col("du")).as("dy")), deg)
  }

  /** Per-node local clustering coefficient — the "how clique-like is
    * this node's neighborhood" score: coeff(v) = 2*T(v) / (deg(v) *
    * (deg(v)-1)), T(v) = triangles through v; degree-1 nodes score 0.
    * A near-dup graph node with high degree but near-zero coefficient
    * is a hub stitching UNRELATED duplicate families (e.g. a
    * boilerplate page matching everything) — the classic false-merge
    * suspect that pure connected components cannot see.
    *
    * Cross-engine exactness: T and deg are exact integers; the single
    * IEEE division of two integers below 2^53 is bit-identical on any
    * IEEE engine, so the double output is directly comparable.
    *
    * Scale posture: the triangle enumeration above (two bounded
    * equi-joins) + one explode to (node, 1) + two map-side-combined
    * counts + one broadcast-sized join per node — no step beyond the
    * triangle join itself, which degree orientation bounds at web
    * scale (see scaladoc above).
    */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    // degree-oriented enumeration (the production default — see
    // [[triangles]]) over the degree table the coefficient reads: T(v)
    // is orientation-invariant, so the coefficient inherits the sqrt(m)
    // wedge bound without any output change
    val (d, deg) = byDegree(edges, srcCol, dstCol)
    val tri = trianglesOfDegreeOriented(d)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri_cnt"))
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"))
      .withColumn("coeff",
        when(col("deg") >= 2,
          (col("tri_cnt") * 2).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"))
          .otherwise(lit(0.0)))
  }
}
