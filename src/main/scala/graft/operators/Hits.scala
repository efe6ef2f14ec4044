package graft.operators

import graft.Rounds

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration HITS (hubs and authorities) — the second classic
  * link-centrality operator next to [[PageRank]]: authorities are nodes
  * pointed AT by good hubs, hubs are nodes pointing TO good
  * authorities. On a crawl/link corpus the authority score separates
  * canonical pages from the link farms that merely point everywhere.
  *
  * Semantics (the L1-normalized mutual-reinforcement form):
  *   h0(u) = 1;  per iteration
  *   a(v)  = sum over in-edges (u->v) of h(u),  normalized to sum 1
  *   h(u)  = sum over out-edges (u->v) of a(v), normalized to sum 1
  * Nodes with no in-edges hold authority 0; no out-edges, hub 0.
  * (Kleinberg's original normalizes in L2; any positive-scalar
  * normalization yields the same ranking direction, and L1 keeps every
  * step replayable as exact integer arithmetic — see below.)
  *
  * Cross-engine posture (PageRank.pageRank's order-immunity
  * construction): per-edge contributions are discretized to integer
  * quantum units (floor(score * quantum) as BIGINT) BEFORE the per-node
  * and the global-normalizer sums, so both aggregates are integer-exact
  * and immune to float summation order; the normalizing division then
  * maps bit-identical longs to bit-identical doubles in any IEEE
  * engine. Truncation bias is <= 1/quantum per edge — noise for a
  * centrality score. Overflow bound: scores are <= 1 after the first
  * normalization, so the global sum is <= edges * quantum; the default
  * 1e12 holds to ~9e6 edges — pass quantum = 1e9 for billion-edge
  * graphs. A wrapped sum surfaces as a negative score; the final
  * frontier fails fast on one (same best-effort guard as PageRank).
  *
  * Scale posture: the deduped edge set is checkpointed ONCE and
  * pre-partitioned on src (dst-keyed steps reuse AQE-planned exchanges
  * of the same frame); each iteration shuffles only O(nodes) score rows
  * plus one map-side-combined sum, and the global normalizer is a
  * broadcast 1-row frame — nothing reaches the driver. The rounds run
  * through [[graft.Rounds.iterate]] with the authority vector as the
  * checkpointed frontier and the hub vector as a round intermediate.
  */
object Hits {

  /** (node, hub, auth) after `iters` full a-then-h rounds over the
    * directed edge list (duplicate edges count once).
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 4, quantum: Double = 1e12): DataFrame = {
    require(iters >= 1, s"bad iters=$iters")
    require(quantum >= 1e3, s"quantum too small to be meaningful: $quantum")
    val e = Rounds.checkpoint(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")).distinct()
        .repartition(Rounds.shufflePartitions(edges.sparkSession), col("src")))
    val nodes = Rounds.checkpoint(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct())

    // one half-round: each `from` endpoint's score summed onto its `to`
    // endpoint, then normalized by a broadcast global total. Every dst
    // in e has an in-edge (every src an out-edge) by construction, so
    // the result covers exactly the nodes with nonzero score
    def spread(scores: DataFrame, score: String, from: String, to: String,
        out: String): DataFrame = {
      val raw = e.join(scores, e(from) === scores("node")).groupBy(e(to).as("node"))
        .agg(sum(floor(col(score) * lit(quantum)).cast("long")).as("m"))
      val tot = raw.agg(sum(col("m")).as("tot"))
      raw.crossJoin(broadcast(tot))
        .select(col("node"), (col("m").cast("double") / col("tot").cast("double")).as(out))
    }
    def authorities(h: DataFrame): DataFrame = spread(h, "h", "src", "dst", "a")
    def hubs(a: DataFrame): DataFrame = spread(a, "a", "dst", "src", "h")

    // the last hub vector is computed inside the output checkpoint below
    val (a, _) = Rounds.iterate(
        Rounds.checkpoint(authorities(nodes.select(col("node"), lit(1.0).as("h")))),
        iters - 1) { (a, materialize) =>
      authorities(materialize(hubs(a)))
    }
    // checkpoint the joined result so every upstream block (graph,
    // frontier) can be released before handing it to the caller — the
    // out block itself stays persisted, the caller holds it
    val out = Rounds.checkpoint(nodes
      .join(hubs(a), Seq("node"), "left")
      .join(a, Seq("node"), "left")
      .select(col("node"), coalesce(col("h"), lit(0.0)).as("hub"),
        coalesce(col("a"), lit(0.0)).as("auth")))
    Rounds.release(e, nodes, a)
    // overflow tripwire: every contribution is nonnegative, so a
    // negative score can only be a wrapped quantum sum
    require(out.filter(col("hub") < 0.0 || col("auth") < 0.0).isEmpty,
      s"negative HITS score: quantum overflow — rerun with a smaller quantum (current $quantum)")
    out
  }
}
