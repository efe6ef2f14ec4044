package graft.operators

import graft.Rounds

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core peeling — the degeneracy filter that isolates the densely
  * interlinked core of a link/co-duplication graph: iteratively remove
  * nodes with degree < k (each removal can drop neighbors below k, so
  * peeling cascades). On a crawl graph the surviving core separates
  * organically cross-linked hubs from spam chains and pendant pages.
  *
  * Semantics: the input edge list is symmetrized and deduped (k-core is
  * an undirected notion; self-loops count once toward degree). `rounds`
  * fixed peel rounds run — a converged round is a no-op, so any rounds
  * >= the true peel depth yields the exact k-core; fewer yields the
  * deterministic partial peel (the SQL oracle unrolls the same count).
  * Output: (node, deg) over the surviving subgraph after the last
  * round. All arithmetic is integer — nothing to quantize.
  *
  * Scale posture: per round one map-side-combined degree count and one
  * two-sided semi-join of the edge frame against the surviving node
  * set — O(edges) shuffled per round with no cross product anywhere.
  * The rounds run through [[graft.Rounds.iterate]], which checkpoints
  * each edge frontier and releases the superseded one (with Rounds'
  * localCheckpoint-vs-reliable trade-off on a real cluster).
  */
object KCore {

  def kcore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"bad k=$k rounds=$rounds")
    val raw = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val (e, _) = Rounds.iterate(Rounds.checkpoint(
        raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
          .distinct()
          .repartition(Rounds.shufflePartitions(edges.sparkSession), col("src"))),
        rounds) { (e, _) =>
      val surviving = e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("node"))
      // dst-semi first, src-semi LAST: when the final src semi-join
      // shuffles, it repartitions on src, so its output is clustered by
      // src and the next round's degree groupBy needs no further
      // exchange — the explicit repartition-back-to-src this ordering
      // replaces was one full edge-frame shuffle per round. The saving
      // holds only then: when the src semi-join broadcasts, its output
      // keeps the clustering of its input, the dst-semi's (by dst, if
      // that one shuffled), and the groupBy pays its own exchange
      e.join(surviving.withColumnRenamed("node", "dst"), Seq("dst"), "leftsemi")
        .join(surviving.withColumnRenamed("node", "src"), Seq("src"), "leftsemi")
        .select(col("src"), col("dst"))
    }
    // the output aggregates the final checkpointed edge frame; its
    // block stays persisted — the caller holds it
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }
}
