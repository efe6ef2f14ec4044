package graft.operators

import graft.Rounds

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label-propagation community detection (Raghavan 2007's
  * LPA in its deterministic synchronous form) — the cheap community
  * finder for crawl/co-duplication graphs: connected components answer
  * "reachable at all", LPA answers "densely knit together", separating
  * topical neighborhoods inside one giant weakly-connected web
  * component without any modularity optimization machinery.
  *
  * Semantics: the edge list is symmetrized, deduped, and self-loop
  * freed (a self-vote would just echo the node's own label). Every
  * node starts labeled with its own id; each round, every node
  * simultaneously adopts the label most frequent among its neighbors'
  * PREVIOUS-round labels, ties broken by smallest label. All counts
  * are integers and the tie-break is a total order, so a fixed round
  * count is bit-deterministic on any engine — including on bipartite
  * structures where synchronous LPA famously oscillates (the fixed
  * unrolled round count pins WHICH phase of the oscillation is
  * emitted, and the oracle replays the same rounds). Isolated nodes
  * (no surviving edges) are not in the output.
  *
  * Scale posture: per round ONE map-side-combined (node, label) vote
  * count and one argmax reduced by `max(struct(cnt, -label))` —
  * map-side combinable again, never a window over raw votes; the
  * O(edges) label join shuffles the O(nodes) label vector against the
  * once-checkpointed, pre-partitioned edge frame. The rounds run
  * through [[graft.Rounds.iterate]], which checkpoints each label
  * frontier and releases the superseded one (with Rounds'
  * localCheckpoint-vs-reliable trade-off on a real cluster).
  */
object LabelProp {

  /** (node, label) after `rounds` synchronous votes; `label` is the
    * smallest-id convention of whatever community structure the vote
    * dynamics settle into.
    */
  def propagate(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"bad rounds=$rounds")
    val raw = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val e = Rounds.checkpoint(
      raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .repartition(Rounds.shufflePartitions(edges.sparkSession), col("dst")))
    val (labels, _) = Rounds.iterate(
        e.select(col("src").as("node")).distinct()
          .select(col("node"), col("node").as("label")), rounds) { (labels, _) =>
      // src hears dst's previous label along each symmetric edge
      val votes = e.join(labels, e("dst") === labels("node"))
        .groupBy(e("src").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      // argmax by (cnt desc, label asc): max over the total order
      // (cnt, -label) — integer struct comparison, no window, second
      // aggregation map-side combines on node
      votes.groupBy(col("node"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("top"))
        .select(col("node"), (-col("top.nl")).as("label"))
    }
    // the last frontier is its own checkpoint: the edge set is no
    // longer referenced
    Rounds.release(e)
    labels
  }
}
