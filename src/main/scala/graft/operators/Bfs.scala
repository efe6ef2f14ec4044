package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source breadth-first-search distances over an edge table —
  * the seed-proximity primitive behind crawl-frontier prioritization
  * ("how many hops is this page from a trusted seed?") and
  * contamination-radius audits ("everything within k hops of a flagged
  * node"). The reference has no graph surface; this is Spark-first
  * level-synchronous BFS.
  *
  * Semantics: dist(n) = length of the shortest directed path from any
  * seed to n, capped at `maxHops`; seeds themselves are distance 0;
  * unreached nodes are absent from the output. Level-synchronous
  * expansion makes the result deterministic — a node is labeled by the
  * first level that reaches it, which IS its BFS distance.
  *
  * Scale shape: each round shuffles only the CURRENT FRONTIER joined
  * against the edge table (equi-join on src — broadcastable when the
  * frontier is small, AQE decides), then one anti-join against the
  * visited set to keep the frontier minimal. Work per round is
  * O(frontier out-degree), not O(V); rounds = maxHops, so the total
  * shuffle count is bounded up front. For unbounded-hop closures swap
  * the loop for [[graft.Rounds.iterate]] with a stopping rule
  * (lineage must be cut when round count is data-dependent; for the
  * small fixed maxHops here the plan tree stays shallow without
  * checkpoints).
  */
object Bfs {

  def hops(
      edges: DataFrame,
      seeds: DataFrame,
      srcCol: String,
      dstCol: String,
      nodeCol: String,
      maxHops: Int): DataFrame = {
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .distinct()
    var dist = seeds.select(col(nodeCol).as("node")).distinct()
      .withColumn("dist", lit(0))
    var frontier = dist.select("node")
    for (h <- 1 to maxHops) {
      val next = frontier.join(e, col("node") === col("__src"))
        .select(col("__dst").as("node")).distinct()
        .join(dist.select("node"), Seq("node"), "left_anti")
      dist = dist.union(next.withColumn("dist", lit(h)))
      frontier = next
    }
    dist.withColumn("dist", col("dist").cast("int"))
  }
}
