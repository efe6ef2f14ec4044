package graft.operators

import graft.Rounds

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank as join-based power iteration — the
  * iterative-graph operator (beyond connected components) that ranks
  * entities by link centrality: source domains by co-duplication,
  * documents in a citation graph, hosts in a crawl frontier.
  *
  * Semantics are the classic normalized form (the original Spark
  * example): r0 = 1 for every node, r' = (1-d) + d * sum over in-edges
  * of r_src/deg_src. Ranks sum to ~N (not 1); nodes with no in-edges
  * hold the (1-d) floor. Dangling nodes (in-edges but no out-edges)
  * absorb mass without redistributing it — the standard simplification;
  * feed a symmetrized edge set (as the built-in query does) when mass
  * conservation matters.
  *
  * Scale posture: the edge set joined with out-degrees is materialized
  * ONCE (checkpointed, pre-partitioned on src), so every iteration
  * reuses the same exchange on the big side and shuffles only the
  * current rank vector — O(nodes) rows — plus one map-side-combined
  * sum per iteration. The iterations run through [[graft.Rounds.iterate]],
  * which checkpoints each rank frontier and drops the superseded one
  * (with Rounds' localCheckpoint-vs-reliable-checkpoint trade-off on a
  * real cluster). Nothing reaches the driver.
  *
  * Cross-engine posture: per-edge contributions are discretized to
  * integer picounits (floor(r/deg * 1e12) as BIGINT) BEFORE the
  * per-node sum, so the aggregate is integer-exact and immune to
  * float summation order — raw double sums would diverge ~1e-13
  * relative between Spark's partial-aggregate order and a sequential
  * oracle, inside the correctness gate's .12g hashing quantum (the
  * same reason LangModel.scoreDocs sums micro-nats). The floor itself
  * cannot flip cross-engine: both engines compute r/deg from
  * bit-identical inputs. Truncation error is <= 1/quantum per in-edge
  * per round — noise for a centrality score. Overflow bound: a node's
  * incoming contribution sum times the quantum must stay below 2^63 —
  * with the default 1e12 that is ~9.2e6 mass per node (1e6+-node
  * graphs even star-shaped); pass a smaller `quantum` for bigger
  * graphs (1e9 covers ~9e9 mass at nano precision). A wrapped sum
  * would surface as a negative rank, so the final frontier is checked
  * and the run fails fast instead of returning garbage (best-effort:
  * a double wrap landing positive is not detectable, but crossing it
  * means the bound was ignored by orders of magnitude).
  */
object PageRank {

  /** (node, pr): normalized PageRank after `iters` rounds with damping
    * `d` over the directed edge list (duplicate edges count once).
    *
    * `seeds` switches to PERSONALIZED PageRank (TrustRank): restart
    * mass (the (1-d) term) lands only on the seed nodes instead of
    * uniformly, and r0 is the seed indicator — so all rank mass
    * originates at the trusted set and flows outward along links.
    * Nodes unreachable from every seed hold rank exactly 0, which is
    * the spam-demotion property: a link farm pointing at itself
    * accumulates nothing unless a trusted page links into it. Same
    * arithmetic discipline (picounit contributions) as the uniform
    * form; seeds ride into the plan as a broadcast literal set (seed
    * sets are small by definition — they are hand-audited).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 8, d: Double = 0.85,
      quantum: Double = 1e12,
      seeds: Option[Seq[Long]] = None): DataFrame = {
    require(iters >= 1 && d > 0.0 && d < 1.0, s"bad iters=$iters d=$d")
    require(seeds.forall(_.nonEmpty), "seed set must be non-empty when given")
    require(quantum >= 1e3, s"quantum too small to be meaningful: $quantum")
    // one materialization of the (possibly expensive) upstream edge
    // pipeline; dedupe, attach out-degrees, pre-partition on src so the
    // per-iteration rank join reuses this exchange
    val e0 = Rounds.checkpoint(
      edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")).distinct())
    val deg = e0.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val ew = Rounds.checkpoint(e0.join(deg, "src")
      .repartition(Rounds.shufflePartitions(edges.sparkSession), col("src")))
    val nodes = Rounds.checkpoint(
      e0.select(col("src").as("node"))
        .union(e0.select(col("dst").as("node")))
        .distinct())
    Rounds.release(e0)
    // uniform restart = 1.0 everywhere (the classic form); personalized
    // restart = the seed indicator
    val restart = seeds match {
      case Some(ss) => when(col("node").isin(ss: _*), lit(1.0)).otherwise(lit(0.0))
      case None => lit(1.0)
    }
    val (ranks, _) = Rounds.iterate(
        Rounds.checkpoint(nodes.select(col("node"), restart.as("r"))), iters) {
      (ranks, _) => round(ew, nodes, ranks, d, quantum, restart)
    }
    // the final frontier is materialized, so the graph blocks can be
    // released before handing the result to the caller (the last rank
    // block stays persisted — the caller holds it)
    Rounds.release(ew, nodes)
    // overflow tripwire on the (already materialized) final frontier:
    // every update term is nonnegative, so a negative rank can only be
    // a wrapped contribution sum
    require(ranks.filter(col("r") < 0.0).isEmpty,
      s"PageRank picounit sum overflowed Long — rerun with a smaller quantum (current $quantum)")
    ranks.select(col("node"), col("r").as("pr"))
  }

  /** Restart-safe PageRank: identical arithmetic to [[pageRank]]
    * (uniform restart, picounit contributions) but every round COMMITS
    * to `<stateRoot>/round=<k>` via [[graft.lineage.IterativeResume]],
    * so a driver loss mid-run costs at most the in-flight round and a
    * rerun resumes instead of restarting — the posture a multi-hour
    * 100 TB power iteration needs. Reading each round from parquet
    * also cuts lineage (the durable alternative to localCheckpoint:
    * pay a write per round, survive anything). Completed runs are
    * idempotent: a re-invocation reads the final round straight back.
    */
  def pageRankResumable(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, d: Double, stateRoot: String,
      quantum: Double = 1e12): DataFrame = {
    require(iters >= 1 && d > 0.0 && d < 1.0, s"bad iters=$iters d=$d")
    val spark = edges.sparkSession
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct()
    val deg = e0.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val ew = e0.join(deg, "src")
    val nodes = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct()
    graft.lineage.IterativeResume.run(spark, stateRoot, iters,
        init = nodes.select(col("node"), lit(1.0).as("r")),
        step = (prev, _) => round(ew, nodes, prev, d, quantum, lit(1.0)))
      .select(col("node"), col("r").as("pr"))
  }

  /** One power-iteration round over the out-degree-annotated edges `ew`:
    * picounit contributions summed per dst, then the damped update with
    * `restart` as each node's restart mass.
    */
  private def round(ew: DataFrame, nodes: DataFrame, ranks: DataFrame, d: Double,
      quantum: Double, restart: Column): DataFrame = {
    val contribs = ew
      .join(ranks, ew("src") === ranks("node"))
      .groupBy(col("dst"))
      .agg(sum(floor(col("r") / col("deg") * lit(quantum)).cast("long")).as("m"))
    nodes
      .join(contribs, nodes("node") === contribs("dst"), "left")
      .select(col("node"),
        (lit(1.0 - d) * restart + lit(d) *
          (coalesce(col("m"), lit(0L)).cast("double") / lit(quantum))).as("r"))
  }
}
