package graft.corpus

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.PortableHash

/** Deterministic corpus shuffle — the training-order manifest: a
  * seeded pseudo-random permutation of the corpus materialized as
  * (shard, offset_in_shard) coordinates. Training runs must see docs
  * in an order that is (a) statistically shuffled — adjacent docs
  * uncorrelated with crawl/source order, (b) bit-reproducible from
  * the seed for restarts and ablations, and (c) computable WITHOUT a
  * global sort funneling 100 TB through one task.
  *
  * Construction: permutation key = md5-portable-60bit(seed : id) —
  * collision-free in practice at 2^60 and tie-broken by id; the
  * global position comes from [[graft.operators.GlobalRank]]'s
  * band-offset ranking over the key (bands of the uniform 60-bit key
  * space are uniformly populated, so every band window is balanced by
  * construction — the ideal input for that machinery); shard =
  * (pos-1) / shardSize, offset = (pos-1) % shardSize. Different seeds
  * give independent permutations (epoch reshuffles).
  */
object Shuffle {

  /** (id, shard, pos_in_shard): the seeded permutation coordinates.
    * `shardSize` = docs per shard file/group.
    */
  def manifest(df: DataFrame, idCol: String, seed: String,
      shardSize: Long): DataFrame = {
    require(shardSize >= 1, s"bad shardSize=$shardSize")
    val keyed = df.select(col(idCol),
      PortableHash.md5Hash60(
        concat(lit(seed), lit(":"), col(idCol).cast("string"))).as("__pk"))
    // 60-bit keys are uniform; 2^48-wide bands give ~4096 balanced
    // bands regardless of corpus size
    val ranked = graft.operators.GlobalRank.rankBy(
      keyed, "__pk", idCol, bandWidth = math.pow(2, 48))
    // `div` is Spark's integral division (never the double `/`)
    ranked.select(col(idCol),
      expr(s"(global_rank - 1) div ${shardSize}L").as("shard"),
      ((col("global_rank") - 1) % shardSize).cast("long").as("pos_in_shard"))
  }
}
