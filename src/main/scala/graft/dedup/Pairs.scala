package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

/** The blocking step of block-and-verify (Vernica, Carey and Li,
  * "Efficient Parallel Set-Similarity Joins Using MapReduce", SIGMOD
  * 2010), shared by every capped candidate generator: rows are blocked
  * on a key, blocks above a member cap are dropped whole, and every
  * (a.id < b.id) pair within a surviving block is emitted once per
  * block the pair shares. Each caller keeps only its own verify step
  * and its cap audit ([[overCap]]).
  *
  * Plan shape: ONE exchange of the rows into a `collect_list` per
  * block, a record-local two-phase expansion, and ONE exchange of the
  * pairs into the per-pair count; no window and no self-join. No row
  * holds a block's C(n, 2) pairs (~50M at a 10k cap), only one
  * member's later slice.
  *
  * Routed here: the n-gram shingle overlap, the MinHash band buckets,
  * the SimHash and dHash chunk buckets and the winnowing fingerprint
  * postings. Four generators stay self-joins on purpose:
  *  - `PrefixJoin` and both `EditJoin` signature joins are uncapped for
  *    completeness, and their join predicates read per-row columns of
  *    each side (prefix positions, lengths);
  *  - `Incremental` probes with the batch rows only, so expanding whole
  *    buckets would pair index docs with each other, the very work it
  *    exists to avoid;
  *  - `Ivf.semanticDedup` verifies on vectors, so member lists would
  *    carry up to cap vectors per row.
  */
object Pairs {

  /** (key..., members): one row per block of 1..cap members, sorted by
    * id. `member` is a bare id, or a struct whose first field is `id`
    * (so the sort orders by id) and whose other fields are the payload
    * a verify step reads off the pair. Null keys block nothing (an
    * equi-join never matches them). A member repeated within a block
    * is kept, so it pairs once per copy, as a self-join on the key
    * would.
    */
  def blocks(rows: DataFrame, key: Seq[String], member: Column, cap: Int): DataFrame =
    keyed(rows, key)
      .groupBy(key.map(col): _*)
      .agg(collect_list(member).as("members"))
      .filter(size(col("members")) <= cap)
      .select(key.map(col) :+ sort_array(col("members")).as("members"): _*)

  /** (a, b, n_shared): every member pair with a.id < b.id that shares a
    * block, with the number of blocks it shares. Phase one explodes
    * each block's members with their positions; phase two explodes
    * each member's later slice, so no row holds more than one block's
    * member list.
    */
  def of(blocks: DataFrame): DataFrame = {
    val id: String => Column = blocks.schema("members").dataType match {
      case ArrayType(_: StructType, _) => m => col(s"$m.id")
      case _ => col
    }
    val later = slice(col("members"), col("pos") + 2, size(col("members")) - col("pos") - 1)
    blocks
      .filter(size(col("members")) >= 2)
      .select(col("members"), posexplode(col("members")).as(Seq("pos", "a")))
      .select(col("a"), explode(later).as("b"))
      .filter(id("a") < id("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** (key..., bsz): the blocks [[blocks]] drops at `cap`, with their
    * sizes: the no-silent-caps audit every capped generator runs
    * beside its pair query, since a dropped block is recall loss the
    * pair output cannot show.
    */
  def overCap(rows: DataFrame, key: Seq[String], cap: Int): DataFrame =
    keyed(rows, key)
      .groupBy(key.map(col): _*)
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > cap)

  private def keyed(rows: DataFrame, key: Seq[String]): DataFrame =
    rows.filter(key.map(col(_).isNotNull).reduce(_ && _))
}
