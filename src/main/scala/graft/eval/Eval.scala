package graft.eval

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Model-evaluation readouts for the corpus-filter training loop.
  *
  * A quality-classifier stage (reference analog: the service trusts
  * Textract's model blindly — `/root/reference/main.go:1` has no eval
  * surface at all; these are the readouts a self-hosted filter model
  * needs before it gates a 100 TB corpus) is only as good as the
  * numbers it is tuned on. Everything here follows the engine-wide
  * float discipline: sufficient statistics are exact 64-bit integers
  * aggregated order-immune; doubles appear only in fixed, final IEEE
  * expressions the oracle replays verbatim.
  *
  * Scale posture: every metric reduces to a count table first —
  * cardinality = |groups| x |distinct scores| (AUC), |bins|
  * (calibration), |classes|^2 (kappa), |queries| x k (nDCG) — so the
  * data-sized shuffle is a single combinable aggregation and the
  * window passes run over metadata-sized frames.
  */
object Eval {

  /** Exact ROC AUC per group from the score count table.
    *
    * AUC is the Mann-Whitney statistic: the probability a random
    * positive outscores a random negative, ties counting half. The
    * O(n^2) pair formulation collapses onto the (group, score) count
    * table: with `np_s`/`nn_s` the positive/negative counts at score
    * `s` and `cumneg_below(s)` the negatives strictly below,
    *
    *   concordant = sum_s np_s * cumneg_below(s)
    *   tied       = sum_s np_s * nn_s
    *   AUC        = (2*concordant + tied) / (2 * n_pos * n_neg)
    *
    * All three sums are exact BIGINTs (order-immune); the single IEEE
    * division happens once per group at the end. Groups with no
    * positives or no negatives yield NULL (AUC is undefined there),
    * never a divide-by-zero.
    *
    * One combinable shuffle builds the count table; the running-sum
    * window runs per group over DISTINCT scores only.
    */
  def aucBinary(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String): DataFrame = {
    val ct = df
      .groupBy(col(groupCol).as("grp"), col(scoreCol).as("s"))
      .agg(sum(col(labelCol).cast("long")).as("np"),
        sum((lit(1L) - col(labelCol).cast("long"))).as("nn"))
    val w = Window.partitionBy("grp").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ct.withColumn("cumneg", sum(col("nn")).over(w))
      .groupBy(col("grp").as(groupCol))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("np") * (col("cumneg") - col("nn"))).as("conc"),
        sum(col("np") * col("nn")).as("tied"))
      .select(col(groupCol), col("n_pos"), col("n_neg"),
        (lit(2L) * col("conc") + col("tied")).as("u2"),
        ((lit(2L) * col("conc") + col("tied")).cast("double") /
          nullif((lit(2L) * col("n_pos") * col("n_neg")).cast("double"),
            lit(0.0))).as("auc"))
  }

  /** Cohen's kappa between two label assignments (chance-corrected
    * agreement): kappa = (po - pe) / (1 - pe) with po the observed
    * agreement rate and pe the rate two independent raters with the
    * same marginals would agree by chance.
    *
    * The confusion matrix is |classes|^2 rows, so everything after the
    * one counting shuffle is metadata-sized: marginals join on the
    * class-label union, pe's cross-product sum is exact BIGINT, and
    * po/pe/kappa derive through one fixed IEEE expression chain the
    * oracle replays verbatim. Output is a single row.
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    // the confusion matrix is read three times below (totals, row
    // marginals, column marginals); materialize it once so an expensive
    // upstream pipeline (e.g. the NB holdout classifier feeding
    // q_cohen_kappa — measured ~3x its single-pass task-CPU without
    // this) never re-executes per branch. |classes|^2 rows — the
    // checkpoint is metadata-sized.
    val cm = graft.Rounds.checkpoint(
      df.groupBy(col(aCol).as("ra"), col(bCol).as("rb"))
        .agg(count(lit(1)).as("c")))
    val tot = cm.agg(sum(col("c")).as("n"),
      sum(when(col("ra") === col("rb"), col("c")).otherwise(0L)).as("n_agree"))
    val rowT = cm.groupBy(col("ra").as("cls")).agg(sum(col("c")).as("cr"))
    val colT = cm.groupBy(col("rb").as("cls")).agg(sum(col("c")).as("cc"))
    val peNum = rowT.join(colT, Seq("cls"), "full")
      .agg(sum(coalesce(col("cr"), lit(0L)) * coalesce(col("cc"), lit(0L)))
        .as("pe_num"))
    val po = col("n_agree").cast("double") / col("n").cast("double")
    val pe = col("pe_num").cast("double") /
      (col("n") * col("n")).cast("double")
    tot.crossJoin(peNum)
      .select(col("n"), col("n_agree"), col("pe_num"),
        po.as("po"), pe.as("pe"),
        ((po - pe) / (lit(1.0) - pe)).as("kappa"))
  }

  /** Rank-1..10 micro-weights for DCG: floor(1e6 / log2(rank+1) + 0.5),
    * precomputed as literals so neither engine evaluates a logarithm at
    * compare time (a last-ulp `ln` disagreement could flip the floor).
    */
  private[graft] val dcgWeightsMicro: Seq[Long] =
    Seq(1000000L, 630930L, 500000L, 430677L, 386853L, 356207L, 333333L,
      315465L, 301030L, 289065L)

  /** Rank-1..10 micro-weights for reciprocal rank: floor(1e6/rank + 0.5). */
  private[graft] val rrWeightsMicro: Seq[Long] =
    Seq(1000000L, 500000L, 333333L, 250000L, 200000L, 166667L, 142857L,
      125000L, 111111L, 100000L)

  /** nDCG@k + reciprocal rank per query over a scored candidate list.
    *
    * The retrieved ranking orders by (score DESC, doc ASC); the ideal
    * ranking orders the SAME candidate set by (relevance DESC, doc
    * ASC). Both DCGs are exact integer micro-unit sums (relevance x a
    * literal per-rank weight — see [[dcgWeightsMicro]]), so the only
    * IEEE operation is the final dcg/idcg division; queries whose
    * candidates are all irrelevant (idcg = 0) yield NULL nDCG.
    * rr_micro is the literal weight of the best-ranked relevant hit
    * inside the top k, 0 when none.
    *
    * Window passes partition by query — per-query candidate sets are
    * bounded by construction (a retrieval stage emits at most a few
    * hundred candidates per query), so no single partition ever holds
    * more than one query's slate. k is capped at 10 by the literal
    * weight tables.
    */
  def ndcgAtK(df: DataFrame, queryCol: String, docCol: String,
      scoreCol: String, relCol: String, k: Int = 10): DataFrame = {
    require(k >= 1 && k <= dcgWeightsMicro.size, s"k must be 1..10, got $k")
    val wArr = array(dcgWeightsMicro.map(lit): _*)
    // The rr table carries an extra 0-weight sentinel slot for queries
    // with no relevant hit: the INDEX is coalesced to the sentinel, the
    // lookup itself never sees a NULL index (Catalyst derives
    // element_at over a literal array as non-nullable and elides a
    // coalesce around it, so a NULL index would surface garbage).
    val rrArr = array((rrWeightsMicro :+ 0L).map(lit): _*)
    val rrSentinel = rrWeightsMicro.size + 1
    val byScore = Window.partitionBy(queryCol)
      .orderBy(col(scoreCol).desc, col(docCol).asc)
    val byRel = Window.partitionBy(queryCol)
      .orderBy(col(relCol).desc, col(docCol).asc)
    val ranked = df
      .withColumn("rk", row_number().over(byScore))
      .withColumn("irk", row_number().over(byRel))
    val dcg = ranked.filter(col("rk") <= k)
      .groupBy(col(queryCol))
      .agg(sum(col(relCol).cast("long") * element_at(wArr, col("rk")))
        .as("dcg_micro"),
        min(when(col(relCol) > 0, col("rk"))).as("first_rel_rk"))
    val idcg = ranked.filter(col("irk") <= k)
      .groupBy(col(queryCol))
      .agg(sum(col(relCol).cast("long") * element_at(wArr, col("irk")))
        .as("idcg_micro"))
    dcg.join(idcg, queryCol)
      .select(col(queryCol), col("dcg_micro"), col("idcg_micro"),
        (col("dcg_micro").cast("double") /
          nullif(col("idcg_micro").cast("double"), lit(0.0))).as("ndcg"),
        element_at(rrArr, coalesce(col("first_rel_rk"), lit(rrSentinel)))
          .as("rr_micro"))
  }
}
