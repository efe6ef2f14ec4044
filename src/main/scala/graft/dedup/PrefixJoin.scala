package graft.dedup

import graft.Rounds
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact set-similarity join via prefix filtering (AllPairs / PPJoin
  * family — Bayardo et al. WWW'07, Xiao et al. WWW'08): finds EVERY
  * pair of documents with n-gram Jaccard >= threshold, with no
  * document-frequency cap and no recall trade — the completeness-
  * guaranteed counterpart to [[Dedup.ngramJaccardPairs]] (which bounds
  * skew by dropping hot shingles and audits the drop).
  *
  * The filter: order the shingle vocabulary globally by (document
  * frequency asc, shingle asc) — rarest first. If Jaccard(A,B) >= t
  * then |A∩B| >= t·|A∪B| >= t·max(|A|,|B|), so by pigeonhole the first
  * |X| - ceil(t·|X|) + 1 tokens of each side in that global order (the
  * "prefix") must contain a shared token. Equi-joining only prefixes
  * therefore finds every qualifying pair, and the prefix consists of
  * each document's RAREST tokens by construction — the candidate join
  * never keys on a stop-shingle, which is exactly the skew the capped
  * variant had to drop. A length filter (|B| >= ceil(t·|A|), both
  * directions) prunes inside the join condition; exact Jaccard over
  * the full shingle sets verifies each candidate.
  *
  * Scale shape: one shingle-keyed shuffle for document frequencies,
  * one doc-keyed window for the per-doc prefix, a candidate equi-join
  * keyed only by rare shingles, and two id-keyed verify joins against
  * per-doc sorted shingle arrays (bounded by document length). Nothing
  * collects to the driver; no cap, so no audit needed — the DuckDB
  * oracle is the uncapped brute-force join and must hash-match.
  */
object PrefixJoin {

  /** (id_a, id_b, n_common, jaccard) for every pair with n-gram
    * Jaccard >= threshold — exact and complete (no df cap).
    */
  def prefixJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    // (id, shingle), distinct — cached for the scope: the df
    // aggregation, the rarity window and the verify-side set assembly
    // all read it, and each read would otherwise re-run the
    // tokenize+shingle+distinct pipeline over the corpus (measured 21.3
    // -> 7.2 task-CPU-s for q_prefix_join at sf0.1 together with the
    // prefix cache and the positional filter below). The readers sit
    // in ONE job, the checkpoint of the small verified pair set that
    // ends both scopes, so cached blocks populate on first use and the
    // later stages reuse them
    Rounds.cached(Dedup.shingles(docs, idCol, textCol, n)) { sh =>
      val docFreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))

      // per-doc global-order position r and set size sz; the order key
      // (df, shingle) is a total order within a doc (shingles distinct)
      val byRarity = Window.partitionBy("id").orderBy(col("df"), col("shingle"))
      val pos = sh.join(docFreq, "shingle")
        .withColumn("r", row_number().over(byRarity))
        .withColumn("sz", count(lit(1)).over(Window.partitionBy("id")))

      // prefix = first sz - ceil(t*sz) + 1 tokens (rarest-first),
      // cached for the self-join's two sides (the join + rarity-window
      // pipeline would otherwise run per side)
      Rounds.cached(pos
          .filter(col("r") <= col("sz") - ceilT(col("sz"), threshold) + 1)
          .select(col("id"), col("shingle"), col("sz"), col("r"))) { pref =>
        Rounds.checkpoint(verified(candidates(pref, threshold), sh, threshold))
      }
    }
  }

  // ceil(t*sz) computed robustly: if the FP product lands one ulp
  // ABOVE an exact integer (t*sz = m + eps), plain ceil returns m+1 —
  // one token too few in the prefix, a hole in the completeness
  // guarantee. Subtracting 1e-9 before ceil absorbs that ulp; it can
  // only ever shrink the bound (longer prefix, looser length filter),
  // which errs on the COMPLETE side, never drops a qualifying pair.
  private def ceilT(szCol: Column, threshold: Double): Column =
    ceil(szCol * lit(threshold) - lit(1e-9))

  /** Candidates: prefix-token equi-join + in-join length filter
    * (Jaccard >= t forces |B| >= t*|A| and |A| >= t*|B|) + PPJoin's
    * positional filter. Both docs are ordered by the same global key,
    * so tokens shared by the pair sit at or after the FIRST shared
    * token's positions (r_a, r_b): overlap <= min(sz_a - r_a,
    * sz_b - r_b) + 1. Jaccard >= t is equivalent to overlap >=
    * t/(1+t) * (sz_a + sz_b), so an occurrence whose position bound
    * cannot reach that requirement generates no candidate. Lossless
    * under the per-occurrence + distinct shape: for a qualifying pair
    * the first shared token lies inside both prefixes (prefix lemma)
    * and its occurrence row satisfies the bound by construction.
    */
  private def candidates(pref: DataFrame, threshold: Double): DataFrame = {
    val alpha =
      ceil((col("a.sz") + col("b.sz")) * lit(threshold / (1 + threshold))
        - lit(1e-9))
    pref.as("a").join(pref.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id") &&
        col("b.sz") >= ceilT(col("a.sz"), threshold) &&
        col("a.sz") >= ceilT(col("b.sz"), threshold) &&
        least(col("a.sz") - col("a.r"), col("b.sz") - col("b.r")) + 1 >= alpha)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Exact verify: set intersection over full sorted shingle arrays. */
  private def verified(cand: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val sets = sh.groupBy("id").agg(
      sort_array(collect_list(col("shingle"))).as("toks"),
      count(lit(1)).as("sz"))
    cand
      .join(sets.select(col("id").as("id_a"), col("toks").as("__ta"),
        col("sz").as("n_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("toks").as("__tb"),
        col("sz").as("n_b")), "id_b")
      .withColumn("n_common",
        size(array_intersect(col("__ta"), col("__tb"))).cast("long"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"), col("jaccard"))
  }
}
