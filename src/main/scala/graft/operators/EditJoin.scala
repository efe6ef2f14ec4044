package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bounded edit-distance similarity self-join (fuzzy matching on
  * titles / entity names / URL slugs — the record-linkage primitive a
  * training-data pipeline needs for merging near-identical metadata).
  *
  * A naive `levenshtein(a, b) <= k` join is a cartesian product — the
  * canonical scale-killer. This is the ED-Join-shaped lossless
  * filter-and-verify plan instead:
  *
  *  1. Positional q-gram keys. Each string s yields the multiset of
  *     its q-grams; the i-th repeat of a gram becomes key (gram, i),
  *     so multiset overlap is a plain equi-join on (gram, occ).
  *  2. Count filtering (Gravano et al., VLDB'01): one edit destroys
  *     at most q grams, so ed(a,b) <= k implies gram-multiset overlap
  *     >= max(|a|,|b|) - q + 1 - k*q >= |G(s)| - k*q for each side.
  *  3. Prefix filtering under a global key order (ppjoin lemma): sort
  *     each string's keys by (corpus frequency, gram, occ) — rarest
  *     first — and keep only the first k*q + 1. Any pair with overlap
  *     >= t shares a key inside both (|G| - t + 1)-prefixes; with
  *     t >= |G| - k*q that prefix is at most k*q + 1 keys. So the
  *     equi-join touches only each string's k*q + 1 RAREST keys —
  *     frequent grams are never join keys and no hot-key explosion
  *     can occur. The frequency order is a performance choice; any
  *     fixed total order preserves losslessness.
  *  4. Exact verify: length filter |len_a - len_b| <= k, then
  *     `levenshtein` (codegen'd) on the surviving candidates.
  *
  * The theorem needs |G(s)| >= k*q + 1, i.e. len >= (k+1)*q. Shorter
  * strings take a fallback path: distinct VALUES (a bounded set — at
  * most |alphabet|^((k+1)*q + k - 1) strings exist below the cutoff)
  * are paired by a length-band equi-join (fan-out 2k+1) and verified,
  * then re-attached to ids. The two paths partition pairs by
  * min(len_a, len_b) vs the cutoff, so the union is exact and
  * duplicate-free.
  *
  * Shuffles: grams keyed by (id, gram) for occ numbering, keys by
  * (gram, occ) for frequency + the prefix self-join, pairs by id for
  * string re-attach — all equi-joins, nothing quadratic. Reference has
  * no fuzzy matching (vegarsti/extract-table: exact geometry only);
  * this is pipeline-completing functionality.
  */
object EditJoin {

  /** All unordered id pairs whose `strCol` values are within
    * Levenshtein distance `maxDist`. Ids must be distinct; output is
    * (id_a, id_b, dist) with id_a < id_b, each qualifying pair exactly
    * once.
    *
    * For `maxDist <= 1` the candidate generator is the FastSS
    * deletion-neighborhood equi-join (see [[deletionPairs]]) instead of
    * the positional-q-gram prefix filter: on short keys over a small
    * alphabet the q-gram key universe collapses (measured at sf0.1:
    * 252 distinct (gram,occ) keys over 5,000 16-char heads, so the
    * 3-rarest-keys join emitted 1.56M candidate pairs for 1,313 true
    * results — 35 task-CPU-s, ~20 of them in the levenshtein verify).
    * Both paths verify with exact `levenshtein`, so the output set is
    * identical either way (EditJoinSpec brute-force-gates both).
    */
  def similarPairs(
      df: DataFrame,
      idCol: String,
      strCol: String,
      maxDist: Int,
      q: Int = 2): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(q >= 1, s"q must be >= 1, got $q")
    if (maxDist <= 1) return deletionPairs(df, idCol, strCol, maxDist)
    val cutoff = (maxDist + 1) * q // gram path needs len >= cutoff
    val prefixLen = maxDist * q + 1

    // spread an under-split scan BEFORE the per-string work: the gram
    // explode, prefix ranking and levenshtein verify are all reachable
    // from `base` through broadcast joins, so a single-file input would
    // otherwise run the whole filter-and-verify chain in ONE task
    // (measured: a 4.9 s single-task stage at sf0.1 = ~80% of the
    // query's wall) — the Dedup.shingles posture
    val base = graft.Parallelize.bySplits(
      df.select(col(idCol).cast("long").as("id"), col(strCol).as("s")), "id")
      .withColumn("len", length(col("s")))

    // ---- gram path: both strings >= cutoff ------------------------
    val eligible = base.filter(col("len") >= cutoff)
    // (id, pos, gram); len >= cutoff > q keeps sequence() ascending.
    val grams = eligible
      .select(col("id"),
        posexplode(expr(
          s"transform(sequence(1, length(s) - ${q - 1}), i -> substring(s, i, $q))"))
          .as(Seq("pos", "gram")))
    // occurrence index makes the multiset a set of (gram, occ) keys.
    // Materialized once: the frequency aggregation and the ranked join
    // below both read it, and each read would otherwise re-run the
    // gram explode + occurrence window.
    val keys = graft.Rounds.checkpoint(
      grams.withColumn("occ",
        row_number().over(Window.partitionBy("id", "gram").orderBy("pos")))
        .select("id", "gram", "occ"))
    // global total order on keys: corpus frequency, then key itself
    val freq = keys.groupBy("gram", "occ").agg(count(lit(1)).as("kfreq"))
    val ranked = keys.join(freq, Seq("gram", "occ"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("id").orderBy(col("kfreq"), col("gram"), col("occ"))))
      .filter(col("rk") <= prefixLen)
      .select("id", "gram", "occ")
    // explicit width on the candidate spread: the pair rows are a few
    // bytes each, so AQE's byte-targeted coalescing collapses the
    // distinct's exchange to ONE partition — and the whole levenshtein
    // verify downstream (reached via broadcast joins, no further
    // exchange) ran in one task (measured 3.5 s single-task stage at
    // sf0.1). A pinned partition count keeps the CPU-heavy verify wide;
    // AQE never coalesces a user repartition with an explicit count.
    val verifyParts = df.sparkSession.sparkContext.defaultParallelism
    val candidates = ranked.as("a")
      .join(ranked.as("b"),
        col("a.gram") === col("b.gram") && col("a.occ") === col("b.occ") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      .repartition(verifyParts, col("id_a"), col("id_b"))
    val gramPairs = candidates
      .join(eligible.select(col("id").as("id_a"), col("s").as("s_a"),
        col("len").as("len_a")), Seq("id_a"))
      .join(eligible.select(col("id").as("id_b"), col("s").as("s_b"),
        col("len").as("len_b")), Seq("id_b"))
      .filter(abs(col("len_a") - col("len_b")) <= maxDist)
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))

    // ---- short path: min(len_a, len_b) < cutoff -------------------
    // Partners of a short string satisfy len <= cutoff + maxDist - 1.
    val nearShort = base.filter(col("len") < cutoff + maxDist)
    val vals = nearShort.select(col("s"), col("len")).distinct()
    // length-band equi-join: the a-side value emits its own length,
    // the b-side emits every admissible partner length (guarded: a
    // descending sequence() can't arise since maxDist >= 0).
    val bandA = vals.select(col("s").as("s_a"), col("len").as("len_a"),
      col("len").as("band"))
    val bandB = vals.select(col("s").as("s_b"), col("len").as("len_b"),
      explode(sequence(greatest(col("len") - maxDist, lit(0)),
        col("len") + maxDist)).as("band"))
    val valPairs = bandA.join(bandB, Seq("band"))
      // one canonical orientation per unordered value pair; equal
      // values pair too (distinct ids attach below)
      .filter(col("s_a") < col("s_b") ||
        (col("s_a") === col("s_b") && col("len_a") === col("len_b")))
      .filter(least(col("len_a"), col("len_b")) < cutoff)
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= maxDist)
      .select(col("s_a"), col("s_b"), col("dist")).distinct()
    val shortPairs = valPairs
      .join(nearShort.select(col("s").as("s_a"), col("id").as("ia")), Seq("s_a"))
      .join(nearShort.select(col("s").as("s_b"), col("id").as("ib")), Seq("s_b"))
      .filter(col("ia") =!= col("ib"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("dist"))
      .distinct()

    gramPairs.unionByName(shortPairs)
  }

  /** FastSS (Bocek et al., 2007) candidate generation for k <= 1: each
    * string's signature set is the string itself plus, for k = 1, every
    * single-character-deletion variant. Any pair within edit distance 1
    * shares a signature — a substitution at position p makes the two
    * p-deletions equal, and an indel makes the shorter string itself a
    * deletion variant of the longer — so an equi-join on the signature
    * is a complete (lossless) candidate filter; exact `levenshtein`
    * verifies, so false positives only cost compute. Signature volume
    * is O(len^2) bytes per string, the right trade for the operator's
    * stated domain (titles / entity names / slugs — short keys, where
    * the q-gram filter degrades); the q-gram plan remains the k >= 2
    * path.
    */
  private def deletionPairs(
      df: DataFrame,
      idCol: String,
      strCol: String,
      maxDist: Int): DataFrame = {
    // spread an under-split scan so signature generation and the
    // levenshtein verify (reached without further exchanges on the
    // id-carrying side) never collapse into one task
    val base = graft.Parallelize.bySplits(
      df.select(col(idCol).cast("long").as("id"), col(strCol).as("s")), "id")
    val sigs =
      if (maxDist == 0) base.withColumn("sig", col("s"))
      else base.select(col("id"), col("s"),
        // the guard keeps sequence() ascending for the empty string
        // (sequence(1,0) would yield the DESCENDING [1,0], not []);
        // array_distinct collapses equal deletions ("aaaa" has one)
        explode(array_distinct(concat(array(col("s")), expr(
          "case when length(s) >= 1 then transform(sequence(1, length(s)), " +
            "i -> concat(substring(s, 1, i-1), substring(s, i+1, length(s)))) " +
            "else array() end")))).as("sig"))
    val verifyParts = df.sparkSession.sparkContext.defaultParallelism
    sigs.as("a")
      .join(sigs.as("b"),
        col("a.sig") === col("b.sig") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.s").as("s_a"), col("b.s").as("s_b"))
      .distinct()
      // pinned width: the pair rows are bytes, so AQE's byte-targeted
      // coalescing would otherwise run the verify in one task
      .repartition(verifyParts, col("id_a"), col("id_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }
}
