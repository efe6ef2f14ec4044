package graft.dedup

import graft.Rounds
import graft.textops.TextOps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family for a training-data pipeline, Spark-first:
  *
  *  - exact: hash-groupBy on a normalized checksum (one shuffle,
  *    map-side partial agg);
  *  - n-gram Jaccard: shingle explode -> per-shingle blocks
  *    ([[Pairs]]) -> per-pair intersection counts vs per-doc counts
  *    (the classic relational Jaccard; shuffle keyed by shingle, so
  *    frequent shingles are the skew axis — cap with a
  *    document-frequency filter);
  *  - MinHash + LSH: k min-hashes per doc (single groupBy with k partial
  *    mins), banded into b buckets, candidate pairs only within equal
  *    (band, bandHash) buckets — the published banding construction, so
  *    the cross-join never materializes;
  *  - SimHash: 60-bit portable sign-vector fingerprint per doc (one
  *    codegen'd column expression), candidates from 15-bit chunk
  *    equality (pigeonhole: hamming <= 3 guarantees one of 4 chunks
  *    equal), verified by exact Hamming distance.
  *
  * All stages are DataFrame transforms; nothing collects to the driver.
  */
object Dedup {

  /** Exact duplicate groups by normalized text checksum. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(sha2(lower(trim(col(textCol))), 256).as("checksum"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dupes"))

  /** (id, shingle) pairs: distinct n-gram token shingles per doc. A doc
    * with fewer than n tokens yields no shingles at all (the greatest()
    * clamp alone would emit one null-padded partial shingle, diverging
    * from the relational oracle's range(1, len-n+1) construction).
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val sh = TextOps.shinglesOfText(col("__t"), n)
    // spread an under-split scan across cores BEFORE the shuffle-free
    // heavy part (tokenize + shingle + per-shingle md5 downstream) —
    // a single-file corpus sample otherwise runs it all on one core
    graft.Parallelize.bySplits(
        docs.select(col(idCol).as("id"), col(textCol).as("__t")), "id")
      .select(col("id"), explode(array_distinct(sh)).as("shingle"))
  }

  /** No-silent-caps audit for ngramJaccardPairs: the shingles its
    * document-frequency cap drops, with their df ([[Pairs.overCap]]).
    * Run alongside capped jobs — a non-empty result quantifies the
    * (deliberate) recall trade.
    */
  def ngramDroppedShingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxShingleDf: Int = 1000): DataFrame =
    Pairs.overCap(shingles(docs, idCol, textCol, n), Seq("shingle"), maxShingleDf)
      .withColumnRenamed("bsz", "df")

  /** Shared candidate core for the exact n-gram similarity pair
    * queries: per-doc counts of cap-surviving shingles and per-pair
    * intersection counts, both from ONE [[Pairs.blocks]] frame of the
    * shingle rows. The member lists ARE the cap-surviving rows (each id
    * once per shingle: shingles() emits distinct shingles per doc), so
    * exploding them back gives the per-id counts, and [[Pairs.of]]'s
    * n_shared is the number of surviving shingles a pair shares.
    */
  private def shingleOverlap(docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxShingleDf: Int): (DataFrame, DataFrame) = {
    val groups = Pairs.blocks(shingles(docs, idCol, textCol, n), Seq("shingle"),
      col("id"), maxShingleDf)
    val counts = groups.select(explode(col("members")).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_sh"))
    val common = Pairs.of(groups)
      .select(col("a").as("id_a"), col("b").as("id_b"), col("n_shared").as("n_common"))
    (counts, common)
  }

  /** Near-duplicate pairs by exact n-gram Jaccard >= threshold.
    * maxShingleDf drops shingles appearing in more docs than the cap —
    * the standard stop-shingle guard that bounds join fan-out (skew) at
    * scale; dropped shingles are noise for near-dup detection anyway.
    * Capped runs are auditable via ngramDroppedShingles.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleDf: Int = 1000): DataFrame = {
    val (counts, common) = shingleOverlap(docs, idCol, textCol, n, maxShingleDf)
    common
      .join(counts.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(counts.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"), col("jaccard"))
  }

  /** Asymmetric n-gram CONTAINMENT between near-duplicate candidates —
    * the "is A a sub-document of B" signal Jaccard misses: a paragraph
    * pasted into a 100× longer page scores near-zero Jaccard but
    * containment(A in B) ≈ 1. Emits one row per unordered candidate
    * pair with both directions, `c_ab` = |sh(A)∩sh(B)| / |sh(A)| and
    * `c_ba` = |∩| / |sh(B)|, kept when either direction clears the
    * threshold.
    *
    * Scale shape: identical to `ngramJaccardPairs` — the candidate set
    * comes from the same capped shingle blocks (auditable via
    * `ngramDroppedShingles`), never an all-pairs product; the two
    * ratios are int/int divisions, engine-exact.
    */
  def ngramContainmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleDf: Int = 1000): DataFrame = {
    val (counts, common) = shingleOverlap(docs, idCol, textCol, n, maxShingleDf)
    common
      .join(counts.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(counts.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("c_ab", col("n_common").cast("double") / col("n_a").cast("double"))
      .withColumn("c_ba", col("n_common").cast("double") / col("n_b").cast("double"))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"), col("c_ab"), col("c_ba"))
  }

  /** MinHash universe prime (2^31 - 1) and the affine family
    * h_i(x) = (a_i * x + b_i) mod P over a 60-bit md5-derived base value:
    * every operation is exact 64-bit integer arithmetic reproducible in
    * any engine (the DuckDB oracle replays it verbatim), unlike Spark's
    * murmur `hash()` which is engine-private.
    */
  val MinhashP: Long = 2147483647L
  def minhashA(i: Int): Long = (1664525L * i + 1013904223L) % MinhashP
  def minhashB(i: Int): Long = (22695477L * i + 1L) % MinhashP

  /** Portable base value: the shared 60-bit md5 hash mod P. Computed
    * once per (doc, shingle) row; the k per-seed hashes are cheap
    * affine transforms of it.
    */
  def minhashBase(shingle: Column): Column =
    graft.PortableHash.md5Hash60(shingle) % MinhashP

  /** k MinHash components per doc: min over shingles of h_i(base).
    * One native codegen'd expression per row
    * ([[graft.functions.MinhashSigExpr]]): the aggregate formulation
    * materialized one row per (doc, distinct shingle) and probed a
    * k-buffer hash aggregate per row; the expression folds the same
    * arithmetic record-locally. Docs with no shingles stay absent
    * (null signature, filtered — the aggregate emitted no group).
    * OpsSpec pins row-set equality against [[minhashSignaturesAgg]].
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    val sig = org.apache.spark.sql.graft.PlanBridge.column(
      graft.functions.MinhashSigExpr(
        org.apache.spark.sql.graft.PlanBridge.expression(col("__t")), n, k))
    // the no-shingle guard must NOT test the signature itself: a
    // filter on sig IS NOT NULL is pushed below the spread exchange
    // and re-evaluates the whole expression per row (plan-verified —
    // the §4.4 duplicated-expensive-expression trap). The equivalent
    // cheap predicate: sig is null <=> text null or fewer than n
    // tokens <=> fewer than n-1 spaces (split-on-space tokens).
    val base = graft.Parallelize.bySplits(
      docs.select(col(idCol).as("id"), col(textCol).as("__t")), "id")
    val enough =
      if (n <= 1) col("__t").isNotNull
      else col("__t").isNotNull &&
        (length(col("__t")) - length(replace(col("__t"), lit(" "), lit(""))) >= n - 1)
    base.filter(enough).select(col("id"), sig.as("sig"))
  }

  /** The pre-round-6 explode + groupBy formulation — kept as the spec
    * cross-check anchor for [[minhashSignatures]].
    */
  private[graft] def minhashSignaturesAgg(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    val sh = shingles(docs, idCol, textCol, n)
      .select(col("id"), minhashBase(col("shingle")).as("hx"))
    val mins = (0 until k).map(i =>
      min((lit(minhashA(i)) * col("hx") + lit(minhashB(i))) % MinhashP).as(s"mh_$i"))
    sh.groupBy(col("id")).agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"mh_$i")): _*).as("sig"))
  }

  /** (id, band, band_hash): LSH banding of each signature into b bands
    * of r rows. The bucket key is the band slice itself (serialized
    * "v,v,v,v": exact equality, no hash-collision false candidates, and
    * byte-reproducible by the DuckDB oracle). Shared by candidate
    * generation, the cap audit and the incremental probe.
    */
  private[dedup] def bandedKeys(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        bIdx => concat_ws(",",
          transform(slice(col("sig"), bIdx * rowsPerBand + 1, lit(rowsPerBand)),
            _.cast("string"))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")

  /** No-silent-caps audit for minhashCandidates: the (band, band_hash,
    * bsz) buckets the cap drops whole ([[Pairs.overCap]]). Run this
    * alongside capped dedup jobs — a non-empty result is recall loss the
    * pair output cannot show (a >cap near-dup clique that saturates
    * every band loses all its pairs; exact dedup only covers the
    * byte-identical case).
    */
  def minhashDroppedBuckets(sigs: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucketSize: Int = 10000): DataFrame =
    Pairs.overCap(bandedKeys(sigs, bands, rowsPerBand), Seq("band", "band_hash"),
      maxBucketSize)

  /** (id_a, id_b, sig_a, sig_b): the distinct pairs sharing a band
    * bucket ([[Pairs]] over the banded keys), with both signatures.
    *
    * The buckets carry bare ids: the k-element signature arrays never
    * ride through the banded shuffle (k x the payload at 10^9 docs);
    * they re-attach by id join after the pair set, when each signature
    * is read exactly twice. minhashNearDups caches `sigs` upstream, so
    * its three reads (banding + both re-attach joins) hit one cached
    * computation of the signature pass.
    *
    * maxBucketSize is the mass-duplicate guard (same rationale as
    * simhashNearDups'): a corpus with 10^6 exact copies puts them all
    * in the same bucket of EVERY band — n^2/2 candidate pairs — and
    * exact dedup already catches them. Over-cap buckets are dropped
    * whole; a genuinely near (not identical) pair still surfaces from
    * any one of its other matching bands that stays under the cap.
    * Capped runs are auditable via minhashDroppedBuckets. The DuckDB
    * oracle replays the uncapped construction, valid while every
    * test-corpus bucket is under the cap.
    */
  def minhashCandidates(sigs: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucketSize: Int = 10000): DataFrame = {
    val pairs = Pairs.of(Pairs.blocks(bandedKeys(sigs, bands, rowsPerBand),
        Seq("band", "band_hash"), col("id"), maxBucketSize))
      .select(col("a").as("id_a"), col("b").as("id_b"))
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
  }

  /** MinHash near-dup pairs with estimated Jaccard (matching signature
    * fraction) >= threshold.
    *
    * The signature frame is cached (MEMORY_AND_DISK, [[Rounds.cached]])
    * across its three reads (banding + the two re-attach joins), so the
    * shingle shuffle + k partial mins run ONCE instead of twice. The
    * cache is bounded — (id, k ints) per doc, ~300 B/doc at k=64,
    * spillable — and lives only while the (small) pair set is
    * checkpointed: the result reads the checkpoint, never the cache.
    */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64, bands: Int = 16, threshold: Double = 0.7): DataFrame =
    Rounds.cached(minhashSignatures(docs, idCol, textCol, n, k)) { sigs =>
      Rounds.checkpoint(minhashPairs(sigs, k, bands, threshold))
    }

  /** The lazy pair plan of [[minhashNearDups]] over a signature frame;
    * callers hold `sigs` in a [[Rounds.cached]] scope.
    */
  private[graft] def minhashPairs(sigs: DataFrame, k: Int, bands: Int,
      threshold: Double): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    minhashCandidates(sigs, bands, k / bands)
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) =>
          when(x === y, 1).otherwise(0)), _ === 1)).cast("double") / k)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** LSH estimator calibration: every banded candidate pair with BOTH
    * the signature-estimated Jaccard (matching-component fraction) and
    * the exact shingle Jaccard, plus their difference — the evidence a
    * pipeline owner needs to TUNE k/bands/threshold instead of
    * trusting defaults. Production flow: run this on a corpus sample,
    * pick the threshold whose est-vs-exact error is acceptable, then
    * run the capped minhashNearDups at full scale.
    *
    * A candidate pair can share zero shingles (two different shingles
    * colliding under some band's hash components); the exact side is a
    * left join with n_common coalesced to 0 so such pairs surface with
    * their full estimation error instead of vanishing.
    *
    * Scale shape: candidates come from the same capped banding as
    * minhashNearDups; the exact-Jaccard side joins shingles ONLY
    * through the candidate pair list (never all-pairs), so its cost is
    * (candidate pairs) x (shingles per doc).
    */
  def estimatorEval(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64, bands: Int = 16,
      maxBucketSize: Int = 10000): DataFrame = {
    // the candidate-pair frame is read twice below (the exact-Jaccard
    // intersection join and the final assembly); checkpoint it so the
    // banded pair generation + rerank runs once — pairs are few and narrow.
    // The signature cache serves only this checkpoint
    val pairs = Rounds.cached(minhashSignatures(docs, idCol, textCol, n, k)) { sigs =>
      Rounds.checkpoint(
        minhashCandidates(sigs, bands, k / bands, maxBucketSize)
          .withColumn("n_match",
            size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) =>
              when(x === y, 1).otherwise(0)), _ === 1)).cast("long"))
          .select(col("id_a"), col("id_b"), col("n_match")))
    }
    // the shingle frame feeds three readers (per-doc counts + both
    // sides of the exact-intersection join); cache it so the
    // tokenize+shingle explode runs once instead of three times
    try Rounds.cached(shingles(docs, idCol, textCol, n)) { sh =>
      val counts = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
      val common = pairs.select(col("id_a"), col("id_b"))
        .join(sh.select(col("id").as("id_a"), col("shingle")), "id_a")
        .join(sh.select(col("id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_common"))
      val est = col("n_match").cast("double") / k
      val exact = col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")).cast("double")
      Rounds.checkpoint(pairs
        .join(common, Seq("id_a", "id_b"), "left")
        .join(counts.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
        .join(counts.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
        .select(col("id_a"), col("id_b"), col("n_match"), est.as("est_jaccard"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          col("n_a"), col("n_b"))
        .select(col("id_a"), col("id_b"), col("n_match"), col("est_jaccard"),
          col("n_common"), col("n_a"), col("n_b"),
          exact.as("exact_jaccard"),
          (col("est_jaccard") - exact).as("err")))
    } finally Rounds.release(pairs)
  }

  /** SimHash fingerprint width: 60 bits (15 hex chars of md5 per token —
    * portable to any engine with md5), banded as 4 x 15-bit chunks.
    */
  val SimhashBits = 60
  val SimhashChunks = 4
  val SimhashChunkBits: Int = SimhashBits / SimhashChunks

  /** SimHash fingerprints — record-local, no shuffle, no UDF: the
    * native `simhash60` Catalyst expression (graft.functions.Simhash60Expr,
    * real doGenCode). Per token a 60-bit md5-derived hash votes +1/-1 on
    * each bit; the sign vector is the fingerprint. Exact integer
    * arithmetic end to end, so the DuckDB oracle reproduces it bit for
    * bit. The equivalent SQL higher-order formulation is interpreted by
    * Spark and measured ~16x slower — see Simhash60Expr's scaladoc.
    * (TextOps.simhash64 remains as the FNV in-JVM utility.)
    */
  def simhashes(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    graft.Parallelize.bySplits(
        docs.select(col(idCol).cast("long").as("id"), col(textCol).as("__t")), "id")
      .select(col("id"), expr("simhash60(__t)").as("simhash"))
  }

  /** (id, chunk, chunk_val): 15-bit pigeonhole chunk keys per
    * fingerprint — shared by candidate generation and the cap audit.
    */
  private def simhashChunks(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String): DataFrame =
    simhashes(spark, docs, idCol, textCol)
      .select(col("id"), col("simhash"),
        posexplode(array((0 until SimhashChunks).map(i =>
          shiftrightunsigned(col("simhash"), i * SimhashChunkBits)
            .bitwiseAND(lit((1L << SimhashChunkBits) - 1))): _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")

  /** No-silent-caps audit for simhashNearDups: the (chunk, chunk_val,
    * bsz) buckets its cap drops whole ([[Pairs.overCap]]).
    */
  def simhashDroppedBuckets(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, maxBucketSize: Int = 10000): DataFrame =
    Pairs.overCap(simhashChunks(spark, docs, idCol, textCol), Seq("chunk", "chunk_val"),
      maxBucketSize)

  /** SimHash near-dup pairs with Hamming distance <= maxDist (<= 3 for
    * the 4x15-bit pigeonhole banding to be lossless).
    *
    * maxBucketSize caps the per-(chunk, chunk_val) bucket fan-out — the
    * same skew guard as ngramJaccardPairs' maxShingleDf. Without it a
    * common fingerprint chunk (near-empty docs, boilerplate) makes the
    * pair expansion quadratic in that bucket: at 10^9 docs a 15-bit
    * chunk bucket averages ~n/65k members, i.e. ~10^8 candidate pairs
    * per hot value. Over-cap buckets are dropped entirely: their
    * members are mass-duplicates that exact dedup already catches, and
    * recall for genuinely near (Hamming<=3) pairs only needs ONE of the
    * four chunk buckets to survive.
    *
    * The fingerprint rides in the bucket member, so [[Pairs.of]] hands
    * both fingerprints to the Hamming check on the pair itself.
    */
  def simhashNearDups(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, maxDist: Int = 3, maxBucketSize: Int = 10000): DataFrame =
    Pairs.of(Pairs.blocks(simhashChunks(spark, docs, idCol, textCol),
        Seq("chunk", "chunk_val"), struct(col("id"), col("simhash")), maxBucketSize))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxDist)

  /** Connected components over an undirected candidate-pair edge list —
    * the clustering stage that turns near-dup PAIRS into dedup GROUPS.
    * Returns (doc_id, cluster_id) for every node that appears in a pair,
    * with cluster_id = the minimum doc id reachable from it.
    *
    * Two implementations, chosen by graph shape — both produce identical
    * labels (spec-asserted against union-find ground truth):
    *
    *  - [[connectedComponentsJump]] (production default): pointer-jumping
    *    min-label propagation over once-partitioned edges. Near-dup
    *    candidate graphs are forests of SHALLOW DENSE BLOBS (diameter
    *    2-4), where its 3 joins/round over a pre-partitioned edge set
    *    win on job count: measured 3.3 s vs the star variant's 7.0 s for
    *    q_dedup_cluster at sf0.1 (local[32], quiet host, best-of-2).
    *  - [[connectedComponentsStar]]: alternating large-star/small-star
    *    rounds with fused path-halving. Strictly fewer rounds on
    *    high-diameter graphs (ClusterSpec measures both on a 128-node
    *    path) and the working edge set contracts toward a star forest,
    *    so each later round shuffles a shrinking frontier — the variant
    *    to pick when components can be long chains (linked-page graphs,
    *    citation chains) rather than near-dup blobs.
    *
    * Production guidance: call [[connectedComponentsAuto]] when the
    * graph shape is UNKNOWN (it probes degree statistics once and picks
    * the variant that wins on that shape); this entry point pins
    * pointer jumping because its callers are near-dup candidate graphs,
    * whose shallow-dense-blob shape is known a priori — paying the
    * probe pass on every dedup run would buy information the pipeline
    * already has.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIters: Int = 25): DataFrame =
    connectedComponentsJump(pairs, idA, idB, maxIters)._1

  /** Shape-probed chooser between the two components implementations.
    * One bounded probe pass (canonical-edge degree groupBy reduced to
    * three scalars: node count, summed degree, max degree) classifies
    * the graph:
    *
    *  - low mean degree (< 3) AND low max degree (<= 8) -> components
    *    can be LONG CHAINS (path/citation/linked-page shapes: mean
    *    degree ~2, no hubs) -> star rounds, which contract chain depth
    *    twice per round and shuffle a shrinking frontier;
    *  - anything else -> dense blobs (near-dup families, mean degree
    *    high) or hub-centered stars (max degree high, diameter 2) —
    *    both shallow -> pointer jumping, which wins on per-round job
    *    count there (see [[connectedComponents]] scaladoc timings).
    *
    * The probe executes the upstream pair lineage once, so the input is
    * cached ([[Rounds.cached]]) for its duration; the chosen
    * implementation checkpoints its own base before returning, after
    * which the probe cache is dropped. Returns (labels, rounds, choice)
    * with choice in {"star", "jump"} so callers (and specs) can audit
    * the decision.
    */
  def connectedComponentsAuto(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIters: Int = 25): (DataFrame, Int, String) =
    Rounds.cached(pairs
        .select(col(idA).cast("long").as(idA), col(idB).cast("long").as(idB))) { p =>
      val e = p.select(least(col(idA), col(idB)).as("u"),
          greatest(col(idA), col(idB)).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      val deg = e.select(col("u").as("x"))
        .union(e.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("d"))
      val stats = deg.agg(count(lit(1)).as("n"), sum(col("d")).as("sd"),
        max(col("d")).as("dmax")).head()
      val n = stats.getLong(0)
      val meanDeg = if (n == 0) 0.0 else stats.getLong(1).toDouble / n
      val maxDeg = if (n == 0) 0L else stats.getLong(2)
      val pickStar = n > 0 && meanDeg < 3.0 && maxDeg <= 8
      val (labels, rounds) =
        if (pickStar) connectedComponentsStar(p, idA, idB, maxIters)
        else connectedComponentsJump(p, idA, idB, maxIters)
      (labels, rounds, if (pickStar) "star" else "jump")
    }

  /** Alternating two-phase connected components (the large-star /
    * small-star construction of Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014). Edges are kept canonical-downhill
    * (u > v). Each round:
    *
    *  - LARGE-STAR: every node u links each strictly-larger neighbor to
    *    the minimum of u's closed neighborhood — dense blobs collapse to
    *    depth 1 in a single round;
    *  - SMALL-STAR: every node u re-links its smaller neighbors (and
    *    itself) to their minimum — chains hang onto their local minima;
    *  - PATH-HALVING: every edge head is relinked to its head's min
    *    parent with the witness edge retained (pointer jumping fused
    *    into the star round), halving remaining chain depth a second
    *    time per round.
    *
    * Fixed points are exactly star forests centered at component minima
    * (paper, Thm 2), so convergence = the round reproduced its input
    * edge set; the paper bounds rounds by O(log^2 n) with O(log n)
    * observed. Scale posture vs pointer jumping: after round 1 the edge
    * set holds at most one downhill edge per non-center node, so each
    * subsequent round shuffles O(nodes) rows rather than O(edges) — on a
    * near-dup graph (dense blobs) the contraction is immediate. Rounds
    * checkpoint the frontier and drop superseded blocks, same discipline
    * (and same localCheckpoint-vs-checkpoint trade-off) as
    * [[connectedComponentsJump]]. Returns (labels, rounds).
    */
  private[graft] def connectedComponentsStar(pairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b",
      maxIters: Int = 25): (DataFrame, Int) = {
    // ONE materialization of the (potentially expensive) upstream pair
    // pipeline; the node universe and the edge set both derive from it
    // — deriving each straight from `pairs` would execute the whole
    // candidate-generation lineage twice
    val base = Rounds.checkpoint(
      pairs.select(col(idA).cast("long").as("a"), col(idB).cast("long").as("b")))
    // node universe up front: self-loop-only nodes never enter the edge
    // iteration but still label themselves in the output
    val nodes = Rounds.checkpoint(
      base.select(col("a").as("id"))
        .union(base.select(col("b").as("id")))
        .distinct())
    val edges0 = Rounds.checkpoint(
      base.filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
        .distinct())
    Rounds.release(base)
    // fixed point: the round reproduced its input edge set
    val (forest, rounds) = Rounds.iterate(edges0, maxIters, Rounds.SameRows) {
      (edges, materialize) =>
        // large-star over the symmetrized neighborhood; emitted (v, m) has
        // v > u >= m, so output is canonical-downhill and self-loop-free
        val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
        val lmins = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
        val large = materialize(
          sym.join(lmins, "u")
            .filter(col("v") > col("u"))
            .select(col("v").as("u"), col("m").as("v"))
            .distinct())
        // small-star: canonical edges already key each u to its smaller
        // neighbors; m = their min, re-link u and every other neighbor
        val smins = large.groupBy("u").agg(min(col("v")).as("m"))
        val next = materialize(
          large.join(smins, "u")
            .filter(col("v") =!= col("m"))
            .select(col("v").as("u"), col("m").as("v"))
            .union(smins.select(col("u"), col("m").as("v")))
            .distinct())
        // path-halving, fused into the round: relink every edge's head to
        // the head's own min parent, KEEPING the (head, parent) witness
        // edge so the rewrite stays connectivity-safe on multi-parent
        // nodes — u—v becomes u—p(v) plus v—p(v), still one component.
        // Star phases halve chain depth once per round; this halves it
        // again for one extra groupBy+join, which is what makes the round
        // count beat plain pointer jumping on high-diameter graphs
        // (ClusterSpec measures both).
        val parents = next.groupBy(col("u")).agg(min(col("v")).as("p"))
        next
          .join(parents.select(col("u").as("v"), col("p")), Seq("v"), "left")
          .select(col("u"), coalesce(col("p"), col("v")).as("v"))
          .union(parents.select(col("u"), col("p").as("v")))
          .distinct()
    }
    // star forest: every non-center node has exactly one downhill edge to
    // its component min; centers (and self-loop-only nodes) label = self
    val labels = nodes
      .join(forest.select(col("u").as("id"), col("v").as("label")), Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("label"), col("id")).as("cluster_id"))
    (labels, rounds)
  }

  /** Pointer-jumping connected components — the production default (see
    * [[connectedComponents]] for the measured shape-based choice vs
    * [[connectedComponentsStar]]).
    *
    * Algorithm: min-label propagation (each node takes the min label
    * over itself and its neighbors) followed by pointer jumping
    * (label := label(label)) each round, as hash joins + partial-agg
    * groupBys keyed on node id. Pointer jumping halves the remaining
    * label-tree height per round, so convergence is O(log diameter)
    * shuffle rounds — the property that keeps this viable at 10^9 nodes
    * (same doubling idea as Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014), vs O(diameter) for plain
    * propagation. Near-dup graphs are forests of shallow dense blobs,
    * so in practice 3-5 rounds. The rounds run through
    * [[graft.Rounds.iterate]]: each checkpoints the label frontier
    * (keeps the lineage flat across iterations) and counts the changed
    * labels on that same pass; superseded rounds' checkpoint blocks are
    * unpersisted as soon as the next frontier materializes, so executor
    * storage holds O(1) frontiers, not one per round. The
    * localCheckpoint-vs-reliable trade-off is [[graft.Rounds]]'s.
    */
  private[graft] def connectedComponentsJump(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIters: Int = 25): (DataFrame, Int) = {
    // one materialization of the (potentially expensive) upstream pair
    // pipeline — the symmetrizing union below reads `half` twice, and
    // without this checkpoint each branch would re-execute the whole
    // candidate-generation lineage (measured: the single largest cost
    // of the round-2 driver bench's q_dedup_cluster)
    val half = Rounds.checkpoint(
      pairs.select(col(idA).cast("long").as("u"), col(idB).cast("long").as("v")))
    // edges hash-partitioned on the probe key v once, BEFORE the
    // checkpoint (localCheckpoint preserves outputPartitioning): every
    // round's neighbor join then reuses this layout and only the label
    // frontier — never the edge set — shuffles per round
    val edges = Rounds.checkpoint(
      half.union(half.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("v")))
    Rounds.release(half)
    // seed labels with round 1's relax fused in: label(u) = min(u, N(u))
    // comes free from the same groupBy that enumerates the nodes
    val seed = Rounds.checkpoint(
      edges.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("label"))
        .select(col("u").as("id"), col("label")))
    // the previous round's label rides along in `prev`, so convergence
    // is a count observed on the frontier's own checkpoint pass
    val (fixed, rounds) =
      Rounds.iterate(seed, maxIters, Rounds.NoneChanged(col("label") =!= col("prev"))) {
        (labels, materialize) =>
          val nbrMin = edges.join(labels.select(col("id").as("v"), col("label")), "v")
            .groupBy(col("u").as("id")).agg(min("label").as("nb_label"))
          // materialized once per round: both sides of the pointer-jump
          // self-join read it, which would otherwise recompute the relax
          // join (and the neighbor join underneath it) twice
          val relaxed = materialize(
            labels.join(nbrMin, Seq("id"), "left")
              .select(col("id"), col("label").as("prev"),
                least(col("label"), coalesce(col("nb_label"), col("label"))).as("label")))
          // pointer jumping: follow the label one hop (labels are node ids,
          // so every label value has a row; left join guards the root case)
          relaxed.as("x")
            .join(relaxed.select(col("id").as("label"), col("label").as("ll")).as("y"),
              Seq("label"), "left")
            .select(col("id"), col("prev"), coalesce(col("ll"), col("label")).as("label"))
      }
    Rounds.release(edges)
    (fixed.select(col("id").as("doc_id"), col("label").as("cluster_id")), rounds)
  }

  /** End-to-end near-dup grouping: MinHash+LSH candidate pairs ->
    * connected components -> (doc_id, cluster_id, keep), keep = this doc
    * is the cluster's canonical representative (minimum id). Docs with
    * no near-dup are absent (they are trivially their own cluster); the
    * dedup'd corpus is `docs` anti-joined with the keep=false rows.
    */
  def nearDupClusters(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64, bands: Int = 16, threshold: Double = 0.7): DataFrame = {
    // connectedComponents checkpoints the pair pipeline up front, so
    // its labels never read the signature cache
    Rounds.cached(minhashSignatures(docs, idCol, textCol, n, k)) { sigs =>
      connectedComponents(minhashPairs(sigs, k, bands, threshold))
    }.withColumn("keep", col("doc_id") === col("cluster_id"))
  }

  /** The deduplicated corpus: every doc except non-canonical members of
    * near-dup clusters. Anti-join keyed on the (small) cluster-member
    * set — broadcast-able; the full corpus is never shuffled.
    */
  def dedupSurvivors(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64, bands: Int = 16, threshold: Double = 0.7): DataFrame = {
    val drop = nearDupClusters(docs, idCol, textCol, n, k, bands, threshold)
      .filter(!col("keep"))
      .select(col("doc_id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }
}
