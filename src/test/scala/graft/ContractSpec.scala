package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{ArrayType, MapType}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Guards on the SparkEntry driver contract itself.
  *
  * Scala Map literals silently keep only the LAST binding for a
  * duplicated key, so a query accidentally defined twice (or an oracle
  * added for an already-oracled name) never fails compilation — the
  * engine and the oracle can silently resolve to DIFFERENT entries.
  * The source-scan test makes that a hard failure.
  *
  * The driver-compat test guards the OTHER harness contract: the graded
  * compare loads both result sets into pandas and row-sorts them, which
  * crashes on array/map cells (unhashable ndarray) — three round-4 rows
  * (q_random_project, stream_latest_k, stream_type_counts) errored for
  * exactly this. Its sibling defect class — DuckDB HUGEINT from an
  * uncast sum() hashing as pandas float64 `20000.0` against Spark's
  * `20000` — needs DuckDB+pandas to detect and is gated by
  * tools/oracle_check.py's driver-compat lint (dtype-drift + sort
  * checks), run per round over the full Verify output.
  */
class ContractSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-contract-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("driver-compat: no query emits a top-level array/map column") {
    val sf = TestData.Sf0001
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, f) =>
        f(spark, sf).schema.fields.collect {
          case fd if fd.dataType.isInstanceOf[ArrayType] ||
            fd.dataType.isInstanceOf[MapType] =>
            s"$name.${fd.name}: ${fd.dataType.simpleString}"
        }
    }
    assert(offenders.isEmpty,
      s"array/map outputs crash the driver's pandas row-sort: $offenders")
  }

  test("filtered Verify dumps span fixtures exactly when a selected oracle needs them") {
    // unfiltered: always dump
    assert(Verify.needsFixtureDump(None))
    // extract oracles reconstruct from the dumped {OUT}/spans_* tables
    assert(Verify.needsFixtureDump(Some(Set("extract_e1_spans"))))
    assert(Verify.needsFixtureDump(Some(Set("q_sha2", "extract_e2_adv"))))
    // pure-table oracles must not trigger the (expensive) fixture dump
    assert(!Verify.needsFixtureDump(Some(Set("q_sha2", "q_filter_word"))))
  }

  test("every query has exactly one oracle and vice versa") {
    val q = SparkEntry.queries.keySet
    // the two span-input identity oracles are oracle-only by design:
    // graft.Verify dumps those tables directly, not via a query
    val o = SparkEntry.oracleSql.keySet -- Set("spans_input", "spans_adv_input")
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted}")
  }

  test("the mains under src/main/scala are the pinned set") {
    // a new triage main fails here until it is added on purpose;
    // graft.tools.Profile is the one per-query profiler
    val mains = sourcesWhere("src/main/scala")(_.contains("def main(args"))
    val pinned = Set("Bench", "BenchOne", "ScalingBench", "Verify", "Run",
      "tools/Profile", "tools/PlanDump", "tools/VerifyOne", "tools/FindAdversarial",
      "tools/FuzzCampaign").map(n => s"graft/$n.scala")
    assert(mains == pinned,
      s"unpinned: ${(mains -- pinned).toSeq.sorted}; gone: ${(pinned -- mains).toSeq.sorted}")
  }

  test("no silently-overridden duplicate keys in the SparkEntry maps") {
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala"))
    val entry = """(?m)^    "([A-Za-z0-9_]+)" ->""".r
    val counts = entry.findAllMatchIn(src).map(_.group(1)).toSeq
      .groupBy(identity).view.mapValues(_.size)
    // each name may appear at most twice: once in queries, once in
    // oracleSql; a third occurrence means one map holds a duplicate
    // binding that Scala dropped silently
    val dups = counts.filter(_._2 > 2).keys.toSeq.sorted
    assert(dups.isEmpty, s"duplicate map keys (silent override): $dups")
    // and every parsed name must actually have survived into the maps
    val known = SparkEntry.queries.keySet ++ SparkEntry.oracleSql.keySet
    val lost = counts.keys.filterNot(known).toSeq.sorted
    assert(lost.isEmpty, s"map-entry-shaped keys not present in either map: $lost")
  }

  test("only the streaming drain helper starts and awaits a streaming query") {
    // every AvailableNow drain goes through StreamingState.drain; a
    // hand-written writeStream chain elsewhere fails here
    val starters = sourcesWhere("src/main/scala")(src =>
      src.contains("Trigger.AvailableNow") || src.contains("awaitTermination"))
    assert(starters == Set("graft/streaming/StreamingState.scala"), starters)
  }

  test("only graft.Rounds checkpoints a frame") {
    // Rounds owns the checkpoint mode and the release of its blocks; a
    // checkpoint taken elsewhere is one nothing releases
    val call = """localCheckpoint\(|(?<!Rounds)\.checkpoint\(""".r
    val takers = sourcesWhere("src/main/scala")(call.findFirstIn(_).isDefined)
    assert(takers == Set("graft/Rounds.scala"), takers)
    val retired = Seq("checkpoint", "unpersist").map(_ + "Owned")
    val stale = sourcesWhere("src")(src => retired.exists(src.contains))
    assert(stale.isEmpty, stale)
  }

  test("only graft.Rounds caches a frame") {
    // Rounds.cached owns the storage level and the release; the
    // persistent-RDD sweeps of Bench and Profile free blocks, not frames
    val sweep = """getPersistentRDDs\.values\s*\.foreach\(_\.unpersist\(""".r
    val call = """\.persist\(|\.cache\(\)|\.unpersist\(""".r
    val owners = sourcesWhere("src/main/scala")(src =>
      call.findFirstIn(sweep.replaceAllIn(src, "")).isDefined)
    assert(owners == Set("graft/Rounds.scala"), owners)
    val retired = "minhashNearDups" + "WithSigs"
    val stale = sourcesWhere("src")(_.contains(retired))
    assert(stale.isEmpty, stale)
  }

  test("only the catalog names its snapshot directory") {
    // manifests and snapshot summaries are ParquetCatalog's format; a
    // reader elsewhere would bypass the summaries' validity rule. Test
    // sources, which inspect the layout on purpose, are excepted
    val namers = sourcesWhere("src/main/scala")(_.contains("_graft_snapshots"))
    assert(namers == Set("graft/lineage/ParquetCatalog.scala"), namers)
  }

  test("the catalog creates its metadata files in one place") {
    // ParquetCatalog.writeMeta writes under a temporary name and renames;
    // a second create( would write a manifest outside that protocol
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/lineage/ParquetCatalog.scala"))
    assert("""\.create\(""".r.findAllIn(src).length == 1)
  }

  test("the catalog lists tables without LocatedFileStatus") {
    // a LocatedFileStatus copies each entry's permission, a forked
    // `ls -ld` per file on a local filesystem without libhadoop
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/lineage/ParquetCatalog.scala"))
    val named = Seq("listFiles(", "listLocatedStatus(").filter(src.contains)
    assert(named.isEmpty, named)
  }

  test("dedup.Pairs is the one capped candidate-pair generator") {
    // an in-row pair array builds all C(n, 2) pairs of a block inside
    // one row (~50M structs at a 10k cap); Pairs.of expands one
    // member's later slice per row instead
    val inRow = sourcesWhere("src/main/scala")(_.contains("flatten(transform(sequence"))
    assert(inRow.isEmpty, inRow)
    val expanders = sourcesWhere("src/main/scala")(_.contains("posexplode(col(\"members\"))"))
    assert(expanders == Set("graft/dedup/Pairs.scala"), expanders)
    // the routed generators block and cap through Pairs, never with a
    // window count (a full sort of the block rows)
    for (f <- Seq("graft/dedup/Dedup.scala", "graft/dedup/Winnow.scala",
        "graft/media/Phash.scala")) {
      val src = java.nio.file.Files.readString(java.nio.file.Paths.get("src/main/scala", f))
      assert(src.contains("Pairs.of(") && src.contains("Pairs.blocks("), f)
      assert(!src.contains("Window"), s"$f caps with a window")
    }
  }

  test("graft.ann ranks in one place and trains through one Lloyd loop") {
    // the per-query ranker (Ann.ranked) and the fixed-point centroid
    // update (Ivf.lloyd) each have one definition the family shares
    val dir = java.nio.file.Paths.get("src/main/scala/graft/ann")
    def uses(pattern: String): Map[String, Int] =
      sourcesWhere(dir.toString)(pattern.r.findFirstIn(_).isDefined).map(f =>
        f -> pattern.r.findAllIn(java.nio.file.Files.readString(dir.resolve(f))).length).toMap
    assert(uses("""row_number\(\)""") == Map("Ann.scala" -> 1))
    assert(uses("""FixedPointScale \+ 0\.5""") == Map("Ivf.scala" -> 1))
  }

  test("the routed cache owners leave no CacheManager entry behind") {
    // each builds, counts and releases its cached frames; a registration
    // left behind turns a later query's matching plan fragment into an
    // InMemoryRelation
    val sf = TestData.Sf0001
    val routed = Seq("q_prefix_join", "q_dedup_minhash", "q_dedup_cluster",
      "q_dedup_cluster_auto", "q_cluster_canonical", "q_fold_assign", "q_dedup_eval",
      "q_dedup_incremental", "q_ann_ivf", "q_ann_pq", "q_ann_ivfpq", "q_semantic_dedup",
      "q_pca_project", "q_pca2_project", "q_phash_neardup", "q_lexical_topk",
      "q_corpus_clean", "q_embed_quant")
    // persist registers a plan when the query is BUILT, and registering
    // an already-cached plan is a no-op: an entry an earlier build left
    // (the array/map output test builds every query) would hide this
    // query's own
    spark.catalog.clearCache()
    val leaks = routed.flatMap { q =>
      val before = org.apache.spark.sql.graft.PlanBridge.cacheEntries(spark)
      SparkEntry.queries(q)(spark, sf).count()
      val after = org.apache.spark.sql.graft.PlanBridge.cacheEntries(spark)
      if (after == before) None else Some(s"$q: $before -> $after")
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
  }

  /** The .scala files under `dir` whose text satisfies `pred`, relative
    * to `dir`.
    */
  private def sourcesWhere(dir: String)(pred: String => Boolean): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && pred(java.nio.file.Files.readString(p)))
      .map(root.relativize(_).toString).toSet
    finally files.close()
  }

  test("oracleSql is pinned byte for byte") {
    // the oracle is the contract every query is checked against: a
    // change to any (key, SQL) pair must be deliberate and re-pinned
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, sql) =>
      sha.update(s"$k\t$sql\n".getBytes("UTF-8"))
    }
    val hex = sha.digest().map(b => f"${b & 0xff}%02x").mkString
    val pinned = "0e62f6f01c16381b37610464a06798844e37f82b45f304938a71f501cc197128"
    assert(hex == pinned, s"oracleSql changed: sha256 $hex")
  }
}
