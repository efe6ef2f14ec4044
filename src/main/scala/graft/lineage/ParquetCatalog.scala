package graft.lineage

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Observation, Row, SaveMode,
  SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.nio.charset.StandardCharsets.UTF_8

/** Storage for the output and metrics tables: `table` is a filesystem
  * path. No Iceberg runtime is on the classpath, so the tables are
  * Parquet with an Iceberg-shaped layout (append-only, partition column,
  * directory pruning, snapshot manifests); the engine reaches storage
  * only through this object (SURVEY.md §7 hard part (d)).
  *
  * Snapshot emulation (the Iceberg seam made testable without the
  * runtime jar): every append commits a manifest under
  * `<table>/_graft_snapshots/snap-<id>` listing the data files that
  * append added (relative paths, one per line). `readAsOf(id)` reads the
  * union of files from manifests `<= id` with `basePath=<table>` so
  * partition columns survive. Underscore-prefixed paths are invisible to
  * Spark's parquet reader, so `read` (current view) is unaffected.
  *
  * Snapshot summaries: [[appendSummarized]] also commits a summary of
  * the rows the append added, as `<table>/_graft_snapshots/fp-<id>`
  * beside `snap-<id>`. The summary is the value of an aggregate the
  * caller supplies, observed in the write's own pass, so it costs no
  * Spark job; the catalog stores its bytes without reading them.
  * [[summaries]] returns them only while they describe every row
  * `read` sees: every committed snapshot is an append with a summary,
  * and the visible data files are exactly the union of those snapshots'
  * manifests. A table written outside the catalog, an orphan file
  * (adopted or not), a rewrite ([[overwrite]], [[compact]],
  * [[expireSnapshots]]) or a lost summary make it return None, and the
  * caller reads the rows instead. The summary is written after the
  * manifest, so a crash between the two leaves a snapshot without a
  * summary, never a summary without a snapshot.
  *
  * Codec: every data file the catalog writes is zstd-compressed
  * (`Codec`, Parquet's default zstd level). It is part of the table
  * format, not a setting: no parameter, session conf or environment
  * variable changes it. Readers need none either, because Parquet
  * records the codec per column chunk, so a table holding files of an
  * earlier codec (snappy, Spark's default) keeps reading, resuming and
  * compacting; a compaction rewrites them as zstd.
  *
  * Single-writer by design: the engine's driver is the only committer
  * (Lineage.runResumable fails fast on run_id reuse). Real Iceberg
  * replaces the before/after listing with optimistic metadata commits.
  *
  * Iceberg mapping (not constructible here, no runtime jar): `table` is a
  * catalog identifier; appends become `df.writeTo(table).append()`, reads
  * `spark.table(table)`, snapshots the `<table>.snapshots` metadata table,
  * and `readAsOf` becomes `spark.read.option("snapshot-id", id).table(table)`.
  * The codec maps to the table property
  * `write.parquet.compression-codec=zstd` (Iceberg's default since 1.4).
  * The run_id partition column maps to a hidden partition transform;
  * `hasPartition` becomes a lookup in the `<table>.partitions` metadata
  * table and `readPartition` a filtered `spark.table(table)`. A snapshot
  * summary maps to the partition summaries an Iceberg manifest carries
  * per partition field (value bounds, null counts), computed by the
  * writer at commit time; here the summarized field is the caller's
  * bucket and the summary a per-bucket set fingerprint.
  */
object ParquetCatalog {
  private val SnapDir = "_graft_snapshots"

  /** The Parquet codec of every data file the catalog writes. */
  private val Codec = "zstd"

  /** The one writer of catalog data files: an append in `Codec`. */
  private[lineage] def writer(df: DataFrame): DataFrameWriter[Row] =
    df.write.mode(SaveMode.Append).option("compression", Codec)

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** The manifest dir and Spark's side files (`_SUCCESS`, `.crc`,
    * `_temporary`) start with `_` or `.`; Spark's reader skips them.
    */
  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** Data files under the table root, as table-relative paths. Skips
    * every path with a hidden segment.
    */
  private def listDataFiles(spark: SparkSession, table: String): Set[String] = {
    val fs = fsFor(spark, new Path(table))
    val root = fs.makeQualified(new Path(table))
    if (!fs.exists(root)) return Set.empty
    val out = scala.collection.mutable.Set[String]()
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val status = it.next()
      val rel = root.toUri.relativize(status.getPath.toUri).toString
      if (!rel.split('/').exists(hidden)) out += rel
    }
    out.toSet
  }

  /** Whether `dir` holds a data file by listDataFiles' rule; stops at
    * the first one and never descends into a hidden directory.
    */
  private def hasDataFile(spark: SparkSession, dir: Path): Boolean = {
    val fs = fsFor(spark, dir)
    def walk(d: Path): Boolean = fs.listStatus(d).exists(st =>
      !hidden(st.getPath.getName) && (st.isFile || walk(st.getPath)))
    fs.exists(dir) && walk(dir)
  }

  /** `<table>/<col>=<value>`, escaped the way Spark's partitioned
    * writer names the directory.
    */
  private def partitionDir(table: String, partitionCol: String, value: String): Path =
    new Path(table, ExternalCatalogUtils.getPartitionPathString(partitionCol, value))

  /** A rewrite manifest (compaction / expiry self-containment) starts
    * with this marker line and lists the table's FULL effective file
    * set; append manifests list only the files that commit added.
    */
  private val RewriteMarker = "#rewrite"

  private def manifestBody(spark: SparkSession, table: String, id: Long): String = {
    val fs = fsFor(spark, new Path(table))
    val root = fs.makeQualified(new Path(table))
    val in = fs.open(new Path(root, f"$SnapDir/snap-$id%09d"))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Where snapshot `id`'s summary lives. */
  private def summaryPath(root: Path, id: Long): Path = new Path(root, f"$SnapDir/fp-$id%09d")

  /** (isRewrite, files) of one manifest. */
  private def manifestEntry(spark: SparkSession, table: String,
      id: Long): (Boolean, Seq[String]) = {
    val lines = manifestBody(spark, table, id).split("\n").toSeq.filter(_.nonEmpty)
    if (lines.headOption.contains(RewriteMarker)) (true, lines.tail)
    else (false, lines)
  }

  private def manifestFiles(spark: SparkSession, table: String, id: Long): Seq[String] =
    manifestEntry(spark, table, id)._2

  /** The file set a snapshot reads: the latest rewrite at or before it
    * (full listing) plus every append delta after that rewrite.
    */
  private def effectiveFiles(spark: SparkSession, table: String, id: Long,
      ids: Seq[Long]): Seq[String] = {
    val entries = ids.filter(_ <= id)
      .map(i => i -> manifestEntry(spark, table, i))
    val lastRewrite = entries.collect { case (i, (true, _)) => i }
      .lastOption.getOrElse(Long.MinValue)
    entries.collect { case (i, (_, fs)) if i >= lastRewrite => fs }.flatten
  }

  /** The "before" set is the union of COMMITTED manifests, not a
    * directory listing: a crash between a parquet append and its
    * manifest write leaves orphan data files, and a listing-based diff
    * would exclude them from every future manifest — permanently
    * desynchronizing readAsOf(latest) from read(). Manifest-based
    * diffing instead attributes orphans to the NEXT successful commit
    * (the Iceberg retry semantics); until that commit, raw read() may
    * see orphan rows that readAsOf excludes, which is exactly the
    * crash-window contract Lineage.readCommitted already enforces at
    * the row level.
    *
    * `summary`, when given, is evaluated after the manifest is written
    * and stored as the snapshot's summary, unless the commit adopted
    * orphans: the summary covers only the rows `write` added.
    */
  private def commitSnapshot(spark: SparkSession, table: String,
      rewrite: Boolean = false, summary: Option[() => Array[Byte]] = None)(
      write: => Unit): Unit = {
    val ids = snapshots(spark, table)
    val before = ids.flatMap(id => manifestFiles(spark, table, id)).toSet
    val orphans =
      if (summary.isDefined) listDataFiles(spark, table) -- before else Set.empty[String]
    write
    val added = (listDataFiles(spark, table) -- before).toSeq.sorted
    val fs = fsFor(spark, new Path(table))
    val root = fs.makeQualified(new Path(table))
    val snapId = ids.lastOption.getOrElse(0L) + 1
    fs.mkdirs(new Path(root, SnapDir))
    val body =
      if (rewrite) (RewriteMarker +: added).mkString("\n")
      else added.mkString("\n")
    val os = fs.create(new Path(root, f"$SnapDir/snap-$snapId%09d"), false)
    try os.write(body.getBytes(UTF_8)) finally os.close()
    if (orphans.isEmpty) summary.foreach { bytes =>
      // written under a temporary name and renamed, so a crash leaves
      // either the whole summary or none
      val tmp = new Path(root, f"$SnapDir/fp-$snapId%09d.tmp")
      val out = fs.create(tmp, true)
      try out.write(bytes()) finally out.close()
      fs.rename(tmp, summaryPath(root, snapId))
    }
  }

  def append(df: DataFrame, table: String): Unit =
    commitSnapshot(df.sparkSession, table) {
      writer(df).parquet(table)
    }

  /** [[append]] that also commits a summary of the appended rows:
    * `summary` is an aggregate over `df` whose value is the summary's
    * bytes (`binary`). It is observed in the write's own pass and its
    * value written as the snapshot's `fp-<id>` after the manifest.
    */
  def appendSummarized(df: DataFrame, table: String, summary: Column): Unit = {
    val obs = Observation()
    commitSnapshot(df.sparkSession, table,
        summary = Some(() => obs.get("summary").asInstanceOf[Array[Byte]])) {
      writer(df.observe(obs, summary.as("summary"))).parquet(table)
    }
  }

  /** The summaries of the table's snapshots, oldest first, when they
    * describe every row `read` sees: every committed snapshot is an
    * append with a summary, and the visible data files are exactly the
    * union of the snapshots' manifests. None otherwise, and for a table
    * with no snapshot. Runs no Spark job.
    */
  def summaries(spark: SparkSession, table: String): Option[Seq[Array[Byte]]] = {
    val fs = fsFor(spark, new Path(table))
    val root = fs.makeQualified(new Path(table))
    val ids = snapshots(spark, table)
    val entries = ids.map(id => manifestEntry(spark, table, id))
    val whole = ids.nonEmpty && !entries.exists { case (isRewrite, _) => isRewrite } &&
      ids.forall(id => fs.exists(summaryPath(root, id))) &&
      listDataFiles(spark, table) == entries.flatMap(_._2).toSet
    if (!whole) None
    else Some(ids.map { id =>
      val in = fs.open(summaryPath(root, id))
      try in.readAllBytes() finally in.close()
    })
  }

  def appendPartitioned(df: DataFrame, table: String, partitionCol: String): Unit =
    commitSnapshot(df.sparkSession, table) {
      writer(df).partitionBy(partitionCol).parquet(table)
    }

  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(table)

  /** `read` with a schema the caller already knows: no inference pass,
    * and table columns outside `schema` are not read.
    */
  def read(spark: SparkSession, table: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(table)

  /** The data files under `dir`, by listDataFiles' rule, read as one
    * frame; None when there are none. Reading the files rather than the
    * directory lets `dir` itself be hidden (MorDeletes' `_graft_deletes`)
    * without Spark ignoring the path.
    */
  private[lineage] def readDataFiles(spark: SparkSession, dir: String): Option[DataFrame] = {
    val root = fsFor(spark, new Path(dir)).makeQualified(new Path(dir))
    val files = listDataFiles(spark, dir).toSeq.sorted
    if (files.isEmpty) None
    else Some(spark.read.parquet(files.map(f => new Path(root, f).toString): _*))
  }

  /** Whether the table holds any data file; runs no Spark job. */
  def exists(spark: SparkSession, table: String): Boolean =
    hasDataFile(spark, new Path(table))

  /** Whether partition `partitionCol = value` holds any data file;
    * runs no Spark job.
    */
  def hasPartition(spark: SparkSession, table: String, partitionCol: String,
      value: String): Boolean =
    hasDataFile(spark, partitionDir(table, partitionCol, value))

  /** The rows of partition `partitionCol = value` alone, read with the
    * known data `schema`, plus `partitionCol` as a string column; empty
    * when the partition holds no data. Reads the one directory with
    * `basePath` at the table root, so Spark fills in `partitionCol` from
    * the path and every column has the nullable type a whole-table
    * `read` would give it.
    */
  def readPartition(spark: SparkSession, table: String, partitionCol: String,
      value: String, schema: StructType): DataFrame = {
    val dir = partitionDir(table, partitionCol, value)
    val full = StructType(schema.fields.map(_.copy(nullable = true)) :+
      StructField(partitionCol, StringType))
    if (hasDataFile(spark, dir))
      spark.read.schema(full).option("basePath", table).parquet(dir.toString)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), full)
  }

  /** Committed snapshot ids, ascending — one per successful append. */
  def snapshots(spark: SparkSession, table: String): Seq[Long] = {
    val fs = fsFor(spark, new Path(table))
    val dir = fs.makeQualified(new Path(table, SnapDir))
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("snap-") => n.stripPrefix("snap-").toLong }
      .sorted
  }

  /** Table contents as of `snapshotId` (inclusive) — Iceberg's
    * `VERSION AS OF` / `option("snapshot-id", ...)` time travel.
    * Fails on an id that was never committed.
    */
  def readAsOf(spark: SparkSession, table: String, snapshotId: Long): DataFrame = {
    val ids = snapshots(spark, table)
    require(ids.contains(snapshotId),
      s"unknown snapshot $snapshotId for $table (committed: ${ids.mkString(", ")})")
    val fs = fsFor(spark, new Path(table))
    val root = fs.makeQualified(new Path(table))
    val files = effectiveFiles(spark, table, snapshotId, ids)
    if (files.isEmpty) read(spark, table).limit(0)
    else
      spark.read
        .option("basePath", root.toString)
        .parquet(files.map(f => new Path(root, f).toString): _*)
  }

  /** The latest committed view. After a [[compact]] this is the ONLY
    * correct current read — raw `read` lists the directory and would
    * double-count rows that exist in both pre- and post-compaction
    * files until [[expireSnapshots]] reclaims the old ones.
    */
  def readCurrent(spark: SparkSession, table: String): DataFrame =
    snapshots(spark, table).lastOption match {
      case Some(id) => readAsOf(spark, table, id)
      case None => read(spark, table)
    }

  /** Copy-on-write overwrite: commit `df` as the table's new current
    * view (a REWRITE snapshot referencing only the new files) — the
    * commit a catalog executes under MERGE INTO. `df` may read the
    * table's own current files (the merge case): the append-mode write
    * adds new files while the pinned readAsOf file list keeps reading
    * the old ones, and time travel to pre-merge snapshots keeps
    * working until [[expireSnapshots]].
    */
  def overwrite(df: DataFrame, table: String): Unit =
    commitSnapshot(df.sparkSession, table, rewrite = true) {
      writer(df).parquet(table)
    }

  /** Small-file compaction (Iceberg's `rewrite_data_files`): rewrite
    * the current view into `targetFiles` files and commit a REWRITE
    * snapshot referencing only them. Old files stay on disk so time
    * travel to pre-compaction snapshots keeps working; they become
    * unreferenced garbage when [[expireSnapshots]] passes the rewrite.
    * The operational fix for the 100 TB small-file problem: a
    * streaming/resumable ingest commits thousands of KB-sized files
    * whose per-file open/footer costs dominate the next scan.
    */
  def compact(spark: SparkSession, table: String, targetFiles: Int,
      partitionCol: Option[String] = None): Unit = {
    require(targetFiles >= 1, s"targetFiles must be positive: $targetFiles")
    val ids = snapshots(spark, table)
    require(ids.nonEmpty, s"no committed snapshots to compact in $table")
    val current = readAsOf(spark, table, ids.last)
    commitSnapshot(spark, table, rewrite = true) {
      val w = writer(current.repartition(targetFiles))
      partitionCol match {
        case Some(c) => w.partitionBy(c).parquet(table)
        case None => w.parquet(table)
      }
    }
  }

  /** Retention (Iceberg's `expire_snapshots`): keep the newest
    * `keepLast` snapshots, self-contain the oldest kept one (its
    * manifest becomes a rewrite listing its full effective file set,
    * so it no longer depends on expired manifests), delete expired
    * manifests and every data file no kept snapshot references.
    * readAsOf on an expired id fails fast afterwards.
    */
  def expireSnapshots(spark: SparkSession, table: String, keepLast: Int): Unit = {
    require(keepLast >= 1, s"keepLast must be positive: $keepLast")
    val ids = snapshots(spark, table)
    val expired = ids.dropRight(keepLast)
    if (expired.isEmpty) return
    val kept = ids.takeRight(keepLast)
    val fs = fsFor(spark, new Path(table))
    val root = fs.makeQualified(new Path(table))
    // compute every kept view's file set BEFORE touching manifests
    val keptSets = kept.map(id => id -> effectiveFiles(spark, table, id, ids))
    val live = keptSets.flatMap(_._2).toSet
    // self-contain the oldest kept snapshot
    val (oldestKept, oldestFiles) = keptSets.head
    val os = fs.create(new Path(root, f"$SnapDir/snap-$oldestKept%09d"), true)
    try os.write((RewriteMarker +: oldestFiles.sorted).mkString("\n").getBytes(UTF_8))
    finally os.close()
    // drop expired manifests and their summaries, then unreferenced
    // data files
    expired.foreach { id =>
      fs.delete(new Path(root, f"$SnapDir/snap-$id%09d"), false)
      fs.delete(summaryPath(root, id), false)
    }
    (listDataFiles(spark, table) -- live).foreach(rel =>
      fs.delete(new Path(root, rel), false))
  }

  // ---- write-audit-publish (Iceberg's WAP / branch commit) ----------
  //
  // stageAppend writes the data files plus a STAGED manifest
  // (stage-<n>) that snapshots() and every reader ignore — the write
  // is invisible until audited. publishStaged moves the manifest into
  // the snapshot chain (one atomic rename-equivalent commit);
  // abortStaged deletes the staged manifest AND its data files, as if
  // the write never happened. The audit step reads readStaged —
  // current view + the staged delta — and decides.

  private def stagedIds(spark: SparkSession, table: String): Seq[Long] = {
    val fs = fsFor(spark, new Path(table))
    val dir = fs.makeQualified(new Path(table, SnapDir))
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("stage-") => n.stripPrefix("stage-").toLong }
      .sorted
  }

  private def stagedFiles(spark: SparkSession, table: String, stageId: Long): Seq[String] = {
    val fs = fsFor(spark, new Path(table))
    val root = fs.makeQualified(new Path(table))
    val in = fs.open(new Path(root, f"$SnapDir/stage-$stageId%09d"))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      .split("\n").toSeq.filter(_.nonEmpty)
    finally in.close()
  }

  /** Stage `df` invisibly; returns the stage id for audit/publish. */
  def stageAppend(df: DataFrame, table: String): Long = {
    val spark = df.sparkSession
    val before = snapshots(spark, table)
      .flatMap(id => manifestFiles(spark, table, id)).toSet ++
      stagedIds(spark, table).flatMap(id => stagedFiles(spark, table, id))
    writer(df).parquet(table)
    val added = (listDataFiles(spark, table) -- before).toSeq.sorted
    val fs = fsFor(spark, new Path(table))
    val root = fs.makeQualified(new Path(table))
    val stageId = (0L +: stagedIds(spark, table)).max + 1
    fs.mkdirs(new Path(root, SnapDir))
    val os = fs.create(new Path(root, f"$SnapDir/stage-$stageId%09d"), false)
    try os.write(added.mkString("\n").getBytes(UTF_8)) finally os.close()
    stageId
  }

  /** The audit view: current committed rows + the staged delta. */
  def readStaged(spark: SparkSession, table: String, stageId: Long): DataFrame = {
    val fs = fsFor(spark, new Path(table))
    val root = fs.makeQualified(new Path(table))
    val staged = spark.read.option("basePath", root.toString)
      .parquet(stagedFiles(spark, table, stageId)
        .map(f => new Path(root, f).toString): _*)
    snapshots(spark, table).lastOption match {
      case Some(id) => readAsOf(spark, table, id).unionByName(staged)
      case None => staged
    }
  }

  /** Commit the staged write as the next snapshot. */
  def publishStaged(spark: SparkSession, table: String, stageId: Long): Unit = {
    val files = stagedFiles(spark, table, stageId)
    val fs = fsFor(spark, new Path(table))
    val root = fs.makeQualified(new Path(table))
    val snapId = snapshots(spark, table).lastOption.getOrElse(0L) + 1
    val os = fs.create(new Path(root, f"$SnapDir/snap-$snapId%09d"), false)
    try os.write(files.mkString("\n").getBytes(UTF_8)) finally os.close()
    fs.delete(new Path(root, f"$SnapDir/stage-$stageId%09d"), false)
    ()
  }

  /** Discard the staged write: its manifest and its data files. */
  def abortStaged(spark: SparkSession, table: String, stageId: Long): Unit = {
    val fs = fsFor(spark, new Path(table))
    val root = fs.makeQualified(new Path(table))
    stagedFiles(spark, table, stageId).foreach(rel =>
      fs.delete(new Path(root, rel), false))
    fs.delete(new Path(root, f"$SnapDir/stage-$stageId%09d"), false)
    ()
  }
}
