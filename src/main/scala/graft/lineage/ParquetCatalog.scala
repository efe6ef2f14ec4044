package graft.lineage

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
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
  * caller reads the rows instead.
  *
  * Commit protocol: a metadata file (`snap-<id>`, `fp-<id>`,
  * `stage-<n>`) is never written in place. Its bytes go in full to
  * `.tmp-<name>`, which no lister reads, and one rename names it; a
  * rename onto an existing name fails (the single-writer guard). An
  * append writes its data files, then renames in its manifest, then
  * its summary. A crash before the manifest's rename leaves orphan data
  * files, which the next commit adopts; one before the summary's leaves
  * a snapshot with no summary, so [[summaries]] returns None. Either may
  * also leave a stray `.tmp-` file, which the next write of that name
  * replaces. [[publishStaged]] is one rename. [[expireSnapshots]]
  * replaces the oldest kept manifest by an overwriting rename: atomic
  * on HDFS, while Hadoop's local filesystem deletes the target first,
  * so a crash between the two leaves that snapshot with no manifest.
  *
  * Codec: every data file the catalog writes is zstd-compressed
  * (`Codec`, Parquet's default zstd level). It is part of the table
  * format, not a setting: no parameter, session conf or environment
  * variable changes it. Readers need none either, because Parquet
  * records the codec per column chunk, so a table holding files of an
  * earlier codec (snappy, Spark's default) keeps reading, resuming and
  * compacting; a compaction rewrites them as zstd.
  *
  * Listing: one `listStatus` per directory, skipping hidden names. Not
  * `listFiles`/`listLocatedStatus`: their `LocatedFileStatus` copies each
  * entry's permission (a forked `ls -ld` per file on a local filesystem
  * without `libhadoop`) and looks up block locations on HDFS. On S3A the
  * walk costs one LIST per `run_id` directory where `listFiles` lists
  * flat. Tables carry no `_SUCCESS`: the manifest is the commit record.
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
  * bucket and the summary a per-bucket set fingerprint. The commit
  * protocol maps to Iceberg's atomic swap of the table's metadata file.
  */
object ParquetCatalog {
  private val SnapDir = "_graft_snapshots"

  /** The kinds of metadata file, each named `<kind>-<id>` in `SnapDir`. */
  private val Snap = "snap"
  private val Fp = "fp"
  private val Stage = "stage"
  private val MetaName = """(snap|fp|stage)-(\d+)""".r

  /** The Parquet codec of every data file the catalog writes. */
  private val Codec = "zstd"

  /** The one writer of catalog data files: an append in `Codec`. */
  private[lineage] def writer(df: DataFrame): DataFrameWriter[Row] =
    df.write.mode(SaveMode.Append).option("compression", Codec)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")

  /** A table's filesystem and qualified root. */
  private final case class Table(fs: FileSystem, root: Path) {
    def path(rel: String): Path = new Path(root, rel)

    /** Metadata file `<kind>-<id>`. */
    def meta(kind: String, id: Long): Path = path(f"$SnapDir/$kind-$id%09d")
  }

  private def tableAt(spark: SparkSession, table: String): Table = {
    val p = new Path(table)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    Table(fs, fs.makeQualified(p))
  }

  /** The manifest dir and Spark's side files (`_SUCCESS`, `.crc`,
    * `_temporary`) start with `_` or `.`; Spark's reader skips them.
    */
  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** The data files under `dir`, lazily: one `listStatus` per
    * directory, never descending into a hidden name.
    */
  private def dataFiles(t: Table, dir: Path): Iterator[Path] = {
    def walk(d: Path): Iterator[Path] = t.fs.listStatus(d).iterator
      .filterNot(st => hidden(st.getPath.getName))
      .flatMap(st => if (st.isFile) Iterator(st.getPath) else walk(st.getPath))
    if (t.fs.exists(dir)) walk(dir) else Iterator.empty
  }

  /** Data files under the table root, as table-relative paths. */
  private def listDataFiles(t: Table): Set[String] =
    dataFiles(t, t.root).map(p => t.root.toUri.relativize(p.toUri).toString).toSet

  /** `<table>/<col>=<value>`, escaped the way Spark's partitioned
    * writer names the directory.
    */
  private def partitionDir(table: String, partitionCol: String, value: String): Path =
    new Path(table, ExternalCatalogUtils.getPartitionPathString(partitionCol, value))

  /** The ids of the metadata files, ascending, by kind. Temporary files
    * and checksum sidecars match no kind.
    */
  private def metaIds(t: Table): Map[String, Seq[Long]] = {
    val dir = t.path(SnapDir)
    val names = if (t.fs.exists(dir)) t.fs.listStatus(dir).toSeq.map(_.getPath.getName) else Nil
    names.collect { case MetaName(kind, id) => kind -> id.toLong }
      .groupMap(_._1)(_._2).view.mapValues(_.sorted).toMap.withDefaultValue(Nil)
  }

  /** The one reader of metadata files. */
  private def readMeta(t: Table, kind: String, id: Long): Array[Byte] = {
    val in = t.fs.open(t.meta(kind, id))
    try in.readAllBytes() finally in.close()
  }

  /** The one writer of metadata files: `bytes` go in full to
    * `.tmp-<kind>-<id>`, then [[rename]] names them `<kind>-<id>`.
    */
  private def writeMeta(t: Table, kind: String, id: Long, bytes: Array[Byte],
      replace: Boolean = false): Unit = {
    val dst = t.meta(kind, id)
    val tmp = new Path(dst.getParent, s".tmp-${dst.getName}")
    val out = t.fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    try rename(t, tmp, dst, replace)
    catch { case e: java.io.IOException => t.fs.delete(tmp, false); throw e }
  }

  /** Renames metadata file `from` to `to` in one step, checksum sidecar
    * included. Throws when `to` exists, unless `replace`.
    * `FileSystem.rename` never overwrites; only `FileContext` can, and on
    * the local filesystem it forks a `readlink` per status it checks, so
    * only a replace pays for it.
    */
  private def rename(t: Table, from: Path, to: Path, replace: Boolean): Unit =
    if (replace)
      FileContext.getFileContext(t.root.toUri, t.fs.getConf)
        .rename(from, to, Options.Rename.OVERWRITE)
    else if (!t.fs.rename(from, to))
      throw new java.io.IOException(s"cannot rename $from to $to: it exists, or $from does not")

  /** A rewrite manifest (compaction / expiry self-containment) starts
    * with this marker line and lists the table's FULL effective file
    * set; append manifests list only the files that commit added.
    */
  private val RewriteMarker = "#rewrite"

  private def manifest(rewrite: Boolean, files: Seq[String]): Array[Byte] =
    ((if (rewrite) Seq(RewriteMarker) else Nil) ++ files).mkString("\n").getBytes(UTF_8)

  /** (isRewrite, files) of manifest `<kind>-<id>`. */
  private def manifestEntry(t: Table, kind: String, id: Long): (Boolean, Seq[String]) = {
    val lines = new String(readMeta(t, kind, id), UTF_8).split("\n").toSeq.filter(_.nonEmpty)
    if (lines.headOption.contains(RewriteMarker)) (true, lines.tail)
    else (false, lines)
  }

  /** The file set a snapshot reads: the latest rewrite at or before it
    * (full listing) plus every append delta after that rewrite.
    */
  private def effectiveFiles(t: Table, id: Long, ids: Seq[Long]): Seq[String] = {
    val entries = ids.filter(_ <= id).map(i => i -> manifestEntry(t, Snap, i))
    val lastRewrite = entries.collect { case (i, (true, _)) => i }
      .lastOption.getOrElse(Long.MinValue)
    entries.collect { case (i, (_, fs)) if i >= lastRewrite => fs }.flatten
  }

  /** Runs `write` and commits the data files it added as the next
    * manifest of `kind` (`snap`, or `stage` for [[stageAppend]]);
    * returns its id.
    *
    * The "before" set is the union of the manifests, not a directory
    * listing: a crash between a parquet append and its manifest write
    * leaves orphan data files, and a listing-based diff would exclude
    * them from every future manifest — permanently desynchronizing
    * readAsOf(latest) from read(). Manifest-based diffing instead
    * attributes orphans to the NEXT successful commit (the Iceberg retry
    * semantics); until that commit, raw read() may see orphan rows that
    * readAsOf excludes, which is exactly the crash-window contract
    * Lineage.readCommitted already enforces at the row level. Staged
    * files are listed, so no commit adopts them.
    *
    * `summary`, when given, is evaluated after the manifest is written
    * and stored as the snapshot's summary, unless the commit adopted
    * orphans: the summary covers only the rows `write` added.
    */
  private def commit(spark: SparkSession, table: String, kind: String = Snap,
      rewrite: Boolean = false, summary: Option[() => Array[Byte]] = None)(
      write: => Unit): Long = {
    val t = tableAt(spark, table)
    val ids = metaIds(t)
    val before =
      Seq(Snap, Stage).flatMap(k => ids(k).flatMap(id => manifestEntry(t, k, id)._2)).toSet
    val adopts = summary.isDefined && (listDataFiles(t) -- before).nonEmpty
    write
    val id = ids(kind).lastOption.getOrElse(0L) + 1
    writeMeta(t, kind, id, manifest(rewrite, (listDataFiles(t) -- before).toSeq.sorted))
    if (!adopts) summary.foreach(bytes => writeMeta(t, Fp, id, bytes()))
    id
  }

  def append(df: DataFrame, table: String): Unit =
    commit(df.sparkSession, table) {
      writer(df).parquet(table)
    }

  /** [[append]] that also commits a summary of the appended rows:
    * `summary` is an aggregate over `df` whose value is the summary's
    * bytes (`binary`). It is observed in the write's own pass and its
    * value written as the snapshot's `fp-<id>` after the manifest.
    */
  def appendSummarized(df: DataFrame, table: String, summary: Column): Unit = {
    val obs = Observation()
    commit(df.sparkSession, table,
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
    val t = tableAt(spark, table)
    val ids = metaIds(t)
    val snaps = ids(Snap)
    val entries = snaps.map(id => manifestEntry(t, Snap, id))
    val whole = snaps.nonEmpty && !entries.exists { case (isRewrite, _) => isRewrite } &&
      snaps.forall(ids(Fp).toSet) && listDataFiles(t) == entries.flatMap(_._2).toSet
    if (whole) Some(snaps.map(id => readMeta(t, Fp, id))) else None
  }

  def appendPartitioned(df: DataFrame, table: String, partitionCol: String): Unit =
    commit(df.sparkSession, table) {
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
    val t = tableAt(spark, dir)
    val files = listDataFiles(t).toSeq.sorted
    if (files.isEmpty) None
    else Some(spark.read.parquet(files.map(f => t.path(f).toString): _*))
  }

  /** Whether the table holds any data file; runs no Spark job. */
  def exists(spark: SparkSession, table: String): Boolean = {
    val t = tableAt(spark, table)
    dataFiles(t, t.root).hasNext
  }

  /** Whether partition `partitionCol = value` holds any data file;
    * runs no Spark job.
    */
  def hasPartition(spark: SparkSession, table: String, partitionCol: String,
      value: String): Boolean =
    dataFiles(tableAt(spark, table), partitionDir(table, partitionCol, value)).hasNext

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
    if (dataFiles(tableAt(spark, table), dir).hasNext)
      spark.read.schema(full).option("basePath", table).parquet(dir.toString)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), full)
  }

  /** Committed snapshot ids, ascending — one per successful append. */
  def snapshots(spark: SparkSession, table: String): Seq[Long] =
    metaIds(tableAt(spark, table))(Snap)

  /** Table contents as of `snapshotId` (inclusive) — Iceberg's
    * `VERSION AS OF` / `option("snapshot-id", ...)` time travel.
    * Fails on an id that was never committed.
    */
  def readAsOf(spark: SparkSession, table: String, snapshotId: Long): DataFrame = {
    val t = tableAt(spark, table)
    val ids = metaIds(t)(Snap)
    require(ids.contains(snapshotId),
      s"unknown snapshot $snapshotId for $table (committed: ${ids.mkString(", ")})")
    val files = effectiveFiles(t, snapshotId, ids)
    if (files.isEmpty) read(spark, table).limit(0)
    else
      spark.read
        .option("basePath", t.root.toString)
        .parquet(files.map(f => t.path(f).toString): _*)
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
    commit(df.sparkSession, table, rewrite = true) {
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
    commit(spark, table, rewrite = true) {
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
    * manifests and every data file neither a kept snapshot nor a staged
    * write references. readAsOf on an expired id fails fast afterwards.
    */
  def expireSnapshots(spark: SparkSession, table: String, keepLast: Int): Unit = {
    require(keepLast >= 1, s"keepLast must be positive: $keepLast")
    val t = tableAt(spark, table)
    val ids = metaIds(t)
    val (expired, kept) = ids(Snap).splitAt(ids(Snap).length - keepLast)
    if (expired.isEmpty) return
    // compute every kept view's file set BEFORE touching manifests
    val keptSets = kept.map(id => id -> effectiveFiles(t, id, ids(Snap)))
    val live = keptSets.flatMap(_._2).toSet ++
      ids(Stage).flatMap(id => manifestEntry(t, Stage, id)._2)
    // self-contain the oldest kept snapshot
    val (oldestKept, oldestFiles) = keptSets.head
    writeMeta(t, Snap, oldestKept, manifest(rewrite = true, oldestFiles.sorted), replace = true)
    // drop expired manifests and their summaries, then unreferenced
    // data files
    for (id <- expired; kind <- Seq(Snap, Fp)) t.fs.delete(t.meta(kind, id), false)
    (listDataFiles(t) -- live).foreach(rel => t.fs.delete(t.path(rel), false))
  }

  // ---- write-audit-publish (Iceberg's WAP / branch commit) ----------
  //
  // stageAppend writes the data files plus a STAGED manifest
  // (stage-<n>) that snapshots() and every reader ignore — the write
  // is invisible until audited. publishStaged renames stage-<n> to the
  // next snap-<id>: the staged listing, byte for byte, becomes the
  // snapshot in one step. abortStaged deletes the staged data files,
  // then the staged manifest, as if the write never happened. The audit
  // step reads readStaged — current view + the staged delta — and
  // decides.

  /** Stage `df` invisibly; returns the stage id for audit/publish. */
  def stageAppend(df: DataFrame, table: String): Long =
    commit(df.sparkSession, table, kind = Stage) {
      writer(df).parquet(table)
    }

  /** The audit view: current committed rows + the staged delta. */
  def readStaged(spark: SparkSession, table: String, stageId: Long): DataFrame = {
    val t = tableAt(spark, table)
    val staged = spark.read.option("basePath", t.root.toString)
      .parquet(manifestEntry(t, Stage, stageId)._2.map(f => t.path(f).toString): _*)
    metaIds(t)(Snap).lastOption match {
      case Some(id) => readAsOf(spark, table, id).unionByName(staged)
      case None => staged
    }
  }

  /** Commit the staged write as the next snapshot. */
  def publishStaged(spark: SparkSession, table: String, stageId: Long): Unit = {
    val t = tableAt(spark, table)
    val snapId = metaIds(t)(Snap).lastOption.getOrElse(0L) + 1
    rename(t, t.meta(Stage, stageId), t.meta(Snap, snapId), replace = false)
  }

  /** Discard the staged write: its data files, then its manifest. */
  def abortStaged(spark: SparkSession, table: String, stageId: Long): Unit = {
    val t = tableAt(spark, table)
    manifestEntry(t, Stage, stageId)._2.foreach(rel => t.fs.delete(t.path(rel), false))
    t.fs.delete(t.meta(Stage, stageId), false)
    ()
  }
}
