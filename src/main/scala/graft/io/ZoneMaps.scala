package graft.io

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Zone-map data skipping for plain parquet catalog tables — the
  * no-Delta analog of file-level statistics pruning (Delta's
  * `stats`/data-skipping, Iceberg's manifests; the reference has no
  * counterpart — its scans always list every file). Spark's own
  * parquet reader prunes ROW GROUPS from footer min/max once a task
  * already has the file, but the DRIVER still lists and schedules
  * every file of a 100 TB table; a zone-map manifest lets the scan
  * plan skip whole files when the table is range-clustered on the
  * predicate column (the layout [[Maintenance.compact]]'s
  * `repartitionByRange`-style rewrites and Z-ORDER
  * ([[graft.functions.ZOrder]]) exist to produce).
  *
  * The manifest is ONE aggregate scan per build (real table formats
  * amortize this into the commit path — documented tradeoff), then
  * pruning is metadata-only: a filter over one row per FILE, collected
  * on the driver (bounded by file count, the same list the scan
  * planner itself materializes).
  */
object ZoneMaps {

  /** Partition columns live in DIRECTORY NAMES, not in the leaf
    * parquet files — [[prunedScan]]'s direct file read would fill them
    * with NULL on every row (wrong data, silently) or return zero rows
    * when probing on the partition column itself. Refuse loudly, the
    * same contract as [[Maintenance.compact]]'s clusterBy; partitioned
    * tables already have DIRECTORY-level pruning, which is what their
    * layout is for.
    */
  private def requireUnpartitioned(spark: SparkSession, table: String,
      what: String): Unit = {
    val partCols = spark.catalog.listColumns(table).collect()
      .filter(_.isPartition).map(_.name).toSeq
    require(partCols.isEmpty,
      s"$what is only for unpartitioned tables: '$table' is " +
        s"partitioned by [${partCols.mkString(", ")}] — partition values " +
        "live in directory names, and a direct file read would return " +
        "them as NULL; use partition pruning instead")
  }

  /** The per-file zone aggregation — ONE definition shared by
    * [[buildManifest]] and [[refreshManifest]] so the two can never
    * drift apart on the manifest schema (the refresh's unionByName and
    * its pinned refresh-≡-rebuild invariant both depend on it).
    */
  private def zoneAgg(df: DataFrame, cols: Seq[String]): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
          max(col(c)).as(s"max_$c"))): _*)

  /** One manifest row per file in `files`, zones aggregated from
    * `data` in ONE scan. A ZERO-ROW data file (an empty DataFrame
    * write leaves a schema-only part file) never surfaces through the
    * row aggregation — but it IS in `inputFiles`, so a manifest
    * without it could never pass [[prunedScan]]'s file-set staleness
    * check: every pruned read would refuse STALE forever while the
    * maintenance task kept reporting success. The left join from the
    * FILE LIST covers such files with (n_rows = 0, all-null zones) —
    * null zones prune away under any range predicate, which is exact
    * for a file with no rows.
    */
  private def manifestFor(spark: SparkSession, data: DataFrame,
      files: Seq[String], cols: Seq[String]): DataFrame = {
    import spark.implicits._
    // the left join keys input_file_name() strings against the
    // inputFiles listing — two different APIs rendering the same
    // paths. If their formats ever diverge (URL-encoding of spaces /
    // special characters), every manifest row would silently become
    // (n_rows = 0, null zones) and pruned reads would return EMPTY
    // results reported as success. Invariant (advice-caught): every
    // aggregated file key must match a listed file — checked on the
    // persisted zones frame (file-count-bounded), failing loudly
    // instead of pruning everything away
    val zones = graft.operators.FrameCaches.track(
      zoneAgg(data, cols).persist())
    val fileList = files.sorted.toDF("file")
    val unmatched = zones.join(fileList, Seq("file"), "left_anti").count()
    require(unmatched == 0L,
      s"zone-map build: $unmatched aggregated file key(s) from " +
        "input_file_name() did not match the table's inputFiles listing " +
        "— the two path-string formats have diverged (URL-encoding?); " +
        "refusing to write a manifest whose every row would read as " +
        "empty zones")
    fileList
      .join(zones, Seq("file"), "left")
      .withColumn("n_rows", coalesce(col("n_rows"), lit(0L)))
  }

  /** Build the manifest: one row per data file with row count and
    * per-column min/max zones. NULL zones (an all-null file, or a
    * zero-row file) prune away under any RANGE predicate — correctly,
    * since no range predicate matches NULL.
    */
  def buildManifest(spark: SparkSession, table: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one zone column")
    requireUnpartitioned(spark, table, "a zone-map manifest")
    manifestFor(spark, spark.table(table),
      spark.table(table).inputFiles.toSeq, cols)
  }

  /** Build and persist the manifest as `<table>__zonemap`.
    * @return (manifest table name, file count). */
  def writeManifest(spark: SparkSession, table: String,
      cols: Seq[String]): (String, Long) = {
    val mt = s"${table}__zonemap"
    // scoped drain: manifestFor persists the zones frame (it feeds the
    // invariant check and the manifest join); the write below is its
    // last consumer
    val cacheMark = graft.operators.FrameCaches.mark(spark)
    try buildManifest(spark, table, cols)
      .write.mode(SaveMode.Overwrite).saveAsTable(mt)
    finally graft.operators.FrameCaches.releaseSince(spark, cacheMark)
    spark.catalog.refreshTable(mt)
    (mt, spark.table(mt).count())
  }

  /** Incremental manifest refresh — the 100 TB answer to
    * [[writeManifest]]'s full-table rebuild: scan ONLY the files that
    * are not yet in the manifest, keep the existing rows of files
    * still present, and drop rows of files that vanished (a compact /
    * overwrite replaced them). A file's zones are a pure function of
    * its own bytes — parquet files are immutable once written — so the
    * refreshed manifest is IDENTICAL to a from-scratch rebuild (pinned
    * in ZoneMapsSpec) while the scan cost rides the APPEND: a daily
    * fold's new files re-aggregate, the standing history never does.
    * This is what real table formats amortize into the commit path;
    * here it is the declared `zone_maps` maintenance task's engine.
    *
    * Falls back to the full build when no manifest exists or its zone
    * columns differ from `cols` (a changed column set invalidates
    * every row). The overwrite stages through parquet first — the
    * kept-rows plan reads the manifest table it replaces.
    *
    * @return (manifest table name, files scanned, manifest rows).
    */
  def refreshManifest(spark: SparkSession, table: String,
      cols: Seq[String]): (String, Long, Long) = {
    require(cols.nonEmpty, "need at least one zone column")
    requireUnpartitioned(spark, table, "a zone-map manifest")
    val mt = s"${table}__zonemap"
    val expect = Seq("file", "n_rows") ++
      cols.flatMap(c => Seq(s"min_$c", s"max_$c"))
    if (!spark.catalog.tableExists(mt) ||
        spark.table(mt).columns.toSeq != expect) {
      val (m, n) = writeManifest(spark, table, cols)
      return (m, n, n)
    }
    val current = spark.table(table).inputFiles.toSet
    val old = spark.table(mt)
    val oldFiles = old.select("file").collect().map(_.getString(0)).toSet
    val newFiles = (current -- oldFiles).toSeq.sorted
    // kept rows join against the CURRENT file list (never isin over a
    // 10^6-literal list; the file frame is one string per file, the
    // same list the scan planner materializes)
    import spark.implicits._
    val kept = old.join(
      broadcast(current.toSeq.toDF("file")), Seq("file"), "left_semi")
    val schema = spark.table(table).schema
    val cacheMark = graft.operators.FrameCaches.mark(spark)
    val fresh =
      if (newFiles.isEmpty) None
      else Some(manifestFor(spark,
        spark.read.schema(schema).parquet(newFiles: _*), newFiles, cols))
    try Rewrite.overwrite(spark, "__zonemap_stage", mt,
      fresh.fold(kept)(kept.unionByName(_)))
    finally graft.operators.FrameCaches.releaseSince(spark, cacheMark)
    (mt, newFiles.size.toLong, spark.table(mt).count())
  }

  /** Scan `table` reading ONLY the files whose `[min_col, max_col]`
    * zone intersects `[lo, hi]`, then re-apply the exact range
    * predicate to the survivors (zones are necessary, not sufficient).
    * Result rows are therefore IDENTICAL to the full scan's filtered
    * rows whatever the layout; the layout only decides how many files
    * are skipped (pinned in ZoneMapsSpec).
    *
    * STALENESS is refused, not risked: the manifest's file set must
    * equal the table's current file set — an append/compact/overwrite
    * since the build would otherwise silently drop the new files from
    * every pruned read.
    *
    * @return (rows, files read, files total).
    */
  def prunedScan(spark: SparkSession, table: String, manifestTable: String,
      colName: String, lo: Any, hi: Any): (DataFrame, Int, Int) = {
    requireUnpartitioned(spark, table, "a zone-map pruned scan")
    val manifest = spark.table(manifestTable)
    require(manifest.columns.contains(s"min_$colName"),
      s"manifest '$manifestTable' has no zones for '$colName'")
    val manifestFiles = manifest.select("file")
      .collect().map(_.getString(0)).toSet
    val tableFiles = spark.table(table).inputFiles.toSet
    require(manifestFiles == tableFiles,
      s"manifest '$manifestTable' is STALE for '$table': " +
        s"${(tableFiles -- manifestFiles).size} new / " +
        s"${(manifestFiles -- tableFiles).size} removed files since the " +
        "build — rebuild the manifest (writeManifest) after any write")
    val overlaps = coalesce(
      !(col(s"max_$colName") < lit(lo) || col(s"min_$colName") > lit(hi)),
      lit(false))
    val keep = manifest.filter(overlaps).select("file")
      .collect().map(_.getString(0))
    val schema = spark.table(table).schema
    val pred = col(colName) >= lit(lo) && col(colName) <= lit(hi)
    val df =
      if (keep.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(keep.toIndexedSeq: _*).filter(pred)
    (df, keep.length, manifestFiles.size)
  }
}
