package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, max}

/** The one place that decides how a plan reading table T is committed
  * back into T — the parquet-catalog stand-in for Delta's MERGE /
  * OVERWRITE (SURVEY §7.4). Every keyed merge, view fold, compaction,
  * retention prune, SCD2 merge, zone-map refresh and store retrain
  * rewrites its table through [[overwrite]]; the append-only store
  * folds cut their plan through [[barrier]].
  *
  * [[overwrite]] = [[stage]] the frame (one evaluation of the plan,
  * written under `<warehouse>/<root>/<table>/<name>` and read back, so
  * the commit no longer reads T), `ALTER TABLE … ADD COLUMNS` for
  * columns the frame adds, then `INSERT OVERWRITE` into the EXISTING
  * table. The table is never dropped, so its catalog entry, partition
  * spec, bucket spec and `graft.*` properties (the dedup stores' epoch
  * fence among them) survive every rewrite by construction.
  *
  * Crash posture, the same for every caller:
  *  - a crash before the INSERT leaves T untouched;
  *  - INSERT OVERWRITE deletes T's files before it writes (it does NOT
  *    keep the old rows until commit), so a crash DURING it leaves T
  *    present with 0 rows or a partial file set. The staged copy is the
  *    only complete copy then, so stages stay on disk after a
  *    successful rewrite (the next rewrite of the same table replaces
  *    them; [[Maintenance.vacuumStaging]], scheduled after the rewrite
  *    tasks, sweeps the rest). Because T never vanishes, a crashed
  *    rewrite can never send a later fold down its table-creation
  *    branch;
  *  - [[barrier]] materializes the append's survivors into
  *    `localCheckpoint` blocks, which cannot be recomputed: in cluster
  *    mode an executor lost mid-append fails the fold outright instead
  *    of recomputing the lost partitions. Nothing half-commits — the
  *    writer's commit protocol drops the partial append — and the
  *    retry re-runs the whole fold behind the stores' epoch fence and
  *    identity guard.
  */
object Rewrite {

  /** `<warehouse>/<root>/<table>`: one table's directory under a
    * staging root (`__upsert_stage`, `__retrain_stage`, …). Every root
    * is a `__*_stage` directory, which is what
    * [[Maintenance.vacuumStaging]] sweeps.
    */
  def dir(spark: SparkSession, root: String, table: String): String =
    s"${spark.conf.get("spark.sql.warehouse.dir")}/$root/${table.replace('.', '_')}"

  /** Writes `frame` once to `<dir>/<name>` and returns the read-back
    * copy: later consumers reuse the staged rows instead of re-running
    * the plan, and the copy no longer reads any catalog table.
    */
  def stage(spark: SparkSession, root: String, table: String, name: String,
      frame: DataFrame): DataFrame = {
    val path = s"${dir(spark, root, table)}/$name"
    frame.write.mode(SaveMode.Overwrite).parquet(path)
    spark.read.parquet(path)
  }

  /** Replaces every row of the existing `table` with `frame` (see the
    * object doc). Columns match by name: a frame column the table lacks
    * is added first, and a shared column whose type differs is refused
    * (the rewrite never changes a type).
    *
    * @param name      the staged copy's name under the table's stage dir
    * @param stagedAs  the table whose stage dir holds the copy, when it
    *                  is not `table` itself (a retrain stages its model
    *                  next to its store)
    * @param maxRecordsPerFile per-file row bound for the rewrite (0 =
    *                  none); passed as an INSERT option because
    *                  `DataFrameWriter.insertInto` drops writer options
    * @param layout    placement applied to the staged read-back before
    *                  the insert (the read may pack several staged
    *                  files into one task)
    */
  def overwrite(spark: SparkSession, root: String, table: String,
      frame: DataFrame, name: String = "merged",
      stagedAs: Option[String] = None, maxRecordsPerFile: Long = 0L,
      layout: DataFrame => DataFrame = identity): Unit = {
    val staged = layout(
      stage(spark, root, stagedAs.getOrElse(table), name, frame))
    addColumns(spark, table, staged)
    val aligned = staged.select(
      spark.table(table).columns.toIndexedSeq.map(c => col(quote(c))): _*)
    // static: the rewrite replaces the whole table even when the session
    // runs dynamic partition overwrite (a merge that deletes a
    // partition's last row must delete the partition)
    val opts = "'partitionOverwriteMode' = 'static'" +
      (if (maxRecordsPerFile > 0) s", 'maxRecordsPerFile' = '$maxRecordsPerFile'"
       else "")
    val view = "graft_rewrite_" + java.util.UUID.randomUUID().toString.replace("-", "")
    aligned.createOrReplaceTempView(view)
    try spark.sql(s"INSERT OVERWRITE TABLE $table WITH ($opts) SELECT * FROM $view")
    finally spark.catalog.dropTempView(view): Unit
    spark.catalog.refreshTable(table)
  }

  private def addColumns(spark: SparkSession, table: String,
      frame: DataFrame): Unit = {
    val resolver = spark.sessionState.conf.resolver
    val have = spark.table(table).schema.fields
    val (shared, fresh) = frame.schema.fields.partition(f =>
      have.exists(h => resolver(h.name, f.name)))
    val conflicts = shared.flatMap { f =>
      have.find(h => resolver(h.name, f.name))
        .filter(_.dataType.catalogString != f.dataType.catalogString)
        .map(h => s"${f.name}: ${h.dataType.simpleString} vs " +
          f.dataType.simpleString)
    }
    require(conflicts.isEmpty,
      s"rewrite of '$table': type conflict on ${conflicts.mkString("; ")} " +
        "— a rewrite only adds columns, never changes a type")
    if (fresh.nonEmpty)
      spark.sql(s"ALTER TABLE $table ADD COLUMNS (" + fresh.map(f =>
        s"${quote(f.name)} ${f.dataType.sql}").mkString(", ") + ")")
  }

  private def quote(name: String): String = s"`${name.replace("`", "``")}`"

  /** The append-fold barrier of the three dedup stores: an eager
    * `localCheckpoint` of the survivors, re-packed to read-sized
    * splits. Spark 4.1 accepts an append whose plan reads the target
    * table (bucketed, anti-joined against itself included), so the cut
    * is not needed for correctness any more; what it still buys is
    * file sizing — without the re-pack each fold appends one file per
    * task of the survivor plan. Blocks are tracked and drain with the
    * fold's cache mark. See the object doc for the executor-loss trade.
    */
  def barrier(frame: DataFrame): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.packedForWrite(
      graft.operators.FrameCaches.track(frame.localCheckpoint(true)))
}

/** The replay fence every epoch-stamped fold shares (the additive,
  * extremes, join and quantile views, and the three dedup stores): a
  * batch whose epoch EQUALS the committed one is a crash replay and
  * skips; an OLDER epoch is a late backfill and throws — dropping it
  * would be data loss recorded as success; a newer epoch folds.
  */
object EpochFence {

  /** True when the batch should fold, false for a same-epoch replay.
    * `committed` is read only when the batch carries an epoch; `reason`
    * completes the refusal message with why this fold cannot take a
    * backfill.
    */
  def admit(fold: String, table: String, epochId: Option[Long],
      committed: => Option[Long], reason: String): Boolean =
    epochId.forall { id =>
      committed.forall { c =>
        if (c > id) throw new IllegalStateException(
          s"$fold for '$table': batch epoch $id is OLDER than the " +
            s"committed epoch $c — $reason")
        c != id
      }
    }

  /** The view folds' committed epoch: `max(_last_epoch)`, None when
    * the table has no marker column or no stamped row.
    */
  def lastEpoch(t: DataFrame): Option[Long] =
    if (!t.columns.contains("_last_epoch")) None
    else {
      val m = t.agg(max(col("_last_epoch"))).head()
      if (m.isNullAt(0)) None else Some(m.getLong(0))
    }
}
