package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Outcome of one [[Scd2.merge]] run.
  *
  * @param rawRows     rows the source batch delivered (pre-dedup) — the
  *                    "records processed" number the control table
  *                    records, same contract as `Upsert.upsertTable`.
  * @param newVersions version rows this run added (a brand-new key's
  *                    first version, a changed key's new version, or a
  *                    same-date restatement that replaced the current
  *                    version in place).
  * @param closed      previously-current rows that received a
  *                    `valid_to` this run.
  * @param unchanged   batch rows that survived dedup but produced no
  *                    new version (their tracked attributes null-safe
  *                    matched the version in force at their effective
  *                    date) — the no-op mass that makes a replay of the
  *                    latest batch converge without bookkeeping.
  */
final case class Scd2Stats(rawRows: Long, newVersions: Long, closed: Long,
    unchanged: Long)

/** Slowly-changing-dimension TYPE 2 writer — the versioned-history sink
  * the whole-row-replace upsert cannot express (reference merge:
  * /root/reference/src/modules/gold_layer.py:184-213 is SCD type 1 —
  * the old attribute values are destroyed; this operator keeps them as
  * closed interval rows, the dimension shape every warehouse needs for
  * as-of joins and audits).
  *
  * Table schema: `keys ++ tracked ++ (valid_from, valid_to,
  * is_current)`, where `valid_from`/`valid_to` take the effective
  * column's type, `valid_to IS NULL` ⇔ `is_current`. Exactly one
  * current row per key; consecutive versions abut (`valid_to` =
  * successor's `valid_from`).
  *
  * Merge semantics per batch row (after deduping exact (key,
  * effective) duplicates deterministically):
  *   - new key → first version opens (valid_from = effective);
  *   - tracked attributes null-safe EQUAL to the version in force at
  *     the row's effective date → no-op: matches against CLOSED
  *     intervals (and exact matches of the current version) drop
  *     before the chain; matches against the current version at a
  *     later date compress inside the chain, where in-batch
  *     predecessors are visible — so a B-then-back-to-A batch keeps
  *     its reversion, while replaying a batch (even one that chained
  *     several versions, now closed, or carried rows the compression
  *     dropped) leaves the table bit-identical (pinned in Scd2Spec and
  *     the streaming sink's spec);
  *   - attributes differ, effective AFTER the current valid_from →
  *     current row closes (valid_to = effective), new version opens;
  *   - attributes differ, effective EQUAL to the current valid_from →
  *     same-date RESTATEMENT: the current version is replaced in
  *     place (never a zero-length interval);
  *   - effective BEFORE the current valid_from → throws. A late
  *     backfill cannot splice into closed history without rewriting
  *     intervals that downstream as-of joins already read — silently
  *     folding it would corrupt them, silently dropping it is data
  *     loss recorded as success (the additive family's older-epoch
  *     contract, applied to time itself).
  *
  * A batch may carry SEVERAL effective dates for one key: versions
  * chain within the batch (earliest compares against the standing
  * current row), consecutive-equal versions compress away.
  *
  * Scale shape: the chain window partitions on the key columns and
  * orders by effective date — it runs over the TOUCHED keys' current
  * rows plus the batch, never over history (closed rows pass through
  * untouched, current rows of untouched keys ride one anti-join). The
  * full-table rewrite is parquet's price for row-level change, exactly
  * as in `Upsert`; a real table format swaps a version pointer instead.
  */
object Scd2 {

  private val intervalCols = Seq("valid_from", "valid_to", "is_current")

  /** Fold one batch of (keys, tracked attributes, effective date/time)
    * observations into the SCD2 history table. See object doc for
    * semantics; returns the per-run [[Scd2Stats]].
    */
  def merge(spark: SparkSession, table: String, batch: DataFrame,
      keys: Seq[String], tracked: Seq[String],
      effectiveCol: String): Scd2Stats = {
    require(keys.nonEmpty, "scd2 merge needs key columns")
    require(tracked.nonEmpty, "scd2 merge needs tracked columns")
    val declared = keys ++ tracked :+ effectiveCol
    require(declared.distinct.size == declared.size,
      s"keys/tracked/effective overlap: ${declared.mkString(", ")}")
    require(intervalCols.forall(c => !declared.contains(c)),
      s"${intervalCols.mkString("/")} are derived — rename the input column")
    val missing = declared.filterNot(batch.columns.contains)
    require(missing.isEmpty, s"batch is missing: ${missing.mkString(", ")}")
    val extra = batch.columns.filterNot(declared.contains)
    require(extra.isEmpty,
      s"batch carries undeclared columns (silently dropping them would " +
        s"hide a config mistake): ${extra.mkString(", ")}")

    // stage the raw batch FIRST: one evaluation of the (arbitrarily
    // expensive) source plan; validation, dedup and the chain all read
    // the staged copy
    val raw = Rewrite.stage(spark, "__scd2_stage", table, "raw",
      batch.select(declared.map(col): _*))
    // one pass for both metadata counts (review finding: this runs per
    // streaming micro-batch). A NULL effective date has no place on a
    // time axis — it would sort first and silently pre-date every real
    // version; producer bug, fail loudly (the applyChangeLog
    // op-validation discipline)
    val rawStats = raw.agg(count(lit(1)).as("n"),
      sum(when(col(effectiveCol).isNull, 1L).otherwise(0L)).as("null_eff"))
      .head()
    val rawRows = rawStats.getLong(0)
    val nullEff = if (rawRows == 0L) 0L else rawStats.getLong(1)
    require(nullEff == 0L,
      s"scd2 merge for '$table': $nullEff batch rows carry a NULL " +
        s"$effectiveCol — a version needs an effective date")

    // exact (key, effective) duplicates: keep one deterministically
    // (highest tracked tuple — replays reproduce the same pick)
    val dupW = Window.partitionBy((keys :+ effectiveCol).map(col): _*)
      .orderBy(tracked.map(c => col(c).desc): _*)
    val deduped = Rewrite.stage(spark, "__scd2_stage", table, "deduped",
      raw.withColumn("_rn", row_number().over(dupW)).filter(col("_rn") === 1)
        .drop("_rn"))
    val dedupedRows = deduped.count()

    val exists = spark.catalog.tableExists(table)
    if (exists) {
      val t = spark.table(table)
      val expect = (declared.dropRight(1) ++ intervalCols).sorted
      require(t.columns.sorted.sameElements(expect),
        s"'$table' is not this merge's SCD2 shape: has " +
          s"[${t.columns.sorted.mkString(", ")}], expected " +
          s"[${expect.mkString(", ")}]")
    }

    def keyCond(a: DataFrame, b: DataFrame) =
      keys.map(k => a(k) <=> b(k)).reduce(_ && _)

    // chain input: standing CURRENT rows of touched keys + the batch.
    // _standing orders the same-date restatement dedup (batch wins).
    val batchSide = deduped
      .select((keys ++ tracked).map(col) :+
        col(effectiveCol).as("_eff") :+ lit(false).as("_standing"): _*)
    val chainIn = if (!exists) batchSide else {
      val target = spark.table(table)
      val touched = deduped.select(keys.map(col): _*).distinct()
      val curBase = target.filter(col("is_current"))
      val cur = curBase.join(touched, keyCond(curBase, touched), "left_semi")
      // Re-observation no-ops — TWO targeted prefilters, deliberately
      // NOT one "matches the version in force" test against the whole
      // table: a batch row matching the CURRENT version with a LATER
      // effective date must still chain, because another row of the
      // same batch may change the key in between (a B-then-back-to-A
      // batch — absorbing the reversion here would silently lose it;
      // review finding). Chain compression below handles that case
      // with full in-batch context.
      //   (a) rows matching a CLOSED version in force at their date:
      //       pure re-deliveries of history (a replayed multi-version
      //       batch) — they must neither chain nor trip the stale
      //       guard;
      val closedProj = target.filter(col("valid_to").isNotNull)
        .select((keys ++ tracked).map(col) :+
          col("valid_from").as("_vf") :+ col("valid_to").as("_vt"): _*)
      val closedHit = (keys ++ tracked)
        .map(c => batchSide(c) <=> closedProj(c)).reduce(_ && _) &&
        batchSide("_eff") >= closedProj("_vf") &&
        batchSide("_eff") < closedProj("_vt")
      //   (b) rows IDENTICAL to the current version including its
      //       valid_from: the same-date restatement rule would count
      //       the replacement as a new version on a replay.
      val curProj = target.filter(col("is_current"))
        .select((keys ++ tracked).map(col) :+ col("valid_from").as("_vf"): _*)
      val curHit = (keys ++ tracked)
        .map(c => batchSide(c) <=> curProj(c)).reduce(_ && _) &&
        batchSide("_eff") <=> curProj("_vf")
      val batchNew = batchSide
        .join(closedProj, closedHit, "left_anti")
        .join(curProj, curHit, "left_anti")
      // out-of-order guard BEFORE anything merges: a GENUINELY NEW
      // batch version that pre-dates the key's current valid_from
      // splices into closed history — rebuild the dimension instead
      // (this also catches a different-attrs restatement of a CLOSED
      // version, which is the same splice)
      // renamed projection: batchNew embeds target lineage through the
      // anti-join, so unqualified target columns would be ambiguous
      val curK = cur.select(keys.map(k => col(k).as(s"_cur_$k")) :+
        col("valid_from").as("_cur_vf"): _*)
      val stale = batchNew.join(curK,
          keys.map(k => batchNew(k) <=> col(s"_cur_$k")).reduce(_ && _))
        .filter(col("_eff") < col("_cur_vf"))
        .select(keys.map(col) :+ col("_eff") :+ col("_cur_vf"): _*)
        .limit(3).collect()
      require(stale.isEmpty,
        s"scd2 merge for '$table': batch rows pre-date their key's " +
          s"current valid_from (late backfill cannot splice into closed " +
          s"history): ${stale.mkString("; ")}")
      val curChain = cur.select((keys ++ tracked).map(col) :+
        col("valid_from").as("_eff") :+ lit(true).as("_standing"): _*)
      curChain.unionByName(batchNew)
    }

    // same-date restatement: one survivor per (key, _eff), batch first
    val restateW = Window.partitionBy((keys :+ "_eff").map(col): _*)
      .orderBy(col("_standing").asc)
    // change compression + interval derivation, one key-partitioned pass
    val chainW = Window.partitionBy(keys.map(col): _*).orderBy(col("_eff"))
    val attrChanged = tracked.map(c => !(col(c) <=> lag(col(c), 1).over(chainW)))
      .reduce(_ || _)
    val chained = chainIn
      .withColumn("_rs", row_number().over(restateW)).filter(col("_rs") === 1)
      .drop("_rs")
      .withColumn("_keep",
        lag(col("_eff"), 1).over(chainW).isNull || attrChanged)
      .filter(col("_keep")).drop("_keep")
      .withColumn("valid_from", col("_eff"))
      .withColumn("valid_to", lead(col("_eff"), 1).over(chainW))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("_eff")
    val survivors = Rewrite.stage(spark, "__scd2_stage", table, "chained",
      chained)

    val counts = survivors.agg(
      sum(when(!col("_standing"), 1L).otherwise(0L)).as("nv"),
      sum(when(col("_standing") && col("valid_to").isNotNull, 1L)
        .otherwise(0L)).as("cl")).head()
    val newVersions = counts.getLong(0)
    val closed = counts.getLong(1)

    val outCols = (keys ++ tracked) ++ intervalCols
    val out = survivors.select(outCols.map(col): _*)
    if (!exists) out.write.saveAsTable(table)
    else {
      val target = spark.table(table)
      val touched = survivors.select(keys.map(col): _*).distinct()
      // history (non-current) rows pass through; current rows of
      // untouched keys ride the anti-join — both null-safe on the key
      val curBase = target.filter(col("is_current"))
      val untouchedCur =
        curBase.join(touched, keyCond(curBase, touched), "left_anti")
      Rewrite.overwrite(spark, "__scd2_stage", table,
        target.filter(!col("is_current"))
          .unionByName(untouchedCur)
          .select(outCols.map(col): _*)
          .unionByName(out))
    }
    Scd2Stats(rawRows, newVersions, closed, dedupedRows - newVersions)
  }

  /** The dimension AS OF `at`: the one version per key whose interval
    * covers the date — `valid_from <= at < valid_to` (NULL valid_to =
    * open). A key first observed after `at` has no row. This is the
    * read the whole type-2 shape exists for; pair it with an as-of
    * join ([[graft.operators.TemporalJoins]]) when the probe side
    * carries its own per-row date.
    */
  def asOf(spark: SparkSession, table: String, at: String): DataFrame = {
    val t = spark.table(table)
    val d = lit(at).cast(t.schema("valid_from").dataType)
    t.filter(col("valid_from") <= d &&
      (col("valid_to").isNull || d < col("valid_to")))
  }

  /** Retention pruning: drop CLOSED versions whose interval ended on
    * or before `horizon`. The version in force AT the horizon survives
    * by construction (`valid_to` is NULL or > horizon), so an [[asOf]]
    * read at any date ≥ horizon returns exactly what it returned
    * before the prune — history older than the retention window is
    * forgotten, the present is never touched (pinned in Scd2Spec).
    * This is the GDPR/retention counterpart of compaction: without it
    * a busy dimension's history grows without bound.
    *
    * @return number of version rows dropped.
    */
  def pruneHistory(spark: SparkSession, table: String,
      horizon: String): Long = {
    val t = spark.table(table)
    require(intervalCols.forall(t.columns.contains),
      s"'$table' is not an SCD2 table: missing ${intervalCols.mkString("/")}")
    val h = lit(horizon).cast(t.schema("valid_to").dataType)
    val before = t.count()
    Rewrite.overwrite(spark, "__scd2_stage", table,
      t.filter(col("valid_to").isNull || col("valid_to") > h))
    before - spark.table(table).count()
  }
}
