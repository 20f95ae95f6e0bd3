package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Table-maintenance operators for parquet catalog tables — the
  * no-Delta counterparts of OPTIMIZE (compaction) and the incremental
  * gold-refresh path a metadata-driven pipeline needs at scale
  * (reference scope: the gold layer recomputes models wholesale and
  * upserts; VACUUM/OPTIMIZE are Delta-only per SURVEY §7.4 — these are
  * the parquet-native equivalents of the parts that ARE expressible).
  */
object Maintenance {

  /** OPTIMIZE-style compaction: rewrite a table into
    * `ceil(rows / targetRowsPerFile)` files. The small-file problem is
    * the classic streaming/incremental-append pathology — thousands of
    * kilobyte files turn every scan into a file-listing and task-
    * scheduling storm; nightly compaction restores scan-sized files.
    * A [[Rewrite.overwrite]] (a table cannot feed its own overwrite),
    * so the partition spec, bucket spec and `graft.*` properties
    * survive; a real table format makes the swap transactional.
    * `repartition` (not
    * `coalesce`) so the rewrite redistributes evenly — coalesce would
    * glue existing small files into uneven unions and keep skew.
    *
    * @return (files before, files after).
    */
  def compact(spark: SparkSession, table: String,
      targetRowsPerFile: Long = 1000000L,
      clusterBy: Seq[String] = Nil): (Int, Int) = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    val before = spark.table(table).inputFiles.length
    val n = spark.table(table).count()
    val parts = math.max(1, math.ceil(n.toDouble / targetRowsPerFile).toInt)
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    val partCols = meta.partitionColumnNames
    val bucketSpec = meta.bucketSpec
    // a partition spec clusters the rewrite by ITS columns and a bucket
    // spec prescribes its own placement — a caller-requested range
    // clustering would silently fight either; refuse, never reorder
    require(clusterBy.isEmpty || (partCols.isEmpty && bucketSpec.isEmpty),
      s"clusterBy is only for unpartitioned, unbucketed tables; " +
        s"'$table' has partition=[${partCols.mkString(",")}] " +
        s"bucket=${bucketSpec.isDefined}")
    // partitioned tables cluster the rewrite BY the partition columns so
    // each partition value lands in FEW tasks (a round-robin repartition
    // would make every task write a sliver of every value — parts ×
    // values files, the opposite of compaction) — but not ONE task: a
    // hot value holding 50× targetRowsPerFile must still split into
    // ~50 files, or the rewrite funnels it through a single
    // straggler/OOM task. Per-value counts (one cheap aggregate) size a
    // salt column: value v spreads over ceil(rows(v)/target) tasks, so
    // targetRowsPerFile is honored WITHIN each partition value.
    val clustered =
      if (partCols.nonEmpty) {
        // counts join back NULL-SAFELY (<=>): a partition value can be
        // NULL (__HIVE_DEFAULT_PARTITION__ reads back as null), and an
        // === join would silently DROP those rows from the rewrite — a
        // maintenance op must never lose data (same null-key class as
        // the maintainAdditiveAggregate fix, caught by review)
        val t0 = spark.table(table)
        val counts = t0.groupBy(partCols.map(col): _*)
          .agg(ceil(count(lit(1)).cast("double") / targetRowsPerFile)
            .cast("int").as("_nf"))
        val cAliased = counts.select(
          partCols.map(c => col(c).as(s"_pc_$c")) :+ col("_nf"): _*)
        // the salt is a DETERMINISTIC function of the row's own data
        // (xxhash64 over every source column): spark_partition_id /
        // monotonically_increasing_id would re-assign rows on a shuffle-
        // map task RETRY (fetch failure, executor loss), the SPARK-23207
        // class of silent row loss/duplication under a repartition —
        // fatal in an op that must never lose data (round-11 advice).
        // Identical duplicate rows co-locate in one salt group; the
        // writer's maxRecordsPerFile below still bounds file size then.
        t0.join(broadcast(cAliased),
            partCols.map(c => t0(c) <=> cAliased(s"_pc_$c")).reduce(_ && _))
          .withColumn("_salt",
            pmod(xxhash64(t0.columns.toSeq.map(col): _*),
              greatest(col("_nf"), lit(1))).cast("int"))
          .repartition(parts, (partCols.map(col) :+ col("_salt")): _*)
          .drop("_salt" +: "_nf" +: partCols.map(c => s"_pc_$c"): _*)
      } else if (clusterBy.nonEmpty)
        // RANGE-cluster the rewrite: each file covers a narrow value
        // range of the cluster columns, which is exactly the layout
        // [[ZoneMaps]] manifest pruning needs to skip whole files (and
        // what parquet's own row-group min/max pruning rewards). Range
        // placement is a deterministic function of the row's own key
        // against driver-computed boundaries — retry-safe, unlike a
        // round-robin repartition (the SPARK-23207 class)
        spark.table(table)
          .repartitionByRange(parts, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
      else spark.table(table).repartition(parts)
    // the salt gives the hot value TASK parallelism; hash collisions can
    // still co-locate salt groups in one task, so the FILE-size contract
    // is enforced directly by the writer — a task holding k·target rows
    // of one value rolls k files. The staged read may PACK several small
    // files into one task (maxPartitionBytes), which would mix ranges
    // back together in the final files — re-apply the range placement
    // on the final write so the on-disk layout, not just the stage, is
    // clustered
    Rewrite.overwrite(spark, "__compact_stage", table, clustered,
      maxRecordsPerFile = targetRowsPerFile,
      layout = df =>
        if (clusterBy.isEmpty) df
        else df.repartitionByRange(parts, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*))
    (before, spark.table(table).inputFiles.length)
  }

  /** VACUUM for the staging plane: the merge/CDC/compaction sinks
    * stage through scratch directories under the warehouse
    * (`__upsert_stage`, `__cdc_stage`, `__compact_stage`,
    * `__maint_stage`, …, all under [[Rewrite.dir]]); each is transient
    * by contract (the NEXT run of the same table overwrites it) but a
    * crashed or final run leaves the last copy on disk forever. This
    * deletes the staging roots — safe by construction because no table ever
    * references staged files (every sink reads the stage back and
    * writes the table's own files; the Delta-VACUUM orphan-detection
    * problem doesn't arise when staging is namespaced). ORDERING
    * contract for the declarative plane: schedule this AFTER the
    * rewrite tasks (compact / prune_store) in the same config —
    * `__prune_stage`/`__compact_stage` are the crash copies of
    * destructive rewrites, and a vacuum declared before them would
    * delete the only complete copy on the run following a mid-rewrite
    * crash. Returns the number of staging roots removed.
    */
  def vacuumStaging(spark: SparkSession): Int = {
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))
    val stages = Option(wh.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("__") &&
        f.getName.endsWith("_stage"))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    stages.foreach(rm)
    stages.length
  }

  /** Epoch-horizon retention for the standing dedup stores (and any
    * `_epoch`-stamped append-only table): DELETE rows whose `_epoch`
    * has fallen out of the declared window. The stores grow append-only
    * forever by design (a fold never rewrites history); a multi-year
    * crawl wants the trailing window pruned so store mass tracks the
    * retention policy, not all of history — the store-family analog of
    * [[Scd2.pruneHistory]].
    *
    * Window semantics: the anchor is the store's COMMITTED epoch (the
    * O(1) [[DedupStore.EpochProperty]], falling back to the max-scan
    * for legacy tables — never "today", so a store that stopped folding
    * is not silently emptied by the calendar); rows with
    * `_epoch > committed − keepEpochs` survive — the last `keepEpochs`
    * epochs counting the committed one. In the declarative plane epochs
    * are run-date epoch DAYS, so `keep_epochs: 365` reads "retain one
    * year of folds".
    *
    * What pruning means for dedup semantics (the retention trade,
    * stated loudly): content whose ONLY stored copy lived in pruned
    * epochs is re-admittable — a later re-delivery probes nothing and
    * appends as fresh (with its identity guard gone too). Probes
    * against the SURVIVING window are unchanged: the rewrite is a pure
    * `_epoch` filter, touching no codes/bands/cells, and the vector
    * store's frozen `<table>_model` sibling is never touched.
    *
    * A [[Rewrite.overwrite]]: partition spec, bucket spec, and
    * `graft.*` table properties — including the epoch fence — all
    * survive. Returns
    * (rows deleted, rows kept).
    */
  def pruneStore(spark: SparkSession, table: String,
      keepEpochs: Long): (Long, Long) = {
    require(keepEpochs > 0, s"keepEpochs must be positive, got $keepEpochs")
    val t0 = spark.table(table)
    require(t0.columns.contains("_epoch"),
      s"prune_store: '$table' has no _epoch column — retention is only " +
        "defined for epoch-stamped stores (dedup_store / " +
        "vector_dedup_store / additive-family tables)")
    val committed = DedupStore.committedEpoch(spark, table).getOrElse(
      throw new IllegalStateException(
        s"prune_store: '$table' has no committed epoch (empty store, " +
          "never folded) — nothing to anchor the retention window"))
    val cutoff = committed - keepEpochs // survivors: _epoch > cutoff
    val total = t0.count()
    Rewrite.overwrite(spark, "__prune_stage", table,
      t0.filter(col("_epoch") > cutoff))
    val kept = spark.table(table).count()
    (total - kept, kept)
  }

  /** Incremental maintenance of an ADDITIVE aggregate table — the
    * 100 TB gold-refresh path: instead of rescanning all history per
    * run (the reference's wholesale recompute), fold each new fact
    * batch into the standing (keys → sums, count) table:
    * `new_sum = old_sum + batch_sum` via full-outer join + coalesce.
    * Correct exactly for the ADDITIVE family (SUM/COUNT — and the
    * AVG/rate family derived from them at read time); MIN/MAX survive
    * inserts but not retractions, and DISTINCT needs a sketch
    * ([[graft.operators.Sketches]]) — that boundary is the classic
    * materialized-view-maintenance taxonomy, enforced here by only
    * accepting sum columns. Maintaining N batches ≡ one aggregate over
    * their union, in ANY batch order (associativity + commutativity of
    * +) — pinned in `MaintenanceSpec`. Scale shape: per batch, one
    * map-side-combined aggregate of the BATCH (not history) + one
    * keyed join against the standing table — cost rides the batch.
    *
    * @param epochId when set (the streaming sink's batchId), the fold
    *        becomes REPLAY-IDEMPOTENT: the id is written as a
    *        `_last_epoch` column in the SAME table commit as the folded
    *        data (one saveAsTable — data and marker can never diverge),
    *        and a batch whose id EQUALS the standing `_last_epoch` is
    *        skipped, while an OLDER id throws (a late backfill is not a
    *        replay — dropping it silently would be data loss recorded
    *        as success). This is what makes the additive fold safe under
    *        foreachBatch's at-least-once delivery: a crash-replayed
    *        epoch re-arrives, sees its own id already committed, and
    *        no-ops — the parquet analog of Delta's txnAppId/txnVersion
    *        pattern. Batch-path callers (no stream, no redelivery)
    *        leave it None and get no marker column.
    * @return true if the batch folded (or created the table); false if
    *         it was a replayed epoch and was skipped — callers holding
    *         an Observation on the batch must not block on it then.
    */
  def maintainAdditiveAggregate(spark: SparkSession, table: String,
      batch: DataFrame, keys: Seq[String], sumCols: Seq[String],
      epochId: Option[Long] = None): Boolean = {
    require(sumCols.nonEmpty, "need at least one additive column")
    val aggExprs = sumCols.map(c => sum(col(c)).as(c)) :+
      count(lit(1)).as("n_rows")
    val batchAgg0 = batch.groupBy(keys.map(col): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
    val batchAgg = epochId.fold(batchAgg0)(id =>
      batchAgg0.withColumn("_last_epoch", lit(id)))
    if (!spark.catalog.tableExists(table)) {
      batchAgg.write.saveAsTable(table)
      return true
    }
    // replayed epoch: its id is already committed with the data — no-op.
    // NOTE the skip happens BEFORE any action touches `batch`: a caller
    // observing the batch (GoldLayer's records count) must not block on
    // an Observation whose action never ran — hence the Boolean return.
    // Only the SAME epoch skips; an OLDER epoch is a late backfill whose
    // silent drop would be data loss dressed as success (round-11
    // advice: the audit row would record SUCCESS with 0 records) — it
    // fails loudly so the layer's per-item isolation surfaces it.
    val standingEpoch = EpochFence.lastEpoch(spark.table(table))
    if (!EpochFence.admit("additive fold", table, epochId, standingEpoch,
        "a late backfill cannot fold additively without double-count " +
          "risk; recompute the table or re-stamp the batch with a " +
          "current epoch")) return false
    val b = Rewrite.stage(spark, "__maint_stage", table, "batch", batchAgg)
      .alias("b")
    val t = spark.table(table).alias("t")
    // NULL-SAFE key match (<=>): groupBy emits a null-key group per
    // batch, and a plain USING full_outer never matches null keys —
    // each batch would append a fresh duplicate null-key row instead of
    // folding into the standing one, breaking the N-batches ≡ one-
    // aggregate invariant (round-10 advice). Key columns coalesce
    // t-then-b so both matched and one-sided rows keep their key.
    val joined = t.join(b,
      keys.map(k => t(k) <=> b(k)).reduce(_ && _), "full_outer")
    // a batch-path call (epochId = None) against a table the STREAMING
    // sink built must not strip the committed _last_epoch marker — a
    // later crash-replay of that epoch would then double-count
    // (round-11 advice); carry the standing max forward instead
    val keepEpoch = epochId.orElse(standingEpoch)
    val merged = joined.select(
      keys.map(k => coalesce(t(k), b(k)).as(k)) ++
        (sumCols :+ "n_rows").map { c =>
          // the standing type: a decimal sum would otherwise widen by
          // one digit per fold, which the rewrite refuses
          (coalesce(t(c), lit(0)) + coalesce(b(c), lit(0)))
            .cast(t.schema(c).dataType).as(c)
        } ++
        keepEpoch.map(id => lit(id).as("_last_epoch")).toSeq: _*)
    Rewrite.overwrite(spark, "__maint_stage", table, merged)
    true
  }

  /** Incremental MIN/MAX maintenance — the other half of the
    * materialized-view taxonomy [[maintainAdditiveAggregate]] enforces:
    * extremes fold correctly under INSERT-ONLY feeds (`new_min =
    * least(old_min, batch_min)`), and that restriction is the contract,
    * not a caveat — a retraction can strand a stale extreme with no way
    * to recompute short of a full rescan, which is exactly the
    * wholesale-recompute this path exists to avoid (a retraction-heavy
    * feed wants the additive family or a rescan schedule). Output
    * columns are `min_<c>` / `max_<c>` plus an additive `n_rows`.
    * Same scale shape and null-safe (<=>) key fold as the additive
    * path: one map-side-combined aggregate of the BATCH, one keyed
    * join against the standing table. N batches ≡ one aggregate over
    * their union in any order (min/max are associative + commutative)
    * — pinned in MaintenanceSpec.
    *
    * `epochId` carries the additive fold's replay-idempotence contract
    * (the min/max values are replay-idempotent on their own, but
    * `n_rows` is NOT): same epoch → skip (returns false), older epoch
    * → throw, batch path preserves a standing marker.
    */
  def maintainInsertOnlyExtremes(spark: SparkSession, table: String,
      batch: DataFrame, keys: Seq[String], minCols: Seq[String],
      maxCols: Seq[String], epochId: Option[Long] = None): Boolean = {
    require(minCols.nonEmpty || maxCols.nonEmpty,
      "need at least one min or max column")
    val outMin = minCols.map(c => s"min_$c")
    val outMax = maxCols.map(c => s"max_$c")
    val aggExprs = minCols.map(c => min(col(c)).as(s"min_$c")) ++
      maxCols.map(c => max(col(c)).as(s"max_$c")) :+
      count(lit(1)).as("n_rows")
    val batchAgg0 = batch.groupBy(keys.map(col): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
    val batchAgg = epochId.fold(batchAgg0)(id =>
      batchAgg0.withColumn("_last_epoch", lit(id)))
    if (!spark.catalog.tableExists(table)) {
      batchAgg.write.saveAsTable(table)
      return true
    }
    // the SAME epoch fence as the additive fold (review finding): the
    // min/max fold is value-idempotent but n_rows is NOT — a same-epoch
    // replay (run-date retry) must no-op, an older epoch must fail loud
    val standingEpoch = EpochFence.lastEpoch(spark.table(table))
    if (!EpochFence.admit("extremes fold", table, epochId, standingEpoch,
        "a late backfill cannot fold without double-counting n_rows; " +
          "recompute the table or re-stamp the batch with a current " +
          "epoch")) return false
    val b = Rewrite.stage(spark, "__maint_stage", table, "batch", batchAgg)
      .alias("b")
    val t = spark.table(table).alias("t")
    val joined = t.join(b,
      keys.map(k => t(k) <=> b(k)).reduce(_ && _), "full_outer")
    // least/greatest skip nulls (null only when BOTH sides are), so a
    // one-sided row keeps its own extreme without a coalesce dance
    val keepEpoch = epochId.orElse(standingEpoch)
    val merged = joined.select(
      keys.map(k => coalesce(t(k), b(k)).as(k)) ++
        outMin.map(c => least(t(c), b(c)).as(c)) ++
        outMax.map(c => greatest(t(c), b(c)).as(c)) ++
        ((coalesce(t("n_rows"), lit(0)) + coalesce(b("n_rows"), lit(0)))
          .as("n_rows") +:
          keepEpoch.map(id => lit(id).as("_last_epoch")).toSeq): _*)
    Rewrite.overwrite(spark, "__maint_stage", table, merged)
    true
  }

  /** Incremental maintenance of an INNER EQUI-JOIN view — the third
    * member of the materialized-view family ([[maintainAdditiveAggregate]]
    * sums, [[maintainInsertOnlyExtremes]] min/max, this one joins):
    * instead of re-joining two full base tables per refresh, fold the
    * INSERT-ONLY delta batches through the classic delta rule
    *
    *   ΔV = ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB
    *
    * (A, B = the STANDING base tables, pre-batch) and APPEND ΔV — the
    * view is never rescanned, never rewritten. N maintenance steps ≡
    * one full recompute over the final bases (pinned in
    * MaintenanceSpec, including the ΔA ⋈ ΔB term a naive two-term
    * rule silently drops when both sides batch in the same step).
    * Insert-only is the contract, same as the extremes fold: a
    * retraction would need a keyed delete against the view (the CDC
    * sink's business, not this fold's).
    *
    * CALLER SEQUENCING CONTRACT — `basesIncludeBatches` names which
    * side of the append the caller stands on, because the delta rule
    * differs and the wrong one double-counts silently:
    * - `false` (library default): the standing bases do NOT yet
    *   contain the batches — maintain first, append after. The rule
    *   is the three-term union above.
    * - `true` (the declarative gold path, where silver already
    *   appended today's rows before gold runs): B ⊇ ΔB and A ⊇ ΔA,
    *   so ΔA⋈B and A⋈ΔB EACH contain ΔA⋈ΔB — the fold subtracts one
    *   bag-copy of that term (`exceptAll` on the join OUTPUT, which
    *   rides Δ mass, never a base-table anti-join which would rescan
    *   |A|).
    *
    * Join semantics are PLAIN equality (null keys never match) — the
    * invariant is parity with `A JOIN B` recomputed wholesale, and
    * that is what a plain inner join does on every engine. Non-key
    * column names must be disjoint across the two sides (checked).
    *
    * Scale shape: each delta term is a keyed equi-join of a BATCH
    * against a standing table (AQE broadcasts small batch sides on
    * its own) plus the batch ⋈ batch term — cost rides |Δ| and the
    * join's true output mass, never |V| or |A|+|B|. The view append
    * is file-append, not rewrite.
    *
    * `epochId` carries the family's replay-idempotence contract: the
    * appended rows are stamped, the committed epoch is
    * `max(_last_epoch)` over the view, a same-epoch batch skips
    * (returns false), an older epoch throws. A batch-path call
    * (None) against an epoch-built view stamps its append with the
    * standing max so the marker survives; an epoch'd call against a
    * view built WITHOUT the marker column throws (parquet appends
    * cannot retrofit a column — recreate the view with an epoch).
    */
  def maintainJoinView(spark: SparkSession, table: String,
      leftTable: String, rightTable: String, joinKeys: Seq[String],
      leftBatch: Option[DataFrame], rightBatch: Option[DataFrame],
      epochId: Option[Long] = None,
      basesIncludeBatches: Boolean = false): Boolean = {
    require(joinKeys.nonEmpty, "need at least one join key")
    require(leftBatch.nonEmpty || rightBatch.nonEmpty ||
      !spark.catalog.tableExists(table),
      "need a batch on at least one side to maintain an existing view")
    val a = spark.table(leftTable)
    val b = spark.table(rightTable)
    val overlap = a.columns.toSet.intersect(b.columns.toSet) -- joinKeys
    require(overlap.isEmpty,
      s"non-key columns must be disjoint across sides: ${overlap.mkString(",")}")
    for (d <- leftBatch) {
      val miss = a.columns.filterNot(d.columns.contains)
      require(miss.isEmpty, s"left batch missing columns: ${miss.mkString(",")}")
    }
    for (d <- rightBatch) {
      val miss = b.columns.filterNot(d.columns.contains)
      require(miss.isEmpty, s"right batch missing columns: ${miss.mkString(",")}")
    }
    def pick(d: DataFrame, cols: Array[String]) =
      d.select(cols.map(col).toIndexedSeq: _*)
    val dA = leftBatch.map(pick(_, a.columns))
    val dB = rightBatch.map(pick(_, b.columns))
    if (!spark.catalog.tableExists(table)) {
      // first run: the view is the full join of bases + pending batches
      // (post-append callers' bases already carry them)
      val aAll = if (basesIncludeBatches) a else dA.fold(a)(a.unionByName(_))
      val bAll = if (basesIncludeBatches) b else dB.fold(b)(b.unionByName(_))
      val v0 = aAll.join(bAll, joinKeys)
      epochId.fold(v0)(id => v0.withColumn("_last_epoch", lit(id)))
        .write.saveAsTable(table)
      return true
    }
    val hasMarker = spark.table(table).columns.contains("_last_epoch")
    if (epochId.isDefined && !hasMarker) throw new IllegalStateException(
      s"join-view fold for '$table': the view was built without epoch " +
        "fencing and parquet appends cannot retrofit the marker column — " +
        "recreate the view with an epoch to fence replays")
    val standingEpoch = EpochFence.lastEpoch(spark.table(table))
    if (!EpochFence.admit("join-view fold", table, epochId, standingEpoch,
        "a late backfill cannot append without double-join risk; " +
          "recompute the view or re-stamp the batch with a current " +
          "epoch")) return false
    val ddTerm = for (x <- dA; y <- dB) yield x.join(y, joinKeys)
    val dV = if (basesIncludeBatches) {
      // bases already hold the batches: ΔA⋈B and A⋈ΔB each contain
      // ΔA⋈ΔB — subtract the extra bag-copy on the (small) output
      val two = Seq(dA.map(_.join(b, joinKeys)), dB.map(a.join(_, joinKeys)))
        .flatten.reduce(_.unionByName(_))
      ddTerm.fold(two)(two.exceptAll)
    } else {
      (Seq(dA.map(_.join(b, joinKeys)), dB.map(a.join(_, joinKeys)))
        .flatten ++ ddTerm).reduce(_.unionByName(_))
    }
    val keepEpoch = epochId.orElse(standingEpoch)
    val stamped = keepEpoch.filter(_ => hasMarker || epochId.isDefined)
      .fold(dV)(id => dV.withColumn("_last_epoch", lit(id)))
    stamped.write.mode(SaveMode.Append).saveAsTable(table)
    spark.catalog.refreshTable(table)
    true
  }

  /** Incremental DISTINCT-COUNT view — the sketch member of the
    * materialized-view taxonomy ([[maintainAdditiveAggregate]] sums,
    * [[maintainInsertOnlyExtremes]] min/max, [[maintainJoinView]]
    * joins): COUNT(DISTINCT x) per key is not additive and cannot fold
    * exactly from batches, so the standing table holds per-key
    * HyperLogLog REGISTERS ([[graft.operators.Sketches
    * .hllRegistersBy]]) and each batch max-merges into them. Because
    * `max` is associative, commutative AND IDEMPOTENT, this is the one
    * view family that needs NO epoch fence at all: a crash-replayed
    * batch, a reordered batch, even a late backfill all max-merge to
    * the registers of the union — replays and out-of-order arrivals
    * are harmless by algebra, not by bookkeeping (pinned in
    * MaintenanceSpec). Deletions remain out of scope, as for every
    * sketch (an HLL cannot un-see an item).
    *
    * Scale shape: per batch, one map-side-combined register build of
    * the BATCH + one ≤ m-rows-per-key merge against the standing table
    * — cost rides the batch; the standing table is ≤ m rows per key
    * forever, independent of history size. Read the view back with
    * [[distinctViewEstimate]].
    */
  def maintainDistinctView(spark: SparkSession, table: String,
      batch: DataFrame, keys: Seq[String], itemCol: String,
      m: Int = 64): Boolean = {
    require(keys.nonEmpty, "need at least one key column")
    require(graft.operators.Sketches.hllAlphaMs.contains(m),
      s"m must be one of ${graft.operators.Sketches.hllAlphaMs.sorted}, got $m" +
        " (the exact-integer estimator's alpha table)")
    // m is PERSISTED with the registers: registers built with different
    // m live in different bucket spaces, and a config drift (hll_m
    // edited between runs) would otherwise max-merge them silently into
    // garbage estimates (review finding) — the fold validates it, the
    // readback derives it
    val regCols = keys ++ Seq("bucket", "rho", "_m")
    val regs = graft.operators.Sketches.hllRegistersBy(
        batch, keys, col(itemCol), m)
      .withColumn("_m", lit(m.toLong))
    if (!spark.catalog.tableExists(table)) {
      regs.write.saveAsTable(table)
      return true
    }
    val t = spark.table(table)
    require(t.columns.sorted.sameElements(regCols.sorted.toArray[String]),
      s"'$table' is not this view's register shape: has " +
        s"[${t.columns.sorted.mkString(", ")}], expected " +
        s"[${regCols.sorted.mkString(", ")}]")
    val standingM = t.agg(max(col("_m"))).head().getLong(0)
    if (standingM != m.toLong) throw new IllegalStateException(
      s"distinct view '$table' was built with m=$standingM but this " +
        s"fold uses m=$m — different register spaces cannot merge; " +
        "recreate the view or restore the original hll_m")
    val staged = Rewrite.stage(spark, "__maint_stage", table, "batch", regs)
    Rewrite.overwrite(spark, "__maint_stage", table,
      t.select(regCols.map(col): _*).unionByName(staged)
        .groupBy((keys :+ "bucket").map(col): _*).agg(max("rho").as("rho"))
        .withColumn("_m", lit(m.toLong)))
    true
  }

  /** Per-key approximate distinct count from a [[maintainDistinctView]]
    * table: `(keys…, m, n_empty, est)` via the exact-integer raw HLL
    * estimator — bit-identical in any engine, so the VIEW readback is
    * hash-checkable even though the count is approximate. The register
    * count is DERIVED from the table's persisted `_m` — a caller
    * cannot read a view with the wrong m.
    */
  def distinctViewEstimate(spark: SparkSession, table: String,
      keys: Seq[String]): DataFrame = {
    val t = spark.table(table)
    require(t.columns.contains("_m"),
      s"'$table' is not a maintainDistinctView table (no _m column)")
    val m = t.agg(max(col("_m"))).head().getLong(0).toInt
    graft.operators.Sketches.hllEstimateBy(
      t.select((keys ++ Seq("bucket", "rho")).map(col): _*), keys, m)
  }

  /** Incremental QUANTILE view — the fifth member of the
    * materialized-view taxonomy (sums, min/max, joins, distinct
    * counts, and now distributions): percentiles are not additive and
    * exact ones need the full data, so the standing table holds
    * per-key HDR log-bucket counts
    * ([[graft.operators.Sketches.hdrSketchBy]], 6.25% relative error,
    * ≤ ~2k buckets per key forever) and each batch SUM-merges in.
    * Unlike the distinct view's max (idempotent — no fence), bucket
    * counts ADD, so a replay double-counts: this fold carries the
    * additive family's epoch fence verbatim — same epoch skips
    * (returns false), an older epoch throws, a batch-path call
    * preserves a standing marker. Read back with
    * [[quantileViewEstimate]].
    *
    * Scale shape: one map-side-combined sketch build of the BATCH +
    * one keys·buckets-bounded merge — cost rides the batch, state is
    * invariant in history size.
    */
  def maintainQuantileView(spark: SparkSession, table: String,
      batch: DataFrame, keys: Seq[String], centsCol: String,
      epochId: Option[Long] = None): Boolean = {
    require(keys.nonEmpty, "need at least one key column")
    val regCols = keys ++ Seq("bkey", "cnt")
    val regs0 = graft.operators.Sketches.hdrSketchBy(batch, keys, col(centsCol))
    val regs = epochId.fold(regs0)(id =>
      regs0.withColumn("_last_epoch", lit(id)))
    if (!spark.catalog.tableExists(table)) {
      regs.write.saveAsTable(table)
      return true
    }
    val t = spark.table(table)
    require((regCols.sorted sameElements
        t.columns.filter(_ != "_last_epoch").sorted.toIndexedSeq),
      s"'$table' is not this view's sketch shape: has " +
        s"[${t.columns.sorted.mkString(", ")}], expected " +
        s"[${regCols.sorted.mkString(", ")}] (+ optional _last_epoch)")
    val standingEpoch = EpochFence.lastEpoch(t)
    if (!EpochFence.admit("quantile fold", table, epochId, standingEpoch,
        "bucket counts add, a late backfill cannot fold without " +
          "double-count risk; recompute the table or re-stamp the batch " +
          "with a current epoch")) return false
    val staged = Rewrite.stage(spark, "__maint_stage", table, "batch", regs0)
    val keepEpoch = epochId.orElse(standingEpoch)
    val merged0 = t.select(regCols.map(col): _*).unionByName(staged)
      .groupBy((keys :+ "bkey").map(col): _*).agg(sum("cnt").as("cnt"))
    Rewrite.overwrite(spark, "__maint_stage", table,
      keepEpoch.fold(merged0)(id => merged0.withColumn("_last_epoch", lit(id))))
    true
  }

  /** Per-key quantile estimates from a [[maintainQuantileView]] table:
    * `(keys…, q_permille, est_lo_cents)` — deterministic integers, at
    * most 6.25% below the true discrete quantile.
    */
  def quantileViewEstimate(spark: SparkSession, table: String,
      keys: Seq[String], qPermille: Seq[Int]): DataFrame =
    graft.operators.Sketches.hdrQuantilesBy(
      spark.table(table).select((keys ++ Seq("bkey", "cnt")).map(col): _*),
      keys, qPermille)
}
