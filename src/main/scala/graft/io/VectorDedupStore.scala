package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.operators.FrameCaches.track

/** Standing cross-corpus VECTOR dedup store — the embedding twin of
  * [[DedupStore]] (reference scope: none — beyond-reference; closes
  * round-14 verdict item 2: v12's int8-code/IVF-cell reference tables
  * were a per-call API, so the embedding half of crawl-N+1 re-paid
  * quantization and cell assignment over the accumulated corpus each
  * batch).
  *
  * Two tables:
  *  - `<table>`: one row per surviving vector — `vec_id, qv
  *    (array<int> int8 codes), cell (home IVF cell), _epoch`. The
  *    accumulated corpus as PRECOMPUTED codes: never re-normalized,
  *    never re-quantized, never re-assigned.
  *  - `<table>_model`: the frozen calibration — `centroid_id, qsum
  *    (the centroid's element-wise BIGINT member-code sum), n (its
  *    member count), amax (the scalar quantization scale)` — TRAINED
  *    once on the founding batch by the exact-integer Lloyd's of
  *    [[Similarity.kmeansCentroidsQuantized]] (`trainIters` rounds,
  *    seeds = the `numCentroids` lowest-id codes). Trained centroids
  *    balance cell occupancy, so fewer cells trip the `maxCellSize`
  *    recall backstop and probe scans stay lean — the round-15 fix
  *    over arbitrary lowest-id picks. Centroids stay RATIONAL
  *    (qsum, n): ranking by qsum·code / n is exact integers through
  *    one IEEE division, so training AND assignment re-derive
  *    bit-identically in SQL. Freezing is what keeps stored codes
  *    valid across folds ([[Similarity.crossCorpusQuantizedMatches]]
  *    documents the same invariant: calibration and centroids must
  *    come from the reference side); a re-calibrated amax would
  *    silently re-scale every future batch's codes against
  *    incompatible stored ones. (Model tables written before training
  *    existed carry `cv` code-vector centroids; they read back as
  *    (qsum = cv, n = 1) — ranking identical to the legacy integer
  *    dot.)
  *
  * Fold semantics per batch (mirrors [[DedupStore]]):
  *  1. batch vectors whose exact integer dot (int8 codes of UNIT
  *     vectors, so the score tracks cosine) against ANY stored vector
  *     reaches `minScore` are dropped — candidates come ONLY from the
  *     `nprobe` best cells per batch vector, never an all-pairs scan;
  *  2. survivors near-dup-cluster among THEMSELVES (same HOME cell,
  *     score ≥ minScore → connected components) and each cluster
  *     keeps its smallest id — `maxCellSize` also caps THIS pair
  *     join: a batch whose vectors pile into one home cell would
  *     otherwise pay occupancy² pairs, so hot home cells (batch
  *     occupancy > cap) are excluded from pairing, exactly as
  *     [[Dedup.candidatePairs]] skips hot LSH buckets;
  *  3. survivors append with their home cell and the fold's epoch.
  *  Same epoch fence as the text store (appends are not idempotent):
  *  the O(1) [[DedupStore.EpochProperty]] catalog property.
  *
  * Scale shape: the model broadcast is `numCentroids` rows; batch
  * quantization + centroid ranking is map work over the BATCH;
  * founding-batch training is `trainIters` serial corpus-linear jobs,
  * paid ONCE at store creation (train on a founding sample if the
  * first crawl is already huge). The store side of the probe join is
  * a columnar scan of (cell, qv) — the probe join is cell-equi with
  * the batch side small (the store never shuffles: probes broadcast
  * under AQE at any realistic batch size, and scoring is the
  * codegen'd [[graft.functions.VectorExpressions.intDotProduct]]).
  * All scoring is exact integer arithmetic (plus the one IEEE
  * division of the rational cell rank), so the whole lifecycle is
  * oracle-expressible.
  */
object VectorDedupStore {

  private def modelTable(table: String) = s"${table}_model"

  /** Informational verify-threshold stamp ([[DedupStore.VerifyProperty]]
    * contract): the vector store's key-affecting calibration is the
    * frozen MODEL table itself (amax + centroids), so unlike the
    * banded siblings there is no key-knobs property to enforce — but
    * the fold's `minScore` is still the membership threshold a probe
    * can silently diverge from, so it is stamped and probe divergence
    * WARNS (advice-caught).
    */
  val VerifyProperty = "graft.vectordedupstore.verify"

  /** The store's calibration model, normalized: pre-training model
    * tables stored integer code-vector centroids (`cv`), which read
    * back as (qsum = cv, n = 1) — ranking identical to their integer
    * dot. ONE definition shared by the fold and the read-path probe so
    * the legacy normalization can never diverge between them.
    */
  private def normalizedModel(spark: SparkSession, table: String): DataFrame = {
    val model0 = spark.table(modelTable(table))
    if (model0.columns.contains("cv"))
      model0.select(col("centroid_id"),
        transform(col("cv"), _.cast("long")).as("qsum"),
        lit(1L).as("n"), col("amax"))
    else model0.select("centroid_id", "qsum", "n", "amax")
  }

  /** Rank the broadcast rational centroids per quantized vector by the
    * exact score qsum·code / n (one IEEE division of exact integers,
    * ties to the lowest centroid id) and keep cranks ≤ `nprobe`.
    * Input (vec_id, qv); output adds `cell` and `_crank`. Shared by
    * the fold and [[probeHits]] — a fix to the tie-break or the score
    * applies to both paths by construction.
    *
    * ZERO-shuffle formulation ([[Similarity.assignCellsQuantized]]'s
    * broadcast-fold idiom generalized to top-nprobe): the k centroids
    * collapse to ONE broadcast row holding an array, each batch row
    * scores all k with a `transform`, sorts the k-element array by
    * (score desc, centroid_id asc) and keeps the nprobe head — pure
    * map work fused into the batch scan. The previous crossJoin +
    * row_number window shuffled batch×k rows by vec_id on EVERY fold
    * and probe (guide §2.4: remove shuffles outright — the per-vector
    * rank needs no cross-row data at all). NULL scores (zero-norm
    * degenerate codes) sort last via the -Inf coalesce, matching the
    * window's DESC NULLS LAST.
    */
  private def rankCells(quantized: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame = {
    val centArr = cents.agg(collect_list(
      struct(col("centroid_id"), col("qsum"), col("n"))).as("_cents"))
    quantized
      .join(broadcast(centArr))
      .withColumn("_top", slice(array_sort(
        transform(col("_cents"), c => struct(
          coalesce(Similarity.qcellScore(col("qv"), c.getField("qsum"),
            c.getField("n")), lit(Double.NegativeInfinity)).as("s"),
          c.getField("centroid_id").as("cid"))),
        (l, r) => when(l.getField("s") > r.getField("s"), -1)
          .when(l.getField("s") < r.getField("s"), 1)
          .when(l.getField("cid") < r.getField("cid"), -1)
          .when(l.getField("cid") > r.getField("cid"), 1)
          .otherwise(0)),
        1, nprobe))
      .select(col("vec_id"), col("qv"),
        posexplode(col("_top")).as(Seq("_p", "_c")))
      .select(col("vec_id"), col("qv"), col("_c.cid").as("cell"),
        (col("_p") + 1).as("_crank"))
  }

  /** Folds `batch` into the standing store at `table` (created, with
    * its frozen trained model, on first call). Same [[DedupStore
    * .FoldResult]] contract: the fold reports its OWN batch count (the
    * Spark 4.1 cache/observe interaction documented there applies here
    * too — this fold persists the batch's code frame).
    */
  /** Within-batch keeper policies: `min_id` (the d8/d10 curation
    * default — each cluster keeps its smallest id, the store's
    * founding behavior) and `centroid_farthest` (SemDeDup, Abbas et
    * al. 2023 — keep the member LEAST similar to its home-cell
    * centroid: prototypical copies are the redundant ones, the
    * farthest member carries the most marginal information). The
    * argmin is integer-exact within a cell (same cell ⇒ same n, so
    * the rational score qsum·qv/n ranks by its BIGINT numerator), so
    * either policy keeps the whole lifecycle oracle-expressible.
    */
  val Keepers: Set[String] = Set("min_id", "centroid_farthest")

  def maintain(spark: SparkSession, table: String, batch: DataFrame,
      idCol: String, vecCol: String, minScore: Long,
      numCentroids: Int = 8, nprobe: Int = 2,
      trainIters: Int = 2,
      maxCellSize: Option[Long] = None,
      epochId: Option[Long] = None,
      keeper: String = "min_id"): DedupStore.FoldResult = {
    require(numCentroids >= 1, s"numCentroids must be >= 1, got $numCentroids")
    require(nprobe >= 1 && nprobe <= numCentroids,
      s"nprobe must be in [1, numCentroids], got $nprobe")
    require(trainIters >= 1, s"trainIters must be >= 1, got $trainIters")
    require(maxCellSize.forall(_ > 0),
      s"maxCellSize must be positive when set, got ${maxCellSize.get}")
    require(Keepers(keeper),
      s"keeper must be one of [${Keepers.mkString(", ")}], got '$keeper'")
    val cacheMark = graft.operators.FrameCaches.mark(spark)
    try maintainImpl(spark, table, batch, idCol, vecCol, minScore,
      numCentroids, nprobe, trainIters, maxCellSize, epochId, keeper)
    finally graft.operators.FrameCaches.releaseSince(spark, cacheMark)
  }

  private def maintainImpl(spark: SparkSession, table: String,
      batch: DataFrame, idCol: String, vecCol: String, minScore: Long,
      numCentroids: Int, nprobe: Int, trainIters: Int,
      maxCellSize: Option[Long],
      epochId: Option[Long], keeper: String): DedupStore.FoldResult = {
    val intDot = graft.functions.VectorExpressions.intDotProduct _
    val exists = spark.catalog.tableExists(table)
    if (exists) {
      DedupStore.requireStoreSchema(spark, table,
        Seq("vec_id", "qv", "cell", "_epoch"), "vector-dedup-store fold",
        "vector dedup store"): Unit
      require(spark.catalog.tableExists(modelTable(table)),
        s"vector dedup store '$table' has no model table " +
          s"'${modelTable(table)}' — the frozen calibration is half the " +
          "store; restore it or rebuild the store")
      if (!EpochFence.admit("vector-dedup-store fold", table, epochId,
          DedupStore.committedEpoch(spark, table),
          "recompute the store in epoch order or re-stamp the batch with " +
            "a current epoch"))
        return DedupStore.FoldResult(applied = false, batchRows = 0L)
    }

    val bu = Similarity.withUnitVector(
        batch.select(col(idCol).as("vec_id"), col(vecCol).as("_v")), "_v")
      .select(col("vec_id"), col("uv"))
    // founding fold: the persisted training codes ARE the batch's
    // quantized frame (same vectors, same frozen amax) — re-quantizing
    // from bu would run the normalize+quantize map work twice over the
    // founding crawl (review-caught)
    var foundingCodes: Option[DataFrame] = None
    if (!exists) {
      // founding batch IS the calibration: freeze amax + the trained
      // centroids as the model. A model without a store is the debris
      // of a failed creation (the store write comes after) — rebuild
      // it rather than erroring on the leftover
      spark.sql(s"DROP TABLE IF EXISTS ${modelTable(table)}")
      // an empty or all-zero founding batch would freeze a USELESS
      // calibration forever (amax null/0 → every future code all-zero,
      // every fold silently appends nothing): fail the creation loudly
      val st = Similarity.quantStats(bu, "uv").head()
      require(!st.isNullAt(0) && st.getDouble(0) > 0.0,
        s"vector-dedup-store creation for '$table': the founding batch " +
          "is empty or entirely zero vectors (amax " +
          s"${if (st.isNullAt(0)) "undefined" else "= 0"}) — the founding " +
          "batch freezes the calibration for the store's whole life, so " +
          "it must contain at least one non-zero vector")
      // re-broadcast the already-computed scalar instead of the stats
      // FRAME: broadcasting the frame re-runs the whole-batch
      // normalize+aggregate a second time just to rebuild one double
      import spark.implicits._
      val stats = Seq(st.getDouble(0)).toDF("amax")
      val codes = track(Similarity.withQuantized(bu, stats, "uv")
        .select(col("vec_id"), col("qv")).persist())
      foundingCodes = Some(codes)
      val model = Similarity.kmeansCentroidsQuantized(
          codes, numCentroids, trainIters)
        .crossJoin(broadcast(stats))
        .select(col("centroid_id"), col("qsum"), col("n"), col("amax"))
      model.write.mode(SaveMode.ErrorIfExists).format("parquet")
        .saveAsTable(modelTable(table))
    }
    val model = normalizedModel(spark, table)
    // ONE k-row action reads amax AND proves the model non-empty (the
    // r18 shape paid a separate isEmpty job before a lazy stats agg);
    // the scalar re-broadcasts as a literal frame — the founding
    // branch's own idiom
    val amaxRow = model.agg(max(col("amax")).as("amax")).head()
    require(!amaxRow.isNullAt(0),
      s"vector dedup store '$table': model table '${modelTable(table)}' " +
        "has no centroid rows — the frozen calibration is unusable; " +
        "restore it or rebuild the store")
    import spark.implicits._
    val stats = Seq(amaxRow.getDouble(0)).toDF("amax")
    val cents = model.select(col("centroid_id"), col("qsum"), col("n"))

    // quantize the batch with the STORED calibration; rank the
    // broadcast trained centroids per vector: crank 1 = home cell
    // (stored, and the self-dedup blocking key), crank <= nprobe =
    // probe cells
    val quantized = foundingCodes.getOrElse(
      Similarity.withQuantized(bu, stats, "uv")
        .select(col("vec_id"), col("qv")))
    val ranked = track(rankCells(quantized, cents, nprobe).persist())
    val homed = ranked.filter(col("_crank") === 1).drop("_crank")

    val fresh =
      if (!exists) homed
      else homed.join(
          storeHits(spark, table, ranked, minScore, maxCellSize),
          Seq("vec_id"), "left_anti")
        // identity guard, as in DedupStore: a stored vec_id never
        // appends again (crash-retry between append and the epoch
        // stamp; id re-delivered with changed content)
        .join(spark.table(table).select("vec_id"), Seq("vec_id"), "left_anti")
    val freshP = track(fresh.persist())

    // within-batch near-dup clusters among the store-fresh vectors:
    // same home cell, integer score >= minScore; smallest id keeps.
    // maxCellSize caps the pair join exactly as it caps the probe: a
    // hot HOME cell (batch occupancy > cap) is excluded from pairing
    // (its vectors pass through un-deduped — the recall trade), so
    // pair mass stays <= cap × occupancy instead of occupancy². The
    // hot-key set is bounded by numCentroids, so it always broadcasts.
    val pairBase = maxCellSize match {
      case Some(cap) =>
        val hot = freshP.groupBy("cell").agg(count(lit(1)).as("_cn"))
          .filter(col("_cn") > cap).select("cell")
        freshP.join(broadcast(hot), Seq("cell"), "left_anti")
      case None => freshP
    }
    val l = pairBase.select(col("cell"), col("vec_id").as("doc_a"),
      col("qv").as("_qa"))
    val r = pairBase.select(col("cell"), col("vec_id").as("doc_b"),
      col("qv").as("_qb"))
    val pairs = l.join(r, Seq("cell"))
      .filter(col("doc_a") < col("doc_b") &&
        intDot(col("_qa"), col("_qb")) >= minScore)
      .select("doc_a", "doc_b")
    val clusters = Dedup.connectedComponents(pairs)
      .withColumnRenamed("doc_id", "vec_id")
    // docs in no pair never enter `clusters` and survive untouched;
    // within each cluster the keeper policy picks ONE row to keep
    val nonKeepers = keeper match {
      case "centroid_farthest" =>
        // SemDeDup's rule on the maintained store: rank each cluster's
        // members by the integer dot against their home-cell centroid
        // (all members share the cell — pairs are cell-equi), keep the
        // LEAST similar; ties to the lowest id
        val members = clusters
          .join(freshP.select("vec_id", "qv", "cell"), Seq("vec_id"))
          .join(broadcast(cents.select(col("centroid_id").as("cell"),
            col("qsum"))), Seq("cell"))
          .withColumn("_cdot", Similarity.qdotLong(col("qv"), col("qsum")))
        val w = Window.partitionBy("cluster_id")
          .orderBy(col("_cdot").asc, col("vec_id"))
        members.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") =!= 1).select("vec_id")
      case _ => // min_id: the min-label closure's canonical id keeps
        clusters.filter(col("vec_id") =!= col("cluster_id"))
          .select("vec_id")
    }
    val survivors = freshP
      .join(nonKeepers, Seq("vec_id"), "left_anti")
      .withColumn("_epoch", lit(epochId.getOrElse(-1L)))
      .select("vec_id", "qv", "cell", "_epoch")

    // founding folds write DIRECTLY; append folds go through the
    // store append barrier (Rewrite.barrier), as in the text store
    if (!exists)
      survivors.write.mode(SaveMode.ErrorIfExists)
        .format("parquet").saveAsTable(table)
    else
      Rewrite.barrier(survivors).write.mode(SaveMode.Append)
        .format("parquet").saveAsTable(table)
    // one catalog round-trip for both properties (each ALTER is a
    // serial driver-side write)
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" +
      epochId.map(id =>
        s"'${DedupStore.EpochProperty}' = '$id', ").getOrElse("") +
      s"'$VerifyProperty' = 'minScore=$minScore')")
    spark.catalog.refreshTable(table)
    // one crank-1 row per batch vector; rides the persisted rank frame
    DedupStore.FoldResult(applied = true, batchRows = homed.count())
  }

  /** Result of a [[retrain]]: `k` centroid rows in the new model,
    * `rows` stored vectors re-assigned, `moved` of them landing in a
    * different home cell than before.
    */
  final case class RetrainResult(k: Long, rows: Long, moved: Long)

  /** Per-cell occupancy profile of a store — THE retrain-cadence
    * signal the frozen founding model needs (a drifting corpus piles
    * later folds into few cells: hot `maxCellSize` trips = recall
    * loss, fat cells = slow probes; a balanced store reads
    * spread ≈ 1000).
    *
    *  - `spreadPermille` = 1000·maxCell·cells / rows — max/mean cell
    *    size in exact integer permille (1000 = perfectly balanced,
    *    k·1000 = everything in one of k cells);
    *  - `hotCells` = cells whose occupancy exceeds `maxCellSize`
    *    (0 when no cap is given) — each one is a probe-exclusion
    *    (recall loss) TODAY.
    *
    * Cost: ONE map-side-combined aggregate over the store's `cell`
    * column (k-bounded result), never the codes — cheap enough to run
    * every night where the k-means retrain is not; [[retrain]]'s
    * `spreadThresholdPermille` reads exactly this number to gate the
    * expensive path.
    */
  final case class OccupancyStats(cells: Long, rows: Long, maxCell: Long,
      spreadPermille: Long, hotCells: Long)

  def occupancyStats(spark: SparkSession, table: String,
      maxCellSize: Option[Long] = None): OccupancyStats = {
    require(spark.catalog.tableExists(table),
      s"store_stats: no such table '$table'")
    val t = spark.table(table)
    require(t.columns.contains("cell"),
      s"store_stats: '$table' has no 'cell' column — occupancy stats " +
        "profile a vector dedup store's IVF cells")
    require(spark.catalog.tableExists(modelTable(table)),
      s"store_stats: vector dedup store '$table' has no model table " +
        s"'${modelTable(table)}' — cells = the model's k, so the spread " +
        "is undefined without it")
    // cells = the MODEL's k, never the count of OCCUPIED cells: a
    // store whose rows all collapsed into one of k cells is MAXIMAL
    // drift (spread = k·1000) — counting occupied cells would read
    // exactly that catastrophe as perfectly balanced (spread = 1000)
    // and the drift gate would never fire (review-caught)
    val k = spark.table(modelTable(table)).count()
    val occ = t.groupBy("cell").agg(count(lit(1)).as("n"))
    val r = occ.agg(
      coalesce(sum(col("n")), lit(0L)).as("rows"),
      coalesce(max(col("n")), lit(0L)).as("max_cell"),
      coalesce(sum(when(col("n") > lit(maxCellSize.getOrElse(Long.MaxValue)),
        1L).otherwise(0L)), lit(0L)).as("hot")).head()
    val rows = r.getLong(0)
    val maxCell = r.getLong(1)
    val spread = if (rows == 0L) 0L else 1000L * maxCell * k / rows
    OccupancyStats(k, rows, maxCell, spread, r.getLong(2))
  }

  /** Re-trains the store's centroids over the ACCUMULATED codes and
    * re-assigns every stored row's home cell — the declared answer to
    * founding-model drift: the calibration is trained once on the
    * founding batch, so after months of folds the corpus distribution
    * can wander away from it, unbalancing cells (hot `maxCellSize`
    * trips = recall loss; fat cells = slow probes). Retraining is
    * SAFE precisely because of what it does NOT touch: `amax` — the
    * stored int8 codes are in amax units, so the scale read from the
    * current model is carried into the new one verbatim, and every
    * stored `qv` stays valid. Only the centroids (k-means over the
    * stored codes themselves, [[Similarity.kmeansCentroidsQuantized]])
    * and the home-cell labels change — both re-derivable, all-integer
    * plus the one rational division, so a retrained store is exactly
    * the store that would exist had the new model been frozen at
    * creation (spec-pinned).
    *
    * Crash contract (two catalog writes, no transaction): both writes
    * are [[Rewrite.overwrite]]s into the EXISTING tables — never
    * drop-and-recreate — so neither table ever disappears (a vanished
    * store would send the next fold down its founding branch and
    * silently re-found the store from one day's batch); a crash DURING
    * a write leaves that table emptied, with its staged copy under
    * `__retrain_stage` the complete one (Rewrite's crash posture). The
    * model installs FIRST, so a crash between the writes leaves stored
    * cells assigned by the old model while probes rank the new one —
    * RECALL-DEGRADED, never corrupt (a missed near-dup appends a
    * duplicate; nothing is lost or mis-scored). Training is
    * deterministic (lowest-id seeds, lowest-id tie-breaks), so
    * re-running the task converges: same codes → same model → the
    * store rewrite completes. The table's specs and `graft.*`
    * properties — including the epoch fence — survive untouched
    * because the table definition is never dropped. CONVERGED retrains
    * skip the rewrites entirely: when the k-means reproduces the
    * installed model and no row's home cell moves, neither table is
    * touched (a nightly-scheduled retrain must not pay a full-store
    * rewrite — with its crash window — to change nothing).
    *
    * Legacy `cv` model tables come out MODERNIZED (trained rational
    * (qsum, n) centroids) — retrain is also the declared migration
    * path off pre-training models.
    *
    * Scale shape: `trainIters` serial store-linear jobs (the k-means
    * pacing bound — train on the store's own codes, never re-reading
    * text/embeddings) + one store-linear reassignment (broadcast
    * k-row fold) + one staged rewrite. Run it from the `maintenance:`
    * plane (`task_type: retrain_store`) on the cadence drift warrants
    * — the occupancy spread (max/mean cell size) is the signal.
    */
  def retrain(spark: SparkSession, table: String, trainIters: Int = 2,
      numCentroids: Option[Int] = None,
      spreadThresholdPermille: Long = 0L): RetrainResult = {
    require(trainIters >= 1, s"trainIters must be >= 1, got $trainIters")
    require(numCentroids.forall(_ >= 1),
      s"numCentroids must be >= 1 when set, got ${numCentroids.get}")
    require(spreadThresholdPermille >= 0L,
      "spreadThresholdPermille must be >= 0 (0 = always retrain), got " +
        spreadThresholdPermille)
    DedupStore.requireStoreSchema(spark, table,
      Seq("vec_id", "qv", "cell", "_epoch"), "retrain_store",
      "vector dedup store"): Unit
    // crash recovery for the one drop-and-recreate window retrain keeps
    // (the legacy-cv schema migration): a store whose model table is
    // missing but whose staged __retrain_stage/model survives is that
    // crash's debris — reinstall the staged model AUTOMATICALLY, so the
    // documented re-run-to-convergence contract covers the migration
    // path too instead of demanding a manual parquet restore
    // (advice-caught)
    if (!spark.catalog.tableExists(modelTable(table))) {
      val stage = new org.apache.hadoop.fs.Path(
        Rewrite.dir(spark, "__retrain_stage", table) + "/model")
      val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(stage)) {
        spark.read.parquet(stage.toString)
          .write.mode(SaveMode.ErrorIfExists).format("parquet")
          .saveAsTable(modelTable(table))
        spark.catalog.refreshTable(modelTable(table))
      }
    }
    require(spark.catalog.tableExists(modelTable(table)),
      s"retrain_store: vector dedup store '$table' has no model table " +
        s"'${modelTable(table)}' (and no staged __retrain_stage/model to " +
        "recover it from) — restore it or rebuild the store")
    // drift gate: a nightly-scheduled retrain must not pay trainIters
    // store-linear k-means jobs while the store is still balanced. The
    // occupancy spread is ONE cheap cell-column aggregate; below the
    // threshold the retrain is a declared no-op (moved = 0). Two
    // exemptions the gate must never swallow: a legacy cv model (its
    // migration is the point of the run) and a DECLARED k-resize (a
    // balanced store would gate `num_centroids: 64` forever, silently
    // ignoring the config — review-caught)
    if (spreadThresholdPermille > 0L &&
        !spark.table(modelTable(table)).columns.contains("cv") &&
        numCentroids.forall(_.toLong ==
          spark.table(modelTable(table)).count())) {
      val s = occupancyStats(spark, table)
      if (s.rows > 0L && s.spreadPermille < spreadThresholdPermille)
        return RetrainResult(spark.table(modelTable(table)).count(),
          s.rows, 0L)
    }
    val cacheMark = graft.operators.FrameCaches.mark(spark)
    try retrainImpl(spark, table, trainIters, numCentroids)
    finally graft.operators.FrameCaches.releaseSince(spark, cacheMark)
  }

  private def retrainImpl(spark: SparkSession, table: String,
      trainIters: Int, numCentroids: Option[Int]): RetrainResult = {
    val model0 = spark.table(modelTable(table))
    // amax is the ONE thing retrain must never change: stored codes
    // are in amax units (the class of silent re-scoring the frozen
    // model exists to prevent)
    val amaxRow = model0.agg(max(col("amax")).as("amax")).head()
    require(!amaxRow.isNullAt(0),
      s"retrain_store: model table '${modelTable(table)}' has no " +
        "centroid rows — the frozen calibration is unusable; restore " +
        "it or rebuild the store")
    val amax = amaxRow.getDouble(0)
    val k = numCentroids.getOrElse(model0.count().toInt)
    val codes = track(spark.table(table)
      .select("vec_id", "qv", "cell", "_epoch").persist())
    val rows = codes.count()
    // an empty store would train an empty model and brick every later
    // fold on the >=1-centroid guard — refuse, nothing to train on
    require(rows > 0L,
      s"retrain_store: '$table' is empty — nothing to train on")
    val cents = track(Similarity.kmeansCentroidsQuantized(
      codes.select("vec_id", "qv"), k, trainIters).persist())
    val reassigned = track(Similarity.assignCellsQuantized(
        codes.withColumnRenamed("cell", "_old_cell"), cents)
      .select(col("vec_id"), col("qv"), col("cell"), col("_epoch"),
        col("_old_cell"))
      .persist())
    val moved = reassigned.filter(col("cell") =!= col("_old_cell")).count()
    val legacyCv = model0.columns.contains("cv")
    val newModel = cents.withColumn("amax", lit(amax))
      .select("centroid_id", "qsum", "n", "amax")
    // convergence fast path (advice-caught): a default config that
    // schedules retrain every run must not pay a full-store INSERT
    // OVERWRITE — with its crash window — when the k-means reproduced
    // the installed model and no row moved. Model equality is a
    // k-row driver compare (bounded by numCentroids); legacy-cv
    // models always migrate
    def modelKey(df: DataFrame): Set[(String, List[Any], String, String)] =
      df.collect().map(r => (String.valueOf(r.get(0)),
        r.getSeq[Any](1).toList, String.valueOf(r.get(2)),
        String.valueOf(r.get(3)))).toSet
    val modelChanged = legacyCv ||
      modelKey(newModel) !=
        modelKey(model0.select("centroid_id", "qsum", "n", "amax"))
    if (!modelChanged && moved == 0L)
      return RetrainResult(model0.count(), rows, 0L)

    // apply model-first per the crash contract above, both halves
    // staged under the STORE's __retrain_stage dir (the recovery path
    // above reads the model from there). The one drop-and-recreate:
    // migrating a LEGACY cv model drops the cv column, which a rewrite
    // never does — that window is documented and paid once per
    // migration, and the recovery reinstall above covers it
    if (modelChanged) {
      if (legacyCv)
        Rewrite.stage(spark, "__retrain_stage", table, "model", newModel)
          .write.mode(SaveMode.Overwrite).format("parquet")
          .saveAsTable(modelTable(table))
      else
        Rewrite.overwrite(spark, "__retrain_stage", modelTable(table),
          newModel, name = "model", stagedAs = Some(table))
    }
    // the store rewrite is gated on moved > 0: with no home cell
    // changing, the rewrite would byte-replace the table with itself —
    // pure crash-window exposure for zero information
    if (moved > 0L)
      Rewrite.overwrite(spark, "__retrain_stage", table,
        reassigned.drop("_old_cell"), name = "store")
    // SUCCESSFUL retrain: sweep the stage dir NOW instead of waiting
    // for vacuum_staging — a staged model that outlives its apply can
    // be silently resurrected by the crash-recovery reinstall above
    // when an operator INTENTIONALLY drops the model table to force a
    // rebuild (advice-caught). Crashed retrains never reach this line,
    // so the recovery copy survives exactly as long as it is needed
    val scratchPath = new org.apache.hadoop.fs.Path(
      Rewrite.dir(spark, "__retrain_stage", table))
    scratchPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(scratchPath, true)
    RetrainResult(spark.table(modelTable(table)).count(), rows, moved)
  }

  /** The store-probe stage, exposed for plan pinning: batch vectors
    * (as the ranked probe frame: vec_id, qv, cell per probed cell)
    * whose integer dot vs ANY stored vector in a probed cell reaches
    * `minScore`. Cell-equi join only — never all-pairs.
    *
    * `maxCellSize` caps degenerate store-side cells exactly as the
    * text store's `maxBucketSize` caps hot bands: a cell whose stored
    * occupancy exceeds the cap is EXCLUDED from the probe (every
    * colliding batch vector would otherwise score against the whole
    * cell). The trade is recall on hot-cell content — the honest
    * sizing answer is numCentroids ∝ corpus at creation (BASELINE
    * §round-15) with TRAINED centroids keeping occupancy balanced; the
    * cap is the runtime backstop when the frozen model turns out
    * under-sized for a skewed corpus.
    */
  def storeHits(spark: SparkSession, table: String, probes: DataFrame,
      minScore: Long, maxCellSize: Option[Long] = None): DataFrame = {
    val intDot = graft.functions.VectorExpressions.intDotProduct _
    val store0 = spark.table(table).select(col("cell"), col("qv").as("_qr"))
    val store = maxCellSize match {
      case Some(cap) =>
        // UNLIKE the banded siblings (whose hot-key space is unbounded
        // and needs the counted degrade rule), hot CELLS are bounded by
        // the model's k — provably broadcast-sized at any store mass.
        // Broadcasting unconditionally drops the hot.count() action the
        // r18 shape paid per probe (v17 runs five probes per call;
        // guide §1.2 — don't spend a job deciding what is already known)
        val hot = store0.groupBy("cell")
          .agg(count(lit(1)).as("_cn")).filter(col("_cn") > cap)
          .select("cell")
        store0.join(broadcast(hot), Seq("cell"), "left_anti")
      case None => store0
    }
    probes.select(col("vec_id"), col("qv").as("_qb"), col("cell"))
      .join(store, Seq("cell"))
      .filter(intDot(col("_qb"), col("_qr")) >= minScore)
      .select("vec_id").distinct()
  }

  /** READ-path membership probe — quantize the batch with the STORED
    * calibration, rank the frozen centroids, and score the `nprobe`
    * best cells against the stored codes, WITHOUT folding. Returns the
    * distinct batch ids whose integer dot vs any stored vector reaches
    * `minScore` — "has the corpus seen this embedding?" as a pure
    * read (the dry-run half of the fold, e.g. for coverage reports or
    * a pre-ingest filter that must not advance the store).
    */
  def probeHits(spark: SparkSession, table: String, batch: DataFrame,
      idCol: String, vecCol: String, minScore: Long,
      nprobe: Int = 2, maxCellSize: Option[Long] = None): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val meta = DedupStore.requireStoreSchema(spark, table,
      Seq("vec_id", "qv", "cell", "_epoch"), "store probe",
      "vector dedup store")
    require(spark.catalog.tableExists(modelTable(table)),
      s"store probe: vector dedup store '$table' has no model table " +
        s"'${modelTable(table)}' — the frozen calibration is half the store")
    DedupStore.warnVerifyDivergenceOn(meta, table, VerifyProperty,
      s"minScore=$minScore", "store probe")
    val model = normalizedModel(spark, table)
    val stats = model.agg(max(col("amax")).as("amax"))
    val cents = model.select(col("centroid_id"), col("qsum"), col("n"))
    val bu = Similarity.withUnitVector(
        batch.select(col(idCol).as("vec_id"), col(vecCol).as("_v")), "_v")
      .select(col("vec_id"), col("uv"))
    val ranked = rankCells(
      Similarity.withQuantized(bu, stats, "uv")
        .select(col("vec_id"), col("qv")),
      cents, nprobe).drop("_crank")
    storeHits(spark, table, ranked, minScore, maxCellSize)
  }

  /** The accumulated deduped corpus: one row per stored vector. */
  def storedVecIds(spark: SparkSession, table: String): DataFrame =
    spark.table(table).select("vec_id", "_epoch")
}
