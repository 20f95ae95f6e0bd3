package graft.io

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.operators.FrameCaches.track

/** Standing cross-corpus dedup store — the crawl-N+1 lifecycle as a
  * maintained gold model (reference scope: none — beyond-reference;
  * completes the incremental-view taxonomy with the DEDUP member).
  *
  * [[Dedup.crossCorpusNearDups]] dedupes one batch against a
  * caller-supplied reference frame, but re-shingles and re-hashes the
  * reference TEXT on every call — at crawl N the reference is crawls
  * 1..N-1, so the per-call API re-pays the whole corpus's hashing each
  * batch. This store persists what that work produces: one row per
  * (surviving doc, LSH band) carrying the band key and the doc's
  * hashed shingle set, so each new batch joins against PRECOMPUTED
  * band keys and the accumulated corpus is never re-read as text.
  *
  * Fold semantics per batch (the standard keep-one-per-cluster
  * curation policy):
  *  1. batch docs whose exact Jaccard vs ANY stored doc reaches the
  *     threshold (candidates from the banded equi-join only) are
  *     dropped — near-dups of content the corpus already has;
  *  2. the remaining docs near-dup-cluster among THEMSELVES
  *     (banded pairs → connected components) and each cluster keeps
  *     its smallest id;
  *  3. survivors' band rows APPEND to the store stamped with the
  *     fold's epoch. The store is append-only: state grows with the
  *     deduped corpus (unlike the keys-bounded view sketches), so a
  *     fold never rewrites history — cost rides the batch.
  *
  * Replay contract: appends are NOT idempotent (a replayed batch
  * would re-test against a store that now contains its own survivors
  * — every doc suddenly matches itself), so the fold carries the
  * additive family's epoch fence: same-epoch re-run returns false
  * (no-op), an older epoch throws.
  *
  * Scale shape: the batch side is shingled/hashed once (persisted for
  * its three consumers); the store side is a column scan of
  * (band_idx, band_key[, sh]) — never text. The batch×store join is
  * banded equi-only, with the verify Jaccard computed per COLLISION
  * row (≤ bands rows per pair) rather than per distinct pair: a
  * distinct-first pass would shuffle the wide shingle-carrying rows a
  * second time to save at most `bands`× duplicate array intersections.
  * With `storeBuckets > 0` the store table is bucketed on `band_key`,
  * so the store side of every future fold's join is read WITHOUT a
  * shuffle (HashPartitioning(band_key) satisfies the join's clustered
  * distribution; the small batch side shuffles to match) — at 100 TB
  * the accumulated store is the big side, and this is what keeps
  * crawl-N+1 cost linear in the BATCH. `maxBucketSize` caps degenerate
  * store-side band buckets exactly as [[Dedup.candidatePairs]] does
  * (a boilerplate bucket would multiply every colliding batch doc).
  *
  * Store schema: `doc_id, band_idx, band_key, sh, _epoch` — `sh` (the
  * hashed shingle set, needed for the exact-Jaccard verify) is carried
  * on every band row, a deliberate `bands`× duplication that buys the
  * verify without a second doc_id-keyed join against a store-sized
  * signature table; `jaccardThreshold = 0` (LSH-only: any band
  * collision is a dup) never reads `sh` at fold time.
  */
object DedupStore {

  /** Catalog table property carrying the last committed fold epoch —
    * the O(1) metadata read that replaces a full-store `max(_epoch)`
    * column scan (at a 100 TB store the scan is a real, unpruned pass
    * per fold; the property read never touches the data). Stores
    * written before this property existed fall back to the scan once,
    * then carry the property from their next fold on.
    */
  val EpochProperty = "graft.dedupstore.epoch"

  /** Catalog property freezing the store's KEY-AFFECTING fold knobs
    * (shingle size, hash count, band count, hash mode): band keys are
    * a pure function of them, so a fold or probe run with different
    * values would band-join against incompatible keys and silently
    * match NOTHING — every row would read as fresh (review-caught: the
    * scaladoc contract alone left a mis-declared `store_probe` waving
    * everything through as novel). Stamped at every fold; later folds
    * and [[probeHits]] refuse on mismatch. Stores written before the
    * property existed pass once and are stamped by their next fold.
    */
  val KnobsProperty = "graft.dedupstore.knobs"

  /** Catalog property recording the store's VERIFY-stage threshold
    * (exact-Jaccard percent here; the siblings stamp their minScore /
    * maxHamming analogs) — INFORMATIONAL, unlike [[KnobsProperty]]:
    * the threshold does not shape band keys, so a probe may
    * legitimately ask a looser or tighter membership question than the
    * fold enforces. Stamped at every fold; [[probeHits]] WARNS (never
    * refuses) when its threshold diverges, so a silently different
    * membership set is at least a logged divergence (advice-caught).
    */
  val VerifyProperty = "graft.dedupstore.verify"

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private[io] def knobsValue(shingleN: Int, numHashes: Int, bands: Int,
      mode: Dedup.HashMode): String =
    s"shingleN=$shingleN,numHashes=$numHashes,bands=$bands,mode=$mode"

  /** One catalog metadata fetch per guard pass (review-caught: the
    * read path previously resolved the table three times — schema,
    * knobs, verify — per probe, pure driver-side metastore waste on
    * the hot declarative path).
    */
  private[io] def tableMeta(spark: SparkSession, table: String)
      : org.apache.spark.sql.catalyst.catalog.CatalogTable =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  /** Enforces the frozen key-affecting knobs. On the FOLD path
    * (`requirePresent = false`) a store written before the property
    * existed passes once and is stamped by the fold that follows; on
    * the READ path (`requirePresent = true`) the property MUST exist —
    * a probe has no stamping step, so a vacuous pass would band-join
    * incompatible keys and silently match nothing, the exact failure
    * the property prevents (advice-caught).
    */
  private[io] def requireKnobs(spark: SparkSession, table: String,
      property: String, declared: String, what: String,
      requirePresent: Boolean = false): Unit =
    requireKnobsOn(tableMeta(spark, table), table, property, declared,
      what, requirePresent)

  private[io] def requireKnobsOn(
      meta: org.apache.spark.sql.catalyst.catalog.CatalogTable,
      table: String, property: String, declared: String, what: String,
      requirePresent: Boolean): Unit = {
    meta.properties.get(property) match {
      case Some(stored) =>
        require(stored == declared,
          s"$what for '$table': declared knobs [$declared] do not match " +
            s"the store's frozen fold settings [$stored] — band keys are " +
            "a pure function of these, so the mismatch would silently " +
            "match nothing; use the store's own settings")
      case None =>
        require(!requirePresent,
          s"$what for '$table': the store carries no '$property' " +
            "property, so the declared knobs cannot be checked — a " +
            "mismatch would silently match nothing. The store predates " +
            "the property (or is not this store family's table): run " +
            "one fold to stamp it, or — after verifying the fold " +
            "settings by hand — ALTER TABLE ... SET TBLPROPERTIES" +
            s"('$property' = '$declared')")
    }
  }

  /** The store family's expected-columns check, ONE definition for the
    * fold and read paths of every family (review-caught clone): a
    * caller pointed at a wrong-family (or arbitrary) table fails with
    * the family's own named error, not a raw missing-column
    * AnalysisException deep inside a join. Returns the CatalogTable so
    * the property guards reuse the same metadata fetch.
    */
  private[io] def requireStoreSchema(spark: SparkSession, table: String,
      expect: Seq[String], what: String, family: String)
      : org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    require(spark.catalog.tableExists(table), s"$what: no such table '$table'")
    val meta = tableMeta(spark, table)
    val have = meta.schema.fieldNames
    require(have.sorted.toSeq == expect.sorted,
      s"$what: '$table' is not a $family: has " +
        s"[${have.sorted.mkString(", ")}], expected " +
        s"[${expect.sorted.mkString(", ")}]")
    meta
  }

  /** Compares a probe's verify threshold to the one the fold stamped
    * ([[VerifyProperty]] et al.) and WARNS on divergence — returned
    * (and logged) rather than thrown: the threshold is not
    * key-affecting, so a divergent probe is a legitimate but
    * flag-shifting read the operator should know about.
    */
  private[io] def warnVerifyDivergence(spark: SparkSession, table: String,
      property: String, declared: String, what: String): Option[String] =
    warnVerifyDivergenceOn(tableMeta(spark, table), table, property,
      declared, what)

  private[io] def warnVerifyDivergenceOn(
      meta: org.apache.spark.sql.catalyst.catalog.CatalogTable,
      table: String, property: String, declared: String, what: String)
      : Option[String] = {
    meta.properties.get(property).filter(_ != declared).map { stored =>
      val msg = s"$what for '$table': verify threshold [$declared] " +
        s"differs from the store's fold setting [$stored] — the " +
        "membership flags will diverge from what the fold itself would " +
        "drop (informational: band keys are unaffected)"
      log.warn(msg)
      msg
    }
  }

  /** Outcome of one fold: whether it applied (false = the epoch fence
    * skipped a same-epoch replay) and the batch's row count, counted on
    * the fold's own persisted shingle frame. The count is returned HERE
    * rather than observed by the caller because `maintain` persists the
    * batch subtree: in Spark 4.1, once an observed node's subtree is
    * cached, any later query over the cache completes the caller's
    * `Observation` with `Row.empty` (ObservationManager.tryComplete
    * poisons a registered observation whenever a finished query's
    * LOGICAL plan contains the CollectMetrics node but its execution —
    * a cache hit — produced no metric), so an outside Observation
    * riding the batch is unreliable by design.
    */
  final case class FoldResult(applied: Boolean, batchRows: Long)

  /** Why an append-only store refuses a backfill ([[EpochFence]]). */
  private[io] val BackfillReason: String =
    "the store already contains later survivors, so a backfilled batch " +
      "would be deduped against the future; recompute the store in epoch " +
      "order or re-stamp the batch with a current epoch"

  /** The last committed fold epoch: the [[EpochProperty]] table
    * property when present (O(1) catalog read), else a one-time
    * `max(_epoch)` scan for legacy stores.
    *
    * Crash window: the property is stamped AFTER the append, so a
    * failure between them leaves the property one epoch behind the
    * data and the same-date retry RE-RUNS the fold instead of
    * no-opping. That retry converges — every re-delivered doc is
    * dropped by the probe's content match or, failing that (hot-band
    * caps), by the identity guard in the fold — so the cost of the
    * window is a re-paid fold, never a duplicate DOC_ID, never a lost
    * doc. Duplicate CONTENT has one residual edge inside the window:
    * a doc the crashed run dropped as a within-batch cluster-MATE of
    * an appended keeper carries a doc_id the store has never seen, so
    * the identity guard cannot catch it — if a hot-band cap also
    * hides the keeper from the retry's probe, the mate re-appends and
    * near-dup content lands twice. The exposure needs the crash AND a
    * tripped cap AND a clustered batch at once; a maintenance-plane
    * near-dup sweep (or an uncapped one-off fold of the affected
    * epoch) reconciles it.
    */
  def committedEpoch(spark: SparkSession, table: String): Option[Long] = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    meta.properties.get(EpochProperty).map(_.toLong).orElse {
      val m = spark.table(table).agg(max(col("_epoch"))).head()
      if (m.isNullAt(0)) None else Some(m.getLong(0))
    }
  }

  /** Within-batch keeper policies, the [[VectorDedupStore.Keepers]]
    * contract on the TEXT store: `min_id` (each within-batch near-dup
    * cluster keeps its smallest id — the founding d8/d10 curation
    * default) and `max_quality` (keep the member with the HIGHEST
    * value of a declared `qualityCol`, ties → smallest id — the
    * d8b/d10 policy a real corpus cleanup wants when duplicates differ
    * in quality: truncation, boilerplate). The policy only picks WHICH
    * member of a duplicate cluster survives; the probe, banding, and
    * store schema are identical, so the quality column never enters
    * the store. Cost: one window over cluster members (duplicate mass,
    * not batch mass).
    */
  val Keepers: Set[String] = Set("min_id", "max_quality")

  /** Folds `batch` into the standing store at `table` (created on
    * first call). Returns the [[FoldResult]]: applied=false means the
    * epoch fence skipped a same-epoch replay (batchRows 0 then — the
    * skip path never scans the batch).
    */
  def maintain(spark: SparkSession, table: String, batch: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      jaccardThreshold: Double = 0.0,
      mode: Dedup.HashMode = Dedup.XxHash,
      maxBucketSize: Option[Long] = None,
      storeBuckets: Int = 0,
      epochId: Option[Long] = None,
      keeper: String = "min_id",
      qualityCol: Option[String] = None): FoldResult = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) evenly")
    require(jaccardThreshold >= 0.0 && jaccardThreshold <= 1.0,
      s"jaccardThreshold must be in [0,1], got $jaccardThreshold")
    require(storeBuckets >= 0, s"storeBuckets must be >= 0, got $storeBuckets")
    require(Keepers(keeper),
      s"keeper must be one of [${Keepers.mkString(", ")}], got '$keeper'")
    require((keeper == "max_quality") == qualityCol.isDefined,
      if (keeper == "max_quality")
        "keeper max_quality needs qualityCol (the batch column ranking " +
          "cluster members)"
      else s"qualityCol is only used by keeper max_quality (got '$keeper')")
    for (q <- qualityCol) require(batch.columns.contains(q),
      s"qualityCol '$q' not in the batch")
    // every frame this fold persists (including the CC funnel's
    // checkpoints) drains when the fold's writes are done — the store
    // is a long-lived session's gold path, not a one-query session
    val cacheMark = graft.operators.FrameCaches.mark(spark)
    try maintainImpl(spark, table, batch, idCol, textCol, shingleN,
      numHashes, bands, jaccardThreshold, mode, maxBucketSize,
      storeBuckets, epochId, keeper, qualityCol)
    finally graft.operators.FrameCaches.releaseSince(spark, cacheMark)
  }

  private def maintainImpl(spark: SparkSession, table: String,
      batch: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int,
      jaccardThreshold: Double, mode: Dedup.HashMode,
      maxBucketSize: Option[Long], storeBuckets: Int,
      epochId: Option[Long], keeper: String,
      qualityCol: Option[String]): FoldResult = {
    val bandNames = (0 until bands).map(b => s"band_$b")
    // one shingle+hash pass over the batch text; persisted — it feeds
    // the store probe, the within-batch pairs, and the final append.
    // The keeper's quality column (when declared) rides the same frame
    val baseCols = Seq(col(idCol).as("doc_id"), col(textCol).as("_text")) ++
      qualityCol.map(q => col(q).as("_q"))
    val banded = track(Dedup.withMinhashBands(
        batch.select(baseCols: _*),
        "_text", shingleN, numHashes, bands, mode)
      .drop("_text").persist())

    val exists = spark.catalog.tableExists(table)
    if (exists) {
      val meta = requireStoreSchema(spark, table,
        Seq("doc_id", "band_idx", "band_key", "sh", "_epoch"),
        "dedup-store fold", "dedup store")
      // bucket-spec drift fails HERE with the store's own diagnostic,
      // not deep inside saveAsTable(Append) with a raw Spark error
      val haveBuckets = meta.bucketSpec.map(_.numBuckets).getOrElse(0)
      require(haveBuckets == storeBuckets,
        s"dedup-store fold for '$table': storeBuckets=$storeBuckets but the " +
          s"existing store was created with " +
          (if (haveBuckets == 0) "no bucketing" else s"$haveBuckets buckets") +
          " — the bucket layout is fixed at store creation; fold with the " +
          s"store's own setting (storeBuckets=$haveBuckets) or rebuild the " +
          "store under the new layout")
      requireKnobsOn(meta, table, KnobsProperty,
        knobsValue(shingleN, numHashes, bands, mode), "dedup-store fold",
        requirePresent = false)
      if (!EpochFence.admit("dedup-store fold", table, epochId,
          committedEpoch(spark, table), BackfillReason))
        return FoldResult(applied = false, batchRows = 0L)
    }

    val fresh =
      if (!exists) banded
      else banded.join(
          storeHits(spark, table, banded, bandNames, jaccardThreshold,
            maxBucketSize),
          Seq("doc_id"), "left_anti")
        // identity guard: a doc_id ALREADY in the store never appends
        // again, whatever its content. Without it two edges duplicate
        // store rows: a crash between append and the epoch-property
        // stamp (the retry re-runs the fold) combined with a hot-band
        // cap that hides the doc's stored self from the probe, and an
        // id re-delivered with CHANGED content. Costs one thin
        // doc_id-column pass over a store the probe already scans
        .join(storedDocIds(spark, table).select("doc_id"),
          Seq("doc_id"), "left_anti")
    val freshP = track(fresh.persist())

    // within-batch near-dup clusters among the store-fresh docs; the
    // keeper policy picks each cluster's surviving member
    val pairs0 = Dedup.candidatePairs(freshP, "doc_id",
      bandNames.map(col), maxBucketSize)
    val pairs =
      if (jaccardThreshold > 0) {
        val l = freshP.select(col("doc_id").as("doc_a"), col("sh").as("_sh_a"))
        val r = freshP.select(col("doc_id").as("doc_b"), col("sh").as("_sh_b"))
        pairs0.join(l, "doc_a").join(r, "doc_b")
          .filter(Dedup.jaccard(col("_sh_a"), col("_sh_b")) >= jaccardThreshold)
          .select("doc_a", "doc_b")
      } else pairs0
    val clusters = Dedup.connectedComponents(pairs)
    // docs in no pair never enter `clusters` and survive untouched
    val nonKeepers = keeper match {
      case "max_quality" =>
        // d8b/d10's rule on the maintained store: one window per
        // cluster ranks members by the declared quality (ties →
        // smallest id); everything but rank 1 is anti-joined away
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cluster_id").orderBy(col("_q").desc, col("doc_id"))
        clusters.join(freshP.select(col("doc_id"), col("_q")), Seq("doc_id"))
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") =!= 1).select("doc_id")
      case _ => // min_id: the min-label closure's canonical id keeps
        clusters.filter(col("doc_id") =!= col("cluster_id"))
          .select("doc_id")
    }
    val survivors = freshP.join(nonKeepers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        posexplode(array(bandNames.map(col): _*))
          .as(Seq("band_idx", "band_key")),
        col("sh"))
      .withColumn("_epoch", lit(epochId.getOrElse(-1L)))
      .select("doc_id", "band_idx", "band_key", "sh", "_epoch")

    // FOUNDING folds write directly: with exists=false the survivor
    // plan reads no store table (fresh = banded) and is written once.
    // Append folds go through the store append barrier
    // (Rewrite.barrier: file sizing, and its crash posture)
    def writeTo(df: DataFrame): Unit = {
      val writer = df.write.mode(if (exists) SaveMode.Append
        else SaveMode.ErrorIfExists).format("parquet")
      (if (storeBuckets > 0) writer.bucketBy(storeBuckets, "band_key")
       else writer).saveAsTable(table)
    }
    if (!exists) writeTo(survivors)
    else writeTo(Rewrite.barrier(survivors))
    // stamp the committed epoch as a table property — the O(1) fence
    // read for every future fold (see EpochProperty) — and freeze the
    // key-affecting knobs (see KnobsProperty). ONE catalog round-trip
    // for all properties: each ALTER is a serial driver-side write
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" +
      epochId.map(id => s"'$EpochProperty' = '$id', ").getOrElse("") +
      s"'$KnobsProperty' = " +
      s"'${knobsValue(shingleN, numHashes, bands, mode)}', " +
      s"'$VerifyProperty' = 'jaccardThreshold=$jaccardThreshold')")
    spark.catalog.refreshTable(table)
    // one row per batch doc; the fold's writes materialized the cache,
    // so this count rides the in-memory frame, not a second text scan
    FoldResult(applied = true, batchRows = banded.count())
  }

  /** The store-probe stage of a fold, exposed so its plan shape is
    * pinnable: batch docs (as a [[Dedup.withMinhashBands]] frame)
    * whose exact Jaccard vs ANY stored doc reaches the threshold —
    * candidates come ONLY from the banded equi-join (band_idx,
    * band_key), never an all-pairs comparison, and the verify runs per
    * COLLISION row. Returns the distinct hit `doc_id`s.
    */
  def storeHits(spark: SparkSession, table: String, banded: DataFrame,
      bandNames: Seq[String], jaccardThreshold: Double,
      maxBucketSize: Option[Long]): DataFrame = {
    val probe = banded.select(col("doc_id"), col("sh").as("_sh_b"),
      posexplode(array(bandNames.map(col): _*))
        .as(Seq("band_idx", "band_key")))
    val store0 = spark.table(table)
      .select(col("band_idx"), col("band_key"), col("sh").as("_sh_r"))
    val store = maxBucketSize match {
      case Some(cap) =>
        val hot = track(store0.groupBy("band_idx", "band_key")
          .agg(count(lit(1)).as("_bn")).filter(col("_bn") > cap)
          .select("band_idx", "band_key").persist())
        // same degrade rule as candidatePairs: broadcast the hot
        // keys only while provably few
        val nHot = hot.count()
        if (nHot == 0) store0
        else {
          val hotSide = if (nHot <= 100000L) broadcast(hot) else hot
          store0.join(hotSide, Seq("band_idx", "band_key"), "left_anti")
        }
      case None => store0
    }
    val collisions = probe.join(store, Seq("band_idx", "band_key"))
    (if (jaccardThreshold > 0)
      collisions.filter(
        Dedup.jaccard(col("_sh_b"), col("_sh_r")) >= jaccardThreshold)
    else collisions)
      .select("doc_id").distinct()
  }

  /** READ-path membership probe — "has the accumulated corpus seen
    * this content?" WITHOUT folding: shingle+band the batch once (the
    * fold's own first stage), banded equi-join against the store,
    * exact-Jaccard verify per collision. Returns the distinct batch
    * ids that near-dup ANY stored doc. The shingle/hash knobs must
    * match the store's fold settings (same contract as the fold
    * itself — band keys are a function of them).
    */
  def probeHits(spark: SparkSession, table: String, batch: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      jaccardThreshold: Double = 0.0,
      maxBucketSize: Option[Long] = None,
      mode: Dedup.HashMode = Dedup.XxHash): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) evenly")
    require(jaccardThreshold >= 0.0 && jaccardThreshold <= 1.0,
      s"jaccardThreshold must be in [0,1], got $jaccardThreshold")
    require(maxBucketSize.forall(_ > 0),
      s"maxBucketSize must be positive when set, got ${maxBucketSize.get}")
    val meta = requireStoreSchema(spark, table,
      Seq("doc_id", "band_idx", "band_key", "sh", "_epoch"), "store probe",
      "dedup store")
    requireKnobsOn(meta, table, KnobsProperty,
      knobsValue(shingleN, numHashes, bands, mode), "store probe",
      requirePresent = true)
    warnVerifyDivergenceOn(meta, table, VerifyProperty,
      s"jaccardThreshold=$jaccardThreshold", "store probe")
    val bandNames = (0 until bands).map(b => s"band_$b")
    val banded = Dedup.withMinhashBands(
        batch.select(col(idCol).as("doc_id"), col(textCol).as("_text")),
        "_text", shingleN, numHashes, bands, mode)
      .drop("_text")
    storeHits(spark, table, banded, bandNames, jaccardThreshold,
      maxBucketSize)
  }

  /** The accumulated deduped corpus: one row per stored doc
    * (`doc_id, _epoch` — the epoch its batch folded in). Reads one
    * band slice, never the shingle arrays.
    */
  def storedDocIds(spark: SparkSession, table: String): DataFrame =
    spark.table(table).filter(col("band_idx") === 0)
      .select("doc_id", "_epoch")

  /** Band-occupancy profile of a BANDED store (text or media — any
    * table carrying `band_idx, band_key` rows), the
    * [[VectorDedupStore.OccupancyStats]] analog for the LSH families
    * and THE `maxBucketSize`-tuning / prune-cadence signal:
    *
    *  - `buckets` = distinct (band_idx, band_key) values observed;
    *  - `maxBucket` / `spreadPermille` = the biggest bucket and its
    *    size over the mean (1000·maxBucket·buckets/rows) — a
    *    boilerplate band value (license header, flat image) shows up
    *    as a spread orders of magnitude above 1000. Unlike the vector
    *    store there is no model-k denominator (the LSH key space is
    *    unbounded), so a FULLY collapsed store reads as balanced —
    *    the actionable signals for banded stores are the next two;
    *  - `hotBuckets` = buckets whose occupancy exceeds `maxBucketSize`
    *    (0 when no cap given) — each is a probe-exclusion (recall
    *    loss) TODAY;
    *  - `hotRows` = band rows inside those buckets — the probe mass
    *    the cap currently silences, i.e. what a prune or a cap re-tune
    *    would win back.
    *
    * Cost: ONE map-side-combined aggregate over the two thin band
    * columns (never `sh`/payload hashes) — cheap enough to trend
    * nightly in the control table.
    */
  final case class BandOccupancyStats(buckets: Long, rows: Long,
      maxBucket: Long, spreadPermille: Long, hotBuckets: Long,
      hotRows: Long)

  def bandOccupancyStats(spark: SparkSession, table: String,
      maxBucketSize: Option[Long] = None): BandOccupancyStats = {
    require(spark.catalog.tableExists(table),
      s"store_stats: no such table '$table'")
    val t = spark.table(table)
    require(t.columns.contains("band_idx") && t.columns.contains("band_key"),
      s"store_stats: '$table' has no band_idx/band_key columns — band " +
        "occupancy profiles a banded (text/media) dedup store; vector " +
        "stores profile per-cell via occupancyStats")
    val cap = maxBucketSize.getOrElse(Long.MaxValue)
    val occ = t.groupBy("band_idx", "band_key").agg(count(lit(1)).as("n"))
    val r = occ.agg(
      count(lit(1)).as("buckets"),
      coalesce(sum(col("n")), lit(0L)).as("rows"),
      coalesce(max(col("n")), lit(0L)).as("max_bucket"),
      coalesce(sum(when(col("n") > cap, 1L).otherwise(0L)), lit(0L))
        .as("hot"),
      coalesce(sum(when(col("n") > cap, col("n")).otherwise(0L)), lit(0L))
        .as("hot_rows")).head()
    val buckets = r.getLong(0)
    val rows = r.getLong(1)
    val maxBucket = r.getLong(2)
    // Double intermediate: banded stores have UNBOUNDED bucket counts
    // (unlike the vector store's model-k denominator), so the Long
    // product 1000*maxBucket*buckets overflows past ~9.2e15 at corpus
    // scale and would trend a negative/garbage spread in the control
    // table (round-19 advice). The permille result itself fits easily.
    val spread =
      if (rows == 0L) 0L
      else (1000.0 * maxBucket * buckets / rows).toLong
    BandOccupancyStats(buckets, rows, maxBucket, spread, r.getLong(3),
      r.getLong(4))
  }
}
