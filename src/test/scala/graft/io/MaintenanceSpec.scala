package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def table(name: String): String = {
    spark.sql("CREATE DATABASE IF NOT EXISTS maint_test")
    s"maint_test.$name"
  }

  test("compact rewrites many small files into the row-targeted count, rows intact") {
    val t = table("t_compact")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // simulate incremental-append small files: 20 single-row appends
    (1 to 20).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("k", "v")
        .write.mode("append").saveAsTable(t)
    }
    val beforeRows = spark.table(t).as[(Long, String)].collect().toSet
    assert(spark.table(t).inputFiles.length >= 20, "setup must fragment")
    val (before, after) = Maintenance.compact(spark, t, targetRowsPerFile = 10)
    assert(before >= 20 && after == 2, s"expected 20+ -> 2 files, got $before -> $after")
    assert(spark.table(t).as[(Long, String)].collect().toSet == beforeRows,
      "compaction must not change a single row")
  }

  test("additive aggregate maintained over batches equals the one-shot aggregate, any order") {
    val t1 = table("t_gold_inc")
    val t2 = table("t_gold_inc_rev")
    spark.sql(s"DROP TABLE IF EXISTS $t1")
    spark.sql(s"DROP TABLE IF EXISTS $t2")
    val b1 = Seq(("a", 10L, 1.5), ("a", 20L, 2.5), ("b", 5L, 0.5)).toDF("g", "qty", "amt")
    val b2 = Seq(("a", 1L, 0.25), ("c", 7L, 7.0)).toDF("g", "qty", "amt")
    val b3 = Seq(("b", 2L, 1.0), ("c", 3L, 3.0), ("a", 4L, 4.0)).toDF("g", "qty", "amt")
    Seq(b1, b2, b3).foreach(b =>
      Maintenance.maintainAdditiveAggregate(spark, t1, b, Seq("g"), Seq("qty", "amt")))
    Seq(b3, b1, b2).foreach(b =>
      Maintenance.maintainAdditiveAggregate(spark, t2, b, Seq("g"), Seq("qty", "amt")))
    val oneShot = b1.unionByName(b2).unionByName(b3)
      .groupBy("g")
      .agg(sum("qty").as("qty"), sum("amt").as("amt"), count(lit(1)).as("n_rows"))
      .as[(String, Long, Double, Long)].collect().toSet
    val inc = spark.table(t1).as[(String, Long, Double, Long)].collect().toSet
    val rev = spark.table(t2).as[(String, Long, Double, Long)].collect().toSet
    assert(inc == oneShot, s"incremental $inc != one-shot $oneShot")
    assert(rev == oneShot, "batch order must not matter (commutativity)")
  }

  test("vacuumStaging removes staging debris; tables survive") {
    val t = table("t_vacuum")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // leave real staging debris the way a final upsert run does
    Upsert.upsertTable(spark, t, Seq((1, "a")).toDF("k", "v"), Seq("k"))
    Upsert.upsertTable(spark, t, Seq((2, "b")).toDF("k", "v"), Seq("k"))
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    assert(wh.listFiles().exists(_.getName == "__upsert_stage"),
      "setup: the staged merge must have left its scratch root")
    val removed = Maintenance.vacuumStaging(spark)
    assert(removed >= 1, "must remove at least the upsert stage")
    assert(!wh.listFiles().exists(f => f.getName.startsWith("__") &&
      f.getName.endsWith("_stage")), "all staging roots gone")
    assert(spark.table(t).count() == 2, "the table itself must be untouched")
  }

  test("evolving upsert widens the table for a new column, pads a missing one") {
    val t = table("t_evolve")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Upsert.upsertTable(spark, t, Seq((1, "a"), (2, "b")).toDF("k", "v"), Seq("k"))
    // batch adds column w: table widens; old rows read w as NULL
    Upsert.upsertTableEvolving(spark, t,
      Seq((2, "b2", 20.0), (3, "c", 30.0)).toDF("k", "v", "w"), Seq("k"))
    val rows = spark.table(t)
      .select("k", "v", "w").as[(Int, String, Option[Double])].collect().toSet
    assert(rows == Set((1, "a", None), (2, "b2", Some(20.0)), (3, "c", Some(30.0))),
      s"got $rows")
    // a later batch MISSING w still merges; its rows carry NULL w
    Upsert.upsertTableEvolving(spark, t, Seq((4, "d")).toDF("k", "v"), Seq("k"))
    val rows2 = spark.table(t)
      .select("k", "v", "w").as[(Int, String, Option[Double])].collect().toSet
    assert(rows2 == rows + ((4, "d", None)), s"got $rows2")
  }

  test("evolving upsert rejects a type conflict instead of silently coercing") {
    val t = table("t_evolve_conflict")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Upsert.upsertTable(spark, t, Seq((1, "a")).toDF("k", "v"), Seq("k"))
    val e = intercept[IllegalArgumentException] {
      Upsert.upsertTableEvolving(spark, t,
        Seq((2, 2.5)).toDF("k", "v"), Seq("k")) // v: STRING in table, DOUBLE in batch
    }
    assert(e.getMessage.contains("type conflict") && e.getMessage.contains("v"),
      s"unexpected: ${e.getMessage}")
    assert(spark.table(t).count() == 1, "the failed merge must not touch the table")
  }

  test("maintained aggregate folds NULL grouping keys instead of duplicating them") {
    // round-10 advice: a plain USING full_outer never matches null keys,
    // so each batch appended a fresh null-key row — the <=> join must
    // fold them into ONE standing row, preserving N batches ≡ one agg
    val t = table("t_gold_nullkey")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val b1 = Seq((Option("a"), 10L), (Option.empty[String], 5L)).toDF("g", "qty")
    val b2 = Seq((Option.empty[String], 7L), (Option("a"), 1L)).toDF("g", "qty")
    val b3 = Seq((Option.empty[String], 3L)).toDF("g", "qty")
    Seq(b1, b2, b3).foreach(b =>
      Maintenance.maintainAdditiveAggregate(spark, t, b, Seq("g"), Seq("qty")))
    val rows = spark.table(t).as[(Option[String], Long, Long)].collect().toSet
    assert(rows == Set((Some("a"), 11L, 2L), (None, 15L, 3L)),
      s"null-key group must fold into one row: $rows")
  }

  test("compact preserves a partitioned table's partition spec and pruning") {
    // round-10 advice: the rewrite must re-apply partitionBy, or every
    // later scan loses partition pruning while compact reports success
    val t = table("t_compact_part")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    (1 to 10).foreach { i =>
      Seq((i.toLong, s"v$i", if (i % 2 == 0) "even" else "odd"))
        .toDF("k", "v", "p")
        .write.mode("append").partitionBy("p").saveAsTable(t)
    }
    val beforeRows = spark.table(t).as[(Long, String, String)].collect().toSet
    val (_, _) = Maintenance.compact(spark, t, targetRowsPerFile = 100)
    val partCols = spark.catalog.listColumns(t).collect()
      .filter(_.isPartition).map(_.name).toSeq
    assert(partCols == Seq("p"), s"partition spec lost: $partCols")
    assert(spark.table(t).as[(Long, String, String)].collect().toSet == beforeRows)
    // pruning still works: a p-filter scans only that partition's files
    val scanned = spark.table(t).filter(col("p") === "even").inputFiles
    assert(scanned.nonEmpty && scanned.forall(_.contains("p=even")),
      s"partition pruning lost after compact: ${scanned.mkString(", ")}")
  }

  test("insert-only extremes: N batches equal the one-shot min/max, any order") {
    val t1 = table("t_gold_minmax")
    val t2 = table("t_gold_minmax_rev")
    spark.sql(s"DROP TABLE IF EXISTS $t1")
    spark.sql(s"DROP TABLE IF EXISTS $t2")
    val b1 = Seq(("a", 10L, 1.5), ("a", 3L, 9.0), ("b", 5L, 0.5)).toDF("g", "qty", "amt")
    val b2 = Seq(("a", 1L, 0.25), ("c", 7L, 7.0)).toDF("g", "qty", "amt")
    val b3 = Seq(("b", 2L, 1.0), ("c", 3L, 3.0), ("a", 44L, 4.0)).toDF("g", "qty", "amt")
    Seq(b1, b2, b3).foreach(b => Maintenance.maintainInsertOnlyExtremes(
      spark, t1, b, Seq("g"), minCols = Seq("qty"), maxCols = Seq("qty", "amt")))
    Seq(b3, b1, b2).foreach(b => Maintenance.maintainInsertOnlyExtremes(
      spark, t2, b, Seq("g"), minCols = Seq("qty"), maxCols = Seq("qty", "amt")))
    val oneShot = b1.unionByName(b2).unionByName(b3)
      .groupBy("g")
      .agg(min("qty").as("min_qty"), max("qty").as("max_qty"),
        max("amt").as("max_amt"), count(lit(1)).as("n_rows"))
      .as[(String, Long, Long, Double, Long)].collect().toSet
    val inc = spark.table(t1).select("g", "min_qty", "max_qty", "max_amt", "n_rows")
      .as[(String, Long, Long, Double, Long)].collect().toSet
    val rev = spark.table(t2).select("g", "min_qty", "max_qty", "max_amt", "n_rows")
      .as[(String, Long, Long, Double, Long)].collect().toSet
    assert(inc == oneShot, s"incremental $inc != one-shot $oneShot")
    assert(rev == oneShot, "batch order must not matter")
  }

  test("compact preserves a bucketed table's bucket spec and shuffle-free join") {
    val t = table("t_compact_bucket")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    (1 to 6).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("k", "v")
        .write.mode("append").bucketBy(4, "k").sortBy("k").saveAsTable(t)
    }
    val beforeRows = spark.table(t).as[(Long, String)].collect().toSet
    Maintenance.compact(spark, t, targetRowsPerFile = 100)
    val bs = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t)).bucketSpec
    assert(bs.exists(b => b.numBuckets == 4 && b.bucketColumnNames == Seq("k")),
      s"bucket spec lost after compact: $bs")
    assert(spark.table(t).as[(Long, String)].collect().toSet == beforeRows)
    // the point of preserving buckets: a self-join on the bucket key
    // still plans without a shuffle exchange
    val joined = spark.table(t).join(spark.table(t).withColumnRenamed("v", "v2"), "k")
    val shuffles = joined.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      s"bucketed join must stay shuffle-free after compact:\n${joined.queryExecution.executedPlan}")
  }

  test("epoch-stamped fold is replay-idempotent (the streaming sink's contract)") {
    // foreachBatch is at-least-once: a crash-replayed epoch re-arrives;
    // the id committed WITH the data must turn the second apply into a
    // no-op, while a NEW epoch still folds
    val t = table("t_gold_epoch")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val b1 = Seq(("a", 10L), ("b", 5L)).toDF("g", "qty")
    Maintenance.maintainAdditiveAggregate(spark, t, b1, Seq("g"), Seq("qty"),
      epochId = Some(0L))
    Maintenance.maintainAdditiveAggregate(spark, t, b1, Seq("g"), Seq("qty"),
      epochId = Some(0L)) // replay — must not double-count
    val after0 = spark.table(t).select("g", "qty", "n_rows")
      .as[(String, Long, Long)].collect().toSet
    assert(after0 == Set(("a", 10L, 1L), ("b", 5L, 1L)),
      s"replayed epoch double-counted: $after0")
    Maintenance.maintainAdditiveAggregate(spark, t,
      Seq(("a", 1L)).toDF("g", "qty"), Seq("g"), Seq("qty"),
      epochId = Some(1L)) // a new epoch folds normally
    val after1 = spark.table(t).select("g", "qty", "n_rows")
      .as[(String, Long, Long)].collect().toSet
    assert(after1 == Set(("a", 11L, 2L), ("b", 5L, 1L)), after1.toString)
  }

  test("an OLDER epoch fails loudly instead of silently dropping a backfill") {
    // round-11 advice: epoch < committed is a late backfill, not a
    // replay — skipping it would be data loss recorded as success (the
    // layer's audit row would log SUCCESS with 0 records); the fold
    // must throw so per-item isolation surfaces the failure
    val t = table("t_gold_backfill")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Maintenance.maintainAdditiveAggregate(spark, t,
      Seq(("a", 10L)).toDF("g", "qty"), Seq("g"), Seq("qty"),
      epochId = Some(5L))
    val e = intercept[IllegalStateException] {
      Maintenance.maintainAdditiveAggregate(spark, t,
        Seq(("a", 3L)).toDF("g", "qty"), Seq("g"), Seq("qty"),
        epochId = Some(3L))
    }
    assert(e.getMessage.contains("OLDER") && e.getMessage.contains("3"),
      s"unexpected: ${e.getMessage}")
    assert(spark.table(t).select("g", "qty").as[(String, Long)]
      .collect().toSet == Set(("a", 10L)), "failed fold must not touch the table")
  }

  test("a batch-path fold preserves a streaming-built table's epoch marker") {
    // round-11 advice: epochId = None against a table the streaming
    // sink built must NOT strip _last_epoch — a later crash-replay of
    // that epoch would then double-count
    val t = table("t_gold_mixed_path")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Maintenance.maintainAdditiveAggregate(spark, t,
      Seq(("a", 10L)).toDF("g", "qty"), Seq("g"), Seq("qty"),
      epochId = Some(7L))
    Maintenance.maintainAdditiveAggregate(spark, t,
      Seq(("a", 5L)).toDF("g", "qty"), Seq("g"), Seq("qty")) // batch path
    assert(spark.table(t).columns.contains("_last_epoch"),
      "batch-path fold stripped the replay-idempotence marker")
    assert(spark.table(t).agg(max($"_last_epoch")).as[Long].head() == 7L,
      "the committed epoch must survive the batch-path fold")
    // the preserved marker still fences a replay of epoch 7
    val folded = Maintenance.maintainAdditiveAggregate(spark, t,
      Seq(("a", 999L)).toDF("g", "qty"), Seq("g"), Seq("qty"),
      epochId = Some(7L))
    assert(!folded, "replayed epoch must still no-op after a batch-path fold")
    assert(spark.table(t).select("g", "qty").as[(String, Long)]
      .collect().toSet == Set(("a", 15L)), "replay leaked into the standing sums")
  }

  test("an epoch-stamped fold into a marker-less table gains the marker, then fences a replay") {
    val t = table("t_gold_late_marker")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Maintenance.maintainAdditiveAggregate(spark, t,
      Seq(("a", 10L)).toDF("g", "qty"), Seq("g"), Seq("qty"))
    assert(!spark.table(t).columns.contains("_last_epoch"), "setup: no marker")
    assert(Maintenance.maintainAdditiveAggregate(spark, t,
      Seq(("a", 1L)).toDF("g", "qty"), Seq("g"), Seq("qty"),
      epochId = Some(3L)))
    assert(spark.table(t).agg(max($"_last_epoch")).as[Long].head() == 3L,
      "the epoch-stamped fold must add the marker column")
    assert(!Maintenance.maintainAdditiveAggregate(spark, t,
      Seq(("a", 1L)).toDF("g", "qty"), Seq("g"), Seq("qty"),
      epochId = Some(3L)), "a same-epoch replay must skip")
    assert(spark.table(t).select("g", "qty", "n_rows").as[(String, Long, Long)]
      .collect().toSet == Set(("a", 11L, 2L)))
  }

  test("a decimal additive fold keeps the standing column type") {
    val t = table("t_gold_decimal")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val batch = Seq(("a", BigDecimal("1.25"))).toDF("g", "amt")
      .select($"g", $"amt".cast("decimal(10,2)").as("amt"))
    Maintenance.maintainAdditiveAggregate(spark, t, batch, Seq("g"), Seq("amt"))
    val standing = spark.table(t).schema("amt").dataType
    Maintenance.maintainAdditiveAggregate(spark, t, batch, Seq("g"), Seq("amt"))
    assert(spark.table(t).schema("amt").dataType == standing)
    assert(spark.table(t).select("amt").as[BigDecimal].head() == BigDecimal("2.50"))
  }

  test("compact splits a hot partition value across files (target honored within value)") {
    val t = table("t_compact_hot")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // hot value: 500 rows vs cold: 10 — target 100 must give p=hot >= 4
    // files instead of funneling it through one task/file
    val hot = spark.range(500).selectExpr("id AS k", "'v' AS v", "'hot' AS p")
    val cold = spark.range(10).selectExpr("id + 1000 AS k", "'v' AS v", "'cold' AS p")
    hot.unionByName(cold).write.partitionBy("p").saveAsTable(t)
    val before = spark.table(t).as[(Long, String, String)].collect().toSet
    Maintenance.compact(spark, t, targetRowsPerFile = 100)
    assert(spark.table(t).as[(Long, String, String)].collect().toSet == before)
    val hotFiles = spark.table(t).filter($"p" === "hot").inputFiles.length
    assert(hotFiles >= 5,
      s"hot partition must split into >= 500/100 files, got $hotFiles")
    val coldFiles = spark.table(t).filter($"p" === "cold").inputFiles.length
    assert(coldFiles == 1, s"cold partition should compact to 1, got $coldFiles")
  }

  test("maintained aggregate grows keys without touching unrelated ones") {
    val t = table("t_gold_keys")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Maintenance.maintainAdditiveAggregate(spark, t,
      Seq(("x", 1L)).toDF("g", "qty"), Seq("g"), Seq("qty"))
    Maintenance.maintainAdditiveAggregate(spark, t,
      Seq(("y", 2L)).toDF("g", "qty"), Seq("g"), Seq("qty"))
    val rows = spark.table(t).as[(String, Long, Long)].collect().toSet
    assert(rows == Set(("x", 1L, 1L), ("y", 2L, 1L)), s"got $rows")
  }

  test("join view: N delta steps equal the wholesale re-join, including ΔA⋈ΔB") {
    val ta = table("t_jv_a"); val tb = table("t_jv_b"); val v = table("t_jv")
    Seq(ta, tb, v).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Seq((1L, "a1"), (2L, "a2")).toDF("k", "av").write.saveAsTable(ta)
    Seq((1L, 10L), (3L, 30L)).toDF("k", "bv").write.saveAsTable(tb)
    // step 1: create with a pending left batch (bases pre-append)
    val dA1 = Seq((3L, "a3")).toDF("k", "av")
    assert(Maintenance.maintainJoinView(spark, v, ta, tb, Seq("k"),
      Some(dA1), None))
    dA1.write.mode("append").saveAsTable(ta)
    // step 2: both sides batch; key 4 joins ONLY within the step (the
    // ΔA⋈ΔB term a two-term delta rule drops), key 2 joins standing A
    val dA2 = Seq((4L, "a4"), (5L, "a5")).toDF("k", "av")
    val dB2 = Seq((4L, 40L), (2L, 20L)).toDF("k", "bv")
    assert(Maintenance.maintainJoinView(spark, v, ta, tb, Seq("k"),
      Some(dA2), Some(dB2)))
    dA2.write.mode("append").saveAsTable(ta)
    dB2.write.mode("append").saveAsTable(tb)
    val wholesale = spark.table(ta).join(spark.table(tb), Seq("k"))
      .as[(Long, String, Long)].collect().toSet
    val maintained = spark.table(v).as[(Long, String, Long)].collect().toSet
    assert(maintained == wholesale, s"$maintained != $wholesale")
    assert(wholesale.map(_._1) == Set(1L, 2L, 3L, 4L), "scenario sanity")
  }

  test("join view post-append mode: bases already holding the batches don't double-count") {
    val ta = table("t_jvp_a"); val tb = table("t_jvp_b"); val v = table("t_jvp")
    Seq(ta, tb, v).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Seq((1L, "a1"), (2L, "a2")).toDF("k", "av").write.saveAsTable(ta)
    Seq((1L, 10L)).toDF("k", "bv").write.saveAsTable(tb)
    assert(Maintenance.maintainJoinView(spark, v, ta, tb, Seq("k"),
      None, None, basesIncludeBatches = true))
    // the declarative sequencing: silver appends FIRST, gold folds after.
    // key 4 exists only in this step's two batches — the ΔA⋈ΔB overlap
    // that the post-append rule must subtract exactly once
    val dA = Seq((4L, "a4")).toDF("k", "av")
    val dB = Seq((4L, 40L), (2L, 20L)).toDF("k", "bv")
    dA.write.mode("append").saveAsTable(ta)
    dB.write.mode("append").saveAsTable(tb)
    assert(Maintenance.maintainJoinView(spark, v, ta, tb, Seq("k"),
      Some(dA), Some(dB), basesIncludeBatches = true))
    val wholesale = spark.table(ta).join(spark.table(tb), Seq("k"))
      .as[(Long, String, Long)].collect().toSet
    val maintained = spark.table(v).as[(Long, String, Long)].collect().toSeq
    assert(maintained.toSet == wholesale, s"$maintained != $wholesale")
    assert(maintained.size == wholesale.size,
      s"no bag-duplicates either: $maintained")
  }

  test("join view: epoch fence — replay skips, older throws, batch path keeps marker") {
    val ta = table("t_jve_a"); val tb = table("t_jve_b"); val v = table("t_jve")
    Seq(ta, tb, v).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Seq((1L, "a1")).toDF("k", "av").write.saveAsTable(ta)
    Seq((1L, 10L), (2L, 20L)).toDF("k", "bv").write.saveAsTable(tb)
    assert(Maintenance.maintainJoinView(spark, v, ta, tb, Seq("k"),
      Some(Seq((2L, "a2")).toDF("k", "av")), None, epochId = Some(7L)))
    val afterCreate = spark.table(v).count()
    // same epoch re-delivered (foreachBatch crash replay): no-op
    assert(!Maintenance.maintainJoinView(spark, v, ta, tb, Seq("k"),
      Some(Seq((2L, "a2")).toDF("k", "av")), None, epochId = Some(7L)))
    assert(spark.table(v).count() == afterCreate, "replay must not append")
    // older epoch: loud failure, never a silent drop
    val e = intercept[IllegalStateException] {
      Maintenance.maintainJoinView(spark, v, ta, tb, Seq("k"),
        Some(Seq((9L, "a9")).toDF("k", "av")), None, epochId = Some(3L))
    }
    assert(e.getMessage.contains("OLDER"))
    // batch path (no epoch) against the epoch-built view keeps the marker
    assert(Maintenance.maintainJoinView(spark, v, ta, tb, Seq("k"),
      None, Some(Seq((1L, 11L)).toDF("k", "bv"))))
    val marks = spark.table(v).select(max(col("_last_epoch")))
      .as[Long].head()
    assert(marks == 7L, "the committed epoch must survive a batch-path append")
  }

  test("join view: epoch'd fold on a marker-less view and column overlap both refuse") {
    val ta = table("t_jvr_a"); val tb = table("t_jvr_b"); val v = table("t_jvr")
    Seq(ta, tb, v).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Seq((1L, "x")).toDF("k", "av").write.saveAsTable(ta)
    Seq((1L, 5L)).toDF("k", "bv").write.saveAsTable(tb)
    assert(Maintenance.maintainJoinView(spark, v, ta, tb, Seq("k"),
      Some(Seq((2L, "y")).toDF("k", "av")), None))
    val e = intercept[IllegalStateException] {
      Maintenance.maintainJoinView(spark, v, ta, tb, Seq("k"),
        Some(Seq((3L, "z")).toDF("k", "av")), None, epochId = Some(1L))
    }
    assert(e.getMessage.contains("without epoch fencing"))
    // overlapping non-key columns: refuse, never silently disambiguate
    val tc = table("t_jvr_c")
    spark.sql(s"DROP TABLE IF EXISTS $tc")
    Seq((1L, "w")).toDF("k", "av").write.saveAsTable(tc)
    val e2 = intercept[IllegalArgumentException] {
      Maintenance.maintainJoinView(spark, table("t_jvr2"), ta, tc, Seq("k"),
        Some(Seq((2L, "q")).toDF("k", "av")), None)
    }
    assert(e2.getMessage.contains("disjoint"))
  }

  private def dvBatch(rows: (String, Long)*) = rows.toDF("g", "item")

  test("distinct view folds to the one-shot registers in ANY order; replays and backfills are no-ops by algebra") {
    val t1 = table("t_dv"); val t2 = table("t_dv_rev")
    Seq(t1, t2).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val b1 = dvBatch(("a", 1L), ("a", 2L), ("b", 1L))
    val b2 = dvBatch(("a", 2L), ("a", 3L), ("c", 9L))
    val b3 = dvBatch(("b", 7L), ("a", 1L))
    Seq(b1, b2, b3).foreach(b =>
      Maintenance.maintainDistinctView(spark, t1, b, Seq("g"), "item"))
    Seq(b3, b1, b2).foreach(b =>
      Maintenance.maintainDistinctView(spark, t2, b, Seq("g"), "item"))
    def regs(t: String) = spark.table(t).select("g", "bucket", "rho")
      .as[(String, Long, Long)].collect().toSet
    val oneShot = graft.operators.Sketches.hllRegistersBy(
        b1.unionByName(b2).unionByName(b3), Seq("g"), col("item"), 64)
      .as[(String, Long, Long)].collect().toSet
    assert(regs(t1) == oneShot && regs(t2) == oneShot,
      "N batches in any order must equal the one-shot register build")
    // max-merge is idempotent: replaying an OLD batch (not just the
    // latest) leaves the registers bit-identical — the reason this
    // family needs no epoch fence
    Maintenance.maintainDistinctView(spark, t1, b1, Seq("g"), "item")
    assert(regs(t1) == oneShot, "an out-of-order replay must be a no-op")
  }

  test("distinct view estimate tracks the exact per-key distinct count") {
    val t = table("t_dv_est")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // key 'hi' sees 400 distinct items across two overlapping batches,
    // 'lo' sees 12
    val b1 = (1 to 250).map(i => ("hi", i.toLong)) ++
      (1 to 8).map(i => ("lo", i.toLong))
    val b2 = (151 to 400).map(i => ("hi", i.toLong)) ++
      (5 to 12).map(i => ("lo", i.toLong))
    Maintenance.maintainDistinctView(spark, t, b1.toDF("g", "item"), Seq("g"), "item")
    Maintenance.maintainDistinctView(spark, t, b2.toDF("g", "item"), Seq("g"), "item")
    val est = Maintenance.distinctViewEstimate(spark, t, Seq("g"))
      .select("g", "est", "n_empty").as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(math.abs(est("hi")._1 - 400.0) / 400.0 < 0.35,
      s"raw HLL at m=64 should land within ~3 standard errors: ${est("hi")._1}")
    // the raw estimator overshoots far below m — that is WHY n_empty is
    // exposed: linear counting m*ln(m/n_empty) is the small-range read
    val lc = 64.0 * math.log(64.0 / est("lo")._2)
    assert(math.abs(lc - 12.0) < 6.0,
      s"linear counting should land near the 12 true distincts: $lc")
    // the registers stay bounded: at most m rows per key, forever
    val maxRegs = spark.table(t).groupBy("g").count()
      .agg(max("count")).head.getLong(0)
    assert(maxRegs <= 64, s"register table must stay <= m rows/key, got $maxRegs")
  }

  test("quantile view folds to the one-shot sketch in any order; fence skips replays, rejects backfills") {
    val t1 = table("t_qv"); val t2 = table("t_qv_rev")
    Seq(t1, t2).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val b1 = Seq(("a", 100L), ("a", 250L), ("b", 7L)).toDF("g", "cents")
    val b2 = Seq(("a", 9000L), ("b", 7L), ("b", 60L)).toDF("g", "cents")
    val b3 = Seq(("a", 100L), ("c", 12345L)).toDF("g", "cents")
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      assert(Maintenance.maintainQuantileView(spark, t1, b, Seq("g"), "cents",
        epochId = Some(i.toLong)))
    }
    // order flip (no epochs — library batch path) still equals one-shot
    Seq(b3, b1, b2).foreach(b =>
      Maintenance.maintainQuantileView(spark, t2, b, Seq("g"), "cents"))
    val oneShot = graft.operators.Sketches.hdrSketchBy(
        b1.unionByName(b2).unionByName(b3), Seq("g"), col("cents"))
      .as[(String, Long, Long)].collect().toSet
    def regs(t: String) = spark.table(t).select("g", "bkey", "cnt")
      .as[(String, Long, Long)].collect().toSet
    assert(regs(t1) == oneShot && regs(t2) == oneShot)
    // same-epoch replay no-ops; older epoch throws (counts ADD)
    assert(!Maintenance.maintainQuantileView(spark, t1, b3, Seq("g"), "cents",
      epochId = Some(2L)))
    assert(regs(t1) == oneShot, "replayed epoch must not double-count")
    val e = intercept[IllegalStateException] {
      Maintenance.maintainQuantileView(spark, t1, b1, Seq("g"), "cents",
        epochId = Some(0L))
    }
    assert(e.getMessage.contains("OLDER"), e.getMessage)
  }

  test("quantile view readback: exact in the singleton region, within 6.25% above it") {
    val t = table("t_qv_est")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // key 'x': 1..1000 cents uniformly; key 'y': small exact values
    val b1 = (1L to 500L).map(("x", _)) ++ Seq(("y", 3L), ("y", 9L))
    val b2 = (501L to 1000L).map(("x", _)) ++ Seq(("y", 27L))
    Maintenance.maintainQuantileView(spark, t, b1.toDF("g", "cents"), Seq("g"), "cents")
    Maintenance.maintainQuantileView(spark, t, b2.toDF("g", "cents"), Seq("g"), "cents")
    val est = Maintenance.quantileViewEstimate(spark, t, Seq("g"), Seq(500, 900))
      .as[(String, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(math.abs(est(("x", 500)) - 500.0) / 500.0 <= 0.0625,
      s"p50 of 1..1000 within the 6.25% envelope: ${est(("x", 500))}")
    assert(math.abs(est(("x", 900)) - 900.0) / 900.0 <= 0.0625,
      s"p90 within the envelope: ${est(("x", 900))}")
    // values < 2^5 sit in exact singleton buckets
    assert(est(("y", 500)) == 9L && est(("y", 900)) == 27L,
      s"singleton region is exact: ${est.filter(_._1._1 == "y")}")
  }

  test("distinct view refuses a standing table that is not its register shape") {
    val t = table("t_dv_shape")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Seq((1L, "x")).toDF("k", "v").write.saveAsTable(t)
    val e = intercept[IllegalArgumentException] {
      Maintenance.maintainDistinctView(spark, t, dvBatch(("a", 1L)), Seq("g"), "item")
    }
    assert(e.getMessage.contains("register shape"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Maintenance.maintainDistinctView(spark, table("t_dv_m"),
        dvBatch(("a", 1L)), Seq("g"), "item", m = 128)
    }
    assert(e2.getMessage.contains("alpha"), e2.getMessage)
    // a config drift in m between runs must refuse, never merge two
    // register spaces into garbage estimates (review finding)
    val td = table("t_dv_drift")
    spark.sql(s"DROP TABLE IF EXISTS $td")
    Maintenance.maintainDistinctView(spark, td, dvBatch(("a", 1L)), Seq("g"),
      "item", m = 64)
    val e3 = intercept[IllegalStateException] {
      Maintenance.maintainDistinctView(spark, td, dvBatch(("a", 2L)), Seq("g"),
        "item", m = 16)
    }
    assert(e3.getMessage.contains("register spaces"), e3.getMessage)
  }

  test("pruneStore drops epochs behind the window; surviving probes unchanged; specs + fence survive") {
    val t = table("prune_text_store")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    // three folds into a BUCKETED store: distinct content per epoch
    DedupStore.maintain(spark, t, docs(1L -> "alpha bravo charlie delta"),
      "doc_id", "text", storeBuckets = 4, epochId = Some(100L))
    DedupStore.maintain(spark, t, docs(2L -> "echo foxtrot golf hotel"),
      "doc_id", "text", storeBuckets = 4, epochId = Some(101L))
    DedupStore.maintain(spark, t, docs(3L -> "india juliet kilo lima"),
      "doc_id", "text", storeBuckets = 4, epochId = Some(102L))
    val preSurvivors = spark.table(t).filter($"_epoch" > 100L)
      .orderBy("doc_id", "band_idx").collect().toSeq
    // keep 2 epochs anchored at the committed (102): 101,102 survive
    val (deleted, kept) = Maintenance.pruneStore(spark, t, keepEpochs = 2L)
    assert(deleted > 0L && kept > 0L, s"($deleted, $kept)")
    assert(spark.table(t).orderBy("doc_id", "band_idx").collect().toSeq
      == preSurvivors,
      "pruning is a pure _epoch filter: surviving rows bit-identical")
    // the layout spec and the O(1) epoch fence survive the rewrite
    assert(spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(t))
      .bucketSpec.map(_.numBuckets).contains(4),
      "bucket spec must survive the prune rewrite")
    assert(DedupStore.committedEpoch(spark, t).contains(102L),
      "the epoch fence property must survive the prune rewrite")
    // retention semantics, both directions: content alive in the
    // window still dedups; content whose only copy was pruned (and its
    // identity guard with it) re-admits as fresh
    val f = DedupStore.maintain(spark, t,
      docs(20L -> "echo foxtrot golf hotel", 1L -> "alpha bravo charlie delta"),
      "doc_id", "text", storeBuckets = 4, epochId = Some(103L))
    assert(f.applied)
    val ids = DedupStore.storedDocIds(spark, t)
      .select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(20L), "surviving-window content still probes")
    assert(ids.contains(1L), "pruned content re-admits (the retention trade)")
  }

  test("pruneStore on the vector store leaves the frozen model untouched") {
    val t = table("prune_vec_store")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_model")
    def vecs(rows: (Long, Array[Float])*) = rows.toDF("vec_id", "embedding")
    val vA = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val vB = Array(0.0f, 1.0f, 0.0f, 0.0f)
    VectorDedupStore.maintain(spark, t, vecs(1L -> vA), "vec_id",
      "embedding", 12000L, numCentroids = 1, nprobe = 1, epochId = Some(200L))
    VectorDedupStore.maintain(spark, t, vecs(2L -> vB), "vec_id",
      "embedding", 12000L, numCentroids = 1, nprobe = 1, epochId = Some(201L))
    val model = spark.table(s"${t}_model").collect().toSeq
    val (deleted, kept) = Maintenance.pruneStore(spark, t, keepEpochs = 1L)
    assert(deleted == 1L && kept == 1L, s"($deleted, $kept)")
    assert(VectorDedupStore.storedVecIds(spark, t)
      .select("vec_id").as[Long].collect().toSeq == Seq(2L))
    assert(spark.table(s"${t}_model").collect().toSeq == model,
      "the calibration model is not retention-managed")
    assert(DedupStore.committedEpoch(spark, t).contains(201L))
  }

  test("pruneStore refusals: no _epoch column, no committed epoch, bad window") {
    val t = table("prune_foreign")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Seq((1L, "x")).toDF("k", "v").write.saveAsTable(t)
    val e1 = intercept[IllegalArgumentException] {
      Maintenance.pruneStore(spark, t, keepEpochs = 1L)
    }
    assert(e1.getMessage.contains("no _epoch column"), e1.getMessage)
    val t2 = table("prune_unfolded")
    spark.sql(s"DROP TABLE IF EXISTS $t2")
    spark.emptyDataset[Long].toDF("_epoch").write.saveAsTable(t2)
    val e2 = intercept[IllegalStateException] {
      Maintenance.pruneStore(spark, t2, keepEpochs = 1L)
    }
    assert(e2.getMessage.contains("no committed epoch"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      Maintenance.pruneStore(spark, t, keepEpochs = 0L)
    }
    assert(e3.getMessage.contains("keepEpochs"), e3.getMessage)
  }

  test("bandOccupancyStats profiles a planted hot band; guards refuse non-banded tables") {
    val t = table("t_band_stats")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // a text store whose batch plants one boilerplate band value:
    // docs 1..6 share textA's content exactly in band terms only if
    // their text matches — plant it directly instead: 6 rows in one
    // (band_idx, band_key) bucket, 4 spread across distinct buckets
    val rows =
      (1L to 6L).map(i => (i, 0, "hotkey", Seq(i), 1L)) ++
        (7L to 10L).map(i => (i, 0, s"cold$i", Seq(i), 1L))
    rows.toDF("doc_id", "band_idx", "band_key", "sh", "_epoch")
      .write.saveAsTable(t)
    val s = DedupStore.bandOccupancyStats(spark, t, Some(3L))
    // 5 buckets, 10 rows, max 6: spread = 1000*6*5/10 = 3000; one hot
    // bucket carrying 6 rows of silenced probe mass
    assert(s == DedupStore.BandOccupancyStats(5L, 10L, 6L, 3000L, 1L, 6L),
      s.toString)
    // no cap: nothing is hot, the profile itself is unchanged
    val s2 = DedupStore.bandOccupancyStats(spark, t)
    assert(s2.hotBuckets == 0L && s2.hotRows == 0L &&
      s2.spreadPermille == 3000L, s2.toString)
    // a vector store (no band columns) refuses with the named error
    val tv = table("t_band_stats_vec")
    spark.sql(s"DROP TABLE IF EXISTS $tv")
    Seq((1L, Seq(1L), 0L, 1L)).toDF("vec_id", "qv", "cell", "_epoch")
      .write.saveAsTable(tv)
    assert(intercept[IllegalArgumentException] {
      DedupStore.bandOccupancyStats(spark, tv)
    }.getMessage.contains("band_idx"))
    assert(intercept[IllegalArgumentException] {
      DedupStore.bandOccupancyStats(spark, table("t_band_stats_none"))
    }.getMessage.contains("no such table"))
  }
}
