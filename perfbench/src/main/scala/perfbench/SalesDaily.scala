package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.layers._
import graft.pipeline.{Main, Pipeline}
import graft.util.DemoDataGenerator

/** `sales_daily`: the reference medallion (`configs/demo`) over
  * generated inputs. One cycle is a cold dated run on an empty
  * warehouse, whose gold tables are checked against a recomputation
  * from the landing files. After the timed cycles a fresh session
  * re-opens the warehouse for the next date (the restart probe).
  */
final class SalesDaily(opts: Opts, listener: JobListener) {
  import SalesDaily._
  private val dates = Seq("2024-03-01", "2024-03-02")
  private val (nTx, nCust, nProd) =
    if (opts.tiny) (2000L, 200L, 50L) else (150000L, 20000L, 5000L)
  private val wh = s"${opts.work}/warehouse"
  private val landing = s"${opts.work}/landing"
  /** The stock `configs/demo` layers plus the benchmark's maintenance
    * layer over their tables, assembled in the run's work directory.
    */
  private val configDir = s"${opts.work}/configs"
  private val layerOrder = Seq("bronze", "silver", "gold", "maintenance")

  def run(): WorkloadResult = {
    Files.createDirectories(Paths.get(configDir))
    Seq("bronze", "silver", "gold").foreach { l =>
      Files.copy(Paths.get(s"${opts.repo}/configs/demo/${l}_config.yaml"),
        Paths.get(s"$configDir/${l}_config.yaml"))
    }
    Files.copy(Paths.get(s"${opts.repo}/perfbench/configs/maintenance_config.yaml"),
      Paths.get(s"$configDir/maintenance_config.yaml"))
    var spark = Harness.session(opts, wh, listener)
    val sessionReadyS = (System.currentTimeMillis() - opts.launchMs) / 1e3
    val stage0 = System.nanoTime()
    stage(spark)
    val stageS = Harness.sinceS(stage0)
    val setupS = sessionReadyS + stageS
    Harness.mark(opts, "inputs staged")
    val inputBytes = Harness.dirBytes(landing)
    val filesPerOp = mutable.ArrayBuffer.empty[Long]
    val bytesPerOp = mutable.ArrayBuffer.empty[Long]

    val ops = mutable.ArrayBuffer.empty[OpResult]
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    val loop0 = System.nanoTime()
    do {
      val cycle = cycles.size
      resetWarehouse(spark)
      listener.clear()
      val tracer = if (opts.trace) Some(new Tracer(s"sales_daily-${opts.seed}-$cycle")) else None
      val layerFiles = mutable.HashMap.empty[Int, (Long, Long)]
      val gc0 = Harness.gcS()
      val before = Harness.walk(wh)
      val sinceMs = System.currentTimeMillis()
      val op = coldRun(spark, tracer, layerFiles, cycle)
      val gc = Harness.gcS() - gc0
      val planes = Harness.walkDelta(before, Harness.walk(wh), sinceMs)
      val files = planes.values.map(_._1).sum
      val bytes = planes.values.map(_._2).sum
      Harness.mark(opts, s"${op.name} done")
      listener.enabled = false
      val checked = if (op.ok) check(spark).fold(op)(err => op.copy(ok = false, error = err)) else op
      listener.enabled = true
      Harness.mark(opts, s"${op.name} checked")
      ops += checked
      Harness.drain(spark)
      val jobs = listener.synchronized(listener.jobs.values.toSeq)
      val layers = tracer.fold(Map.empty[String, Double]) { t =>
        val auditFiles = Harness.walk(s"$wh/metadata.db/etl_audit_log").size.toLong
        val m = LayerMetrics.compute(t, jobs, gc, layerFiles.toMap, planes, auditFiles)
        Harness.writeTrace(opts, t, jobs)
        m ++ Map("warehouse.files_per_run" -> files.toDouble,
          "warehouse.bytes_written_per_input_byte" -> bytes.toDouble / inputBytes)
      }
      cycles += Cycle(checked.wallS, jobs.map(_.taskCpuNs).sum / 1e9, jobs.size, layers)
      filesPerOp += files
      bytesPerOp += bytes
    } while (Harness.sinceS(loop0) < opts.seconds)

    // restart probe: a fresh session (and so a fresh catalog) on the
    // same warehouse runs the next date over the same landing files; it
    // is reported, not retried
    spark.stop()
    spark = Harness.session(opts, wh, listener)
    val reopen = Harness.timed("reopen", dates(1), -1) {
      sys.props("GRAFT_DEMO_DIR") = landing
      val exit = Main.run(spark, Main.Args(dates(1), layerOrder, configDir, None))
      require(exit == 0, s"pipeline exit code $exit")
    }
    spark.stop()
    Harness.mark(opts, "restart probe done")

    val reopenFailed = if (reopen.ok) 0.0 else 1.0
    WorkloadResult(setupS, ops.toSeq, cycles.toSeq,
      if (opts.trace) Map("warehouse.reopen_failed_ratio" -> reopenFailed) else Map.empty,
      Map("stage_s" -> stageS, "session_ready_s" -> sessionReadyS,
        "input_bytes" -> inputBytes, "reopen" -> Map("ok" -> reopen.ok,
          "error" -> reopen.error, "wall_s" -> reopen.wallS),
        "reopen_failed_ratio" -> reopenFailed,
        "files_added_per_op" -> filesPerOp, "bytes_written_per_op" -> bytesPerOp))
  }

  /** Writes the landing files, one file each: transactions over the 90
    * days from the first date (parquet), customers (CSV) and products
    * (JSON). A single transactions file keeps the silver overwrite at
    * one file per `transaction_date` partition, as one daily extract
    * gives.
    */
  private def stage(spark: SparkSession): Unit = {
    DemoDataGenerator.customers(spark, nCust, dates(0), opts.seed * 7 + 1)
      .coalesce(1).write.option("header", "true").csv(s"$landing/customers")
    DemoDataGenerator.products(spark, nProd, opts.seed * 7 + 2)
      .coalesce(1).write.json(s"$landing/products")
    DemoDataGenerator.transactions(spark, nTx, nCust, nProd, dates(0),
      seed = opts.seed * 7 + 3).coalesce(1).write.parquet(s"$landing/transactions")
  }

  private def resetWarehouse(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.catalog.listDatabases().collect().map(_.name).filter(_ != "default")
      .foreach(db => spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE"))
    Harness.deleteTree(new java.io.File(wh))
  }

  /** The first date's pipeline run: through `Main.run` untraced, through
    * the layer constructors with traced metadata classes when tracing.
    */
  private def coldRun(spark: SparkSession, tracer: Option[Tracer],
      layerFiles: mutable.HashMap[Int, (Long, Long)], cycle: Int): OpResult = {
    val date = dates(0)
    sys.props("GRAFT_DEMO_DIR") = landing
    Harness.timed("dated_run", s"cold_run.$date", cycle) {
      tracer match {
        case None =>
          val exit = Main.run(spark, Main.Args(date, layerOrder, configDir, None))
          require(exit == 0, s"pipeline exit code $exit")
        case Some(t) => t.span(s"run.$date", "run")(tracedRun(spark, t, date, layerFiles))
      }
    }
  }

  /** `Pipeline.run` plus `Main`'s control-table summary, spelled out so
    * the metadata manager and audit logger can be the traced ones.
    */
  private def tracedRun(spark: SparkSession, t: Tracer, date: String,
      layerFiles: mutable.HashMap[Int, (Long, Long)]): Unit = {
    val configs = Main.loadConfigs(configDir)
    val meta = new TracedMetadataManager(spark, t)
    val audit = new TracedAuditLogger(spark, meta, t)
    meta.init()
    configs.values.flatMap(_.sparkConf).foreach { case (k, v) =>
      if (k != "spark.sql.shuffle.partitions") spark.conf.set(k, v)
    }
    val reports = layerOrder.flatMap { name =>
      configs.get(name).map { cfg =>
        val layer: Layer = name match {
          case "bronze" => new BronzeLayer(spark, cfg, meta, audit, date)
          case "silver" => new SilverLayer(spark, cfg, meta, audit, date)
          case "gold" => new GoldLayer(spark, cfg, meta, audit, date)
          case "maintenance" => new MaintenanceLayer(spark, cfg, meta, audit, date)
        }
        val w0 = System.nanoTime()
        val before = Harness.walk(wh)
        t.addOverheadNs(System.nanoTime() - w0)
        val sinceMs = System.currentTimeMillis()
        val s = t.open(s"layer.$name", "layer")
        val report = try layer.run() finally t.close(s)
        val w1 = System.nanoTime()
        val d = Harness.walkDelta(before, Harness.walk(wh), sinceMs)
        layerFiles(s.id) = (d.values.map(_._1).sum, d.values.map(_._2).sum)
        t.addOverheadNs(System.nanoTime() - w1)
        report
      }
    }
    t.span("pipeline.summary", "summary")(new Pipeline(spark, date).summary())
    val failed = reports.flatMap(_.failed)
    require(failed.isEmpty, s"failed steps: ${failed.mkString(", ")}")
  }

  /** The first date's landing files, read once for the output checks. */
  private lazy val inputs = {
    val spark = SparkSession.active
    val dir = landing
    val txs = spark.read.parquet(s"$dir/transactions")
      .select("transaction_id", "customer_id", "product_id", "transaction_date",
        "amount", "quantity").collect().toSeq
      .map(r => Tx(r.getString(0), r.getString(1), r.getString(2), r.get(3).toString,
        r.getDouble(4), r.getInt(5)))
    val products = spark.read.json(s"$dir/products")
      .select("product_id", "product_name", "category", "cost").collect()
      .map(r => r.getString(0) -> Product(r.getString(1), r.getString(2), r.getDouble(3))).toMap
    val customers = spark.read.option("header", "true").csv(s"$dir/customers")
      .select("customer_id", "first_name", "last_name", "state").collect()
      .map(r => r.getString(0) -> Customer(r.getString(1), r.getString(2), r.getString(3))).toMap
    (txs, products, customers)
  }

  /** Recomputes the cold run's three gold tables, and the per-date
    * totals of the compacted silver sales table, from the landing files
    * on the driver without Spark, and compares them with the
    * warehouse's. Silver keeps the transactions dated on or after the
    * run date.
    */
  private def check(spark: SparkSession): Option[String] = {
    val (txs, products, customers) = inputs
    val sales = txs.filter(_.date >= dates(0))
    val expDaily = sales.groupBy(t => Seq(t.date, products(t.product).category)).map {
      case (k, ts) => k -> Seq[Any](ts.size.toLong, ts.map(_.amount).sum,
        ts.map(_.amount).sum / ts.size, ts.map(_.quantity.toLong).sum)
    }
    val expCustomer = sales.groupBy(_.customer).map { case (c, ts) =>
      val cu = customers(c)
      Seq(c) -> Seq[Any](cu.first, cu.last, cu.state, ts.size.toLong,
        ts.map(_.amount).sum, ts.map(_.date).max)
    }
    val expProduct = sales.groupBy(_.product).map { case (p, ts) =>
      val pr = products(p)
      Seq(p) -> Seq[Any](pr.name, pr.category, ts.size.toLong,
        ts.map(_.quantity.toLong).sum, ts.map(_.amount).sum,
        ts.map(t => t.amount - pr.cost * t.quantity).sum,
        ts.map(t => t.amount / t.quantity).sum / ts.size)
    }
    val expSilver = sales.groupBy(t => Seq(t.date)).map { case (k, ts) =>
      k -> Seq[Any](ts.size.toLong, ts.map(_.amount).sum, ts.map(_.quantity.toLong).sum)
    }
    val silver = spark.table("silver.sales_clean").groupBy("transaction_date")
      .agg(count(lit(1)).as("rows"), sum("amount").as("amount"), sum("quantity").as("quantity"))
    val problems = Seq(
      compare("silver.sales_clean", silver, Seq("transaction_date"),
        Seq("rows", "amount", "quantity"), expSilver),
      compare("gold.daily_sales_by_category", spark.table("gold.daily_sales_by_category"),
        Seq("transaction_date", "category"),
        Seq("transaction_count", "total_sales", "avg_sale_amount", "total_quantity"), expDaily),
      compare("gold.customer_purchase_summary", spark.table("gold.customer_purchase_summary"),
        Seq("customer_id"),
        Seq("first_name", "last_name", "state", "total_transactions", "total_spend",
          "last_purchase_date"), expCustomer),
      compare("gold.product_performance", spark.table("gold.product_performance"),
        Seq("product_id"),
        Seq("product_name", "category", "total_sales", "total_quantity", "total_revenue",
          "total_profit", "avg_unit_price"), expProduct)).flatten
    if (problems.isEmpty) None else Some(s"output check: ${problems.mkString("; ")}")
  }

  private def compare(table: String, frame: DataFrame, keys: Seq[String],
      values: Seq[String], expected: Map[Seq[String], Seq[Any]]): Option[String] = {
    val actual = frame.select((keys ++ values).map(col): _*).collect()
    if (actual.length != expected.size)
      return Some(s"$table has ${actual.length} rows, expected ${expected.size}")
    actual.iterator.map { r =>
      val key = keys.indices.map(i => String.valueOf(r.get(i)))
      expected.get(key) match {
        case None => Some(s"$table has unexpected key ${key.mkString("/")}")
        case Some(e) => values.indices.find(i => !same(r.get(keys.size + i), e(i)))
          .map(i => s"$table ${key.mkString("/")}.${values(i)} = ${r.get(keys.size + i)}, expected ${e(i)}")
      }
    }.collectFirst { case Some(p) => p }
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => math.abs(x - y) <= 1e-6 + 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: Number, y: Number) => x.longValue == y.longValue
    case _ => String.valueOf(a) == String.valueOf(b)
  }

}

object SalesDaily {
  private final case class Tx(id: String, customer: String, product: String,
      date: String, amount: Double, quantity: Int)
  private final case class Product(name: String, category: String, cost: Double)
  private final case class Customer(first: String, last: String, state: String)
}
