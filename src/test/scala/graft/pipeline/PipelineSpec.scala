package graft.pipeline

import graft.SparkSpec
import graft.serve.EnrichedView
import graft.tables.{TableStore, Upsert}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Golden end-to-end test of the full reference pipeline over the
  * FIXTURES.md A1-A5 fixture CSVs: parent seed → dim pipelines → fact full
  * load → incremental load with affected-month recompute → enriched view.
  * Expectations are hand-computed from the fixtures.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Spark jobs of one incremental load of the fixture day over the full
    * load: its keys are all new, so silver and sb_fact publish; a replay
    * of the same day matches, and both tables take the merge rewrite. */
  private val JobsNewKeys = 15
  private val JobsReplay = 22

  private val fx = "src/test/resources/fixtures"
  private lazy val store = {
    val root = Files.createTempDirectory("graft_pipe").toString
    new TableStore(spark, root)
  }

  private def runAll(): Unit = {
    Pipelines.seedParent(spark, store, s"$fx/parent/full_load")
    Pipelines.runDimCustomers(spark, store, s"$fx/child/full_load/customers/customers.csv")
    Pipelines.runDimProducts(spark, store, s"$fx/child/full_load/products/products.csv")
    Pipelines.runDimPricing(spark, store, s"$fx/child/full_load/gross_price/gross_price.csv")
    Pipelines.runFactFull(spark, store, s"$fx/child/orders_landing")
  }

  test("full pipeline: dims cleaned, aligned, merged into consolidated gold") {
    runAll()

    // customers: 11 raw − 1 exact dup = 10 silver; gold = 3 parent + 10 child
    val cust = store.read("gold_dim_customers").collect()
    assert(cust.length === 13)
    val byCode = cust.map(r => r.getAs[String]("customer_code") -> r).toMap
    // trim + initcap + valid city passthrough
    assert(byCode("789401").getAs[String]("customer") === "Hydroboost Nutrition-Austin")
    // misspelled city normalized  →  market derived
    assert(byCode("789402").getAs[String]("customer") === "Sprintx Nutrition-Austin")
    assert(byCode("789402").getAs[String]("market") === "South")
    // empty city fixed via lookup join (1_customer:181-186 values)
    assert(byCode("789403").getAs[String]("customer") === "Peakfuel Foods-Chicago")
    assert(byCode("789603").getAs[String]("customer") === "Vitasurge Labs-New York")
    assert(byCode("789603").getAs[String]("market") === "Northeast")
    // city not in the allowed list or typo map → null city → Unknown label +
    // Unknown market (reference fallback, 1_customer:226/239)
    assert(byCode("789410").getAs[String]("customer") === "Summit Snacks-Unknown")
    assert(byCode("789410").getAs[String]("market") === "Unknown")
    // child rows tagged
    assert(byCode("789401").getAs[String]("platform") === "PowerBite Nutrition")
    assert(byCode("789401").getAs[String]("channel") === "Acquisition")
    // parent rows untouched by merge
    assert(byCode("AT001").getAs[String]("channel") === "Retail")

    // products: 5 raw − 1 dup = 4; Protien fixed, variant extracted, division
    // mapped; `product` keeps the variant suffix (reference 2_products:193)
    val prod = store.read("gold_dim_products").collect()
    assert(prod.length === 2 + 4)
    val prodByName = prod.map(r => r.getAs[String]("product") -> r).toMap
    assert(prodByName.contains("PowerBite Protein Bar (60g)"))
    assert(prodByName("PowerBite Protein Bar (60g)").getAs[String]("variant") === "60g")
    assert(prodByName("PowerBite Protein Bar (60g)").getAs[String]("category") === "Protein Bars")
    assert(prodByName("PowerBite Protein Bar (60g)").getAs[String]("division") === "Nutrition Bars")
    // category outside the reference map → Other fallback (2_products:161)
    assert(prodByName("Endura Energy Gel (30 Sachets)").getAs[String]("division") === "Other")
    assert(prodByName("Endura Energy Gel (30 Sachets)").getAs[String]("variant") === "30 Sachets")

    // pricing: bogus product 77777777 dropped by inner join; latest non-zero
    // price per (product, year): 25891101/2025 → |−8.4| = 8.4 (Aug beats Jul,
    // zero-sanitized 'unknown' Jan-8 row sorts behind non-zero);
    // 25891102/2025 → 22.0 (Sep non-zero beats Jul zero); 25891103/2025 → 5.25
    val price = store.read("gold_dim_gross_price")
    assert(price.filter(col("year") === 2025).count() === 2 + 3) // 2 parent 2025 + 3 child
    val sha = (n: String) => java.security.MessageDigest.getInstance("SHA-256")
      .digest(n.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val p2025 = price.filter(col("year") === 2025).collect()
      .map(r => r.getAs[String]("product_code") -> r.getAs[Double]("price_usd")).toMap
    assert(p2025(sha("PowerBite Protein Bar (60g)")) === 8.4)
    assert(p2025(sha("Endura Energy Gel (30 Sachets)")) === 22.0)
    assert(p2025(sha("HydraFuel Mix (500g)")) === 5.25)
    // child 2024 row landed too (month 2/1/24 → year 2024)
    assert(price.filter(col("year") === 2024).count() === 2 + 1)

    // fact: Nov 2025 child rollup merged over parent fact.
    // Cleaned child orders: ORD001 10 + ORD006 4 (prod 25891101);
    // ORD002 5 + ORD008 2 (25891102); ORD003 3 (25891103); ORD004 dup→8
    // (customer ABC987→999999); ORD005 null qty dropped; ORD007 product
    // 99999999 dropped by inner join.
    val fact = store.read("gold_fact_orders")
    // child rollup rows: (25891101,789401)=14, (25891102,789402)=5,
    // (25891102,789407)=2, (25891103,789403)=3, (25891101,999999)=8
    assert(fact.filter(col("date") === "2025-11-01").count() === 2 + 5)
    val childNov = fact.filter(col("date") === "2025-11-01")
      .filter(length(col("product_code")) === 64) // sha2 codes = child rows
    assert(childNov.agg(sum("sold_quantity")).head().getDouble(0) === 10 + 4 + 5 + 2 + 3 + 8)
    // parent rows for the same month survive the merge untouched
    assert(fact.filter(col("date") === "2025-11-01" && col("customer_code") === "AT001")
      .head().getAs[Double]("sold_quantity") === 150.0)
  }

  test("incremental load: affected-month recompute + COPY INTO idempotence") {
    runAll()
    def dataFiles(table: String): Set[String] = {
      val root = new java.io.File(store.path(table))
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => root.toURI.relativize(f.toURI).getPath).toSet
    }
    def stagesLeft = Option(new java.io.File(store.path(".publish")).listFiles()).toSeq.flatten
      .flatMap(d => Option(d.listFiles()).toSeq.flatten)
    val landed = spark.read.option("header", "true")
      .csv(s"$fx/child/orders_incremental/*.csv").count()
    val bronzeBefore = store.read("bronze_orders").count()
    val priorFiles = Seq("silver_orders", "sb_fact_orders").map(t => t -> dataFiles(t))
    Pipelines.runFactIncremental(spark, store, s"$fx/child/orders_incremental")
    // bronze gains the landed rows exactly once; no stage is left behind
    assert(store.read("bronze_orders").count() === bronzeBefore + landed)
    assert(stagesLeft.isEmpty, s"stages left: $stagesLeft")
    // a day of new keys is published into silver and sb_fact: every prior
    // data file stays
    priorFiles.foreach { case (t, before) =>
      assert(before.nonEmpty && before.subsetOf(dataFiles(t)), t)
    }

    val fact = store.read("gold_fact_orders")
    // Dec 2025 child rows: ORD101 qty 20 (25891101), ORD102 7 (25891102),
    // ORD103 9 (25891103, customer XYZ123→999999)
    val dec = fact.filter(col("date") === "2025-12-01" && length(col("product_code")) === 64)
    assert(dec.agg(sum("sold_quantity")).head().getDouble(0) === 20 + 7 + 9)
    // Jan 2026: single-digit-day long form "Saturday, January 3, 2026"
    // parses to NULL (excluded); ORD111 03-01-2026 parses → qty 2
    val jan = fact.filter(col("date") === "2026-01-01")
    assert(jan.agg(sum("sold_quantity")).head().getDouble(0) === 2.0)
    // November untouched by December increment (affected-month restriction)
    assert(fact.filter(col("date") === "2025-11-01").count() === 7)

    // the staging snapshot is torn down once the load finishes (2_incremental:300-306)
    assert(!store.exists("staging_orders") && !store.exists("silver_staging_orders"))

    // re-running the same increment is idempotent (keyed upsert, not append).
    // NULL keys never match (SQL equality, as in Delta), so the one order whose
    // date does not parse (ORD110) is inserted again into silver and sb_fact;
    // every keyed row, and gold (whose rollup skips NULL dates), is unchanged.
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    def byDate(table: String, dateCol: String) = {
      val all = store.read(table)
      (rows(all.filter(col(dateCol).isNotNull)), rows(all.filter(col(dateCol).isNull)))
    }
    val layers = Seq("silver_orders" -> "order_placement_date", "sb_fact_orders" -> "date")
    val goldBefore = rows(store.read("gold_fact_orders"))
    val layersBefore = layers.map { case (t, d) => byDate(t, d) }
    Pipelines.runFactIncremental(spark, store, s"$fx/child/orders_incremental")
    assert(!store.exists("staging_orders") && !store.exists("silver_staging_orders"))
    assert(store.read("bronze_orders").count() === bronzeBefore + 2 * landed)
    assert(stagesLeft.isEmpty, s"stages left after the re-run: $stagesLeft")
    assert(rows(store.read("gold_fact_orders")) === goldBefore)
    layers.zip(layersBefore).foreach { case ((t, d), (keyed, nullDated)) =>
      val (keyedNow, nullDatedNow) = byDate(t, d)
      assert(keyedNow === keyed, t)
      val added = nullDatedNow.diff(nullDated)
      assert(nullDated.diff(nullDatedNow).isEmpty && added.size === 1 &&
        added.head.split('|').contains("ORD110"), s"$t: $added")
    }

    // parent COPY INTO: first run loads 2 rows, second run loads 0 files
    val n1 = Pipelines.copyParentIncrement(spark, store, s"$fx/parent/incremental_load")
    assert(n1 === 1) // one file
    assert(store.read("gold_fact_orders")
      .filter(col("date") === "2025-12-01" && col("customer_code") === "AT001")
      .head().getAs[Double]("sold_quantity") === 135.0)
    val n2 = Pipelines.copyParentIncrement(spark, store, s"$fx/parent/incremental_load")
    assert(n2 === 0)
  }

  private val orderHeader = "order_id,order_placement_date,customer_id,product_id,order_qty"

  /** A landing dir holding one CSV per `(file name, data lines)`. */
  private def landing(files: (String, Seq[String])*): String = {
    val d = Files.createTempDirectory("graft_day")
    files.foreach { case (n, lines) =>
      Files.writeString(d.resolve(n), (orderHeader +: lines).mkString("", "\n", "\n"))
    }
    d.toString
  }

  /** A store at `root` holding the parent seed, the products, and the
    * fact full load. silver_products gains a second id, 25891109, for the
    * protein bar: two product_ids that share one product_code. */
  private def factStore(root: String): TableStore = {
    val st = new TableStore(spark, root)
    Pipelines.seedParent(spark, st, s"$fx/parent/full_load")
    Pipelines.runDimProducts(spark, st, s"$fx/child/full_load/products/products.csv")
    val silver = st.read("silver_products")
    st.overwrite("silver_products", silver.unionByName(
      silver.filter(col("product_id") === "25891101").withColumn("product_id", lit("25891109"))))
    Pipelines.runFactFull(spark, st, s"$fx/child/orders_landing")
    st
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private val factTables = Seq("silver_orders", "sb_fact_orders", "gold_fact_orders")

  /** The tables one incremental load of `day` must leave, computed the
    * direct way, one MERGE per table over the store as it stands: silver
    * and sb_fact each merge the increment cleaned from the landed rows,
    * and gold merges the rollup of the touched months of the merged
    * sb_fact. Collected before the load runs. */
  private def expectedAfter(store: TableStore, day: String): Map[String, Seq[String]] = {
    import Upsert.DuplicatePolicy.DedupDeterministic
    val landed = graft.ingest.CsvIngest.read(spark, s"$day/*.csv",
      schema = Some(graft.model.Star.rawOrders))
    val silverInc = Pipelines.cleanOrders(landed)
      .select("order_id", "order_placement_date", "customer_id", "product_id", "order_qty")
    val silver = Upsert.merge(store.read("silver_orders"), silverInc,
      Seq("order_placement_date", "order_id", "product_id", "customer_id"),
      onDuplicate = DedupDeterministic)
    val sbInc = silverInc
      .join(store.read("silver_products").select("product_id", "product_code"), Seq("product_id"))
      .select(col("order_placement_date").as("date"), col("order_id"), col("product_code"),
        col("customer_id").as("customer_code"), col("order_qty").as("sold_quantity"))
    val sb = Upsert.merge(store.read("sb_fact_orders"), sbInc,
      Seq("date", "order_id", "product_code", "customer_code"), onDuplicate = DedupDeterministic)
    val months = sbInc.filter(col("date").isNotNull)
      .select(graft.clean.Dates.monthStart(col("date")).as("m")).distinct()
    val rollup = sb.filter(col("date").isNotNull)
      .join(months, graft.clean.Dates.monthStart(col("date")) === col("m"), "left_semi")
      .groupBy(graft.clean.Dates.monthStart(col("date")).as("date"),
        col("product_code"), col("customer_code"))
      .agg(sum(col("sold_quantity")).as("sold_quantity"))
    val gold = Upsert.merge(store.read("gold_fact_orders"), rollup,
      Seq("date", "product_code", "customer_code"))
    Map("silver_orders" -> rowsOf(silver), "sb_fact_orders" -> rowsOf(sb),
      "gold_fact_orders" -> rowsOf(gold))
  }

  test("incremental load cleans once: silver, sb_fact and gold equal a MERGE per table over the cleaned increment") {
    val store = factStore(Files.createTempDirectory("graft_once").toString)
    // day A: a business key landed twice with different quantities (the
    // smaller wins), an exact duplicate row across two files, one order on
    // the two product_ids of one product_code (two silver keys, one
    // sb_fact key), a late key in November and an unparseable date
    val dayA = landing(
      "orders_2025_12_05.csv" -> Seq(
        "ORD201,05-12-2025,789401,25891101,6",
        "ORD201,05-12-2025,789401,25891101,4",
        "ORD202,05-12-2025,789402,25891101,9",
        "ORD202,05-12-2025,789402,25891101,7",
        "ORD202,05-12-2025,789402,25891109,3",
        "ORD203,20-11-2025,789403,25891103,11",
        "ORD204,\"Friday, December 5, 2025\",789404,25891102,1"),
      "orders_2025_12_05_resent.csv" -> Seq(
        "ORD201,05-12-2025,789401,25891101,6"))
    // day B: late updates of keys the full load and day A recorded
    val dayB = landing(
      "orders_2025_12_09.csv" -> Seq(
        "ORD001,02-11-2025,789401,25891101,1",
        "ORD202,05-12-2025,789402,25891109,2",
        "ORD205,09-12-2025,789401,25891109,5"))
    Seq("day A" -> dayA, "day A replayed" -> dayA, "day B" -> dayB).foreach { case (what, day) =>
      val expected = expectedAfter(store, day)
      Pipelines.runFactIncremental(spark, store, day)
      factTables.foreach(t => assert(rowsOf(store.read(t)) === expected(t), s"$what: $t"))
    }
    // the fixture exercises what it claims: one sb_fact key over two
    // silver keys, each side keeping its smallest quantity
    val ord202 = store.read("silver_orders").filter(col("order_id") === "ORD202")
      .select("product_id", "order_qty").as[(String, Double)].collect().toMap
    assert(ord202 === Map("25891101" -> 7.0, "25891109" -> 2.0))
    assert(store.read("sb_fact_orders").filter(col("order_id") === "ORD202")
      .select("sold_quantity").collect().map(_.getDouble(0)).toSeq === Seq(2.0))
  }

  test("incremental load job count: one increment of new keys, then its replay") {
    val store = factStore(Files.createTempDirectory("graft_jobs").toString)
    val day = s"$fx/child/orders_incremental"
    assert(jobsDuring(Pipelines.runFactIncremental(spark, store, day)) === JobsNewKeys)
    assert(jobsDuring(Pipelines.runFactIncremental(spark, store, day)) === JobsReplay)
  }

  test("incremental load: a crash between the silver and sb_fact commits re-runs to a clean run's tables") {
    graft.FaultFs.install(spark)
    val crashed = factStore(graft.FaultFs.root(Files.createTempDirectory("graft_crash").toString))
    val clean = factStore(Files.createTempDirectory("graft_nocrash").toString)
    val day = landing(
      "orders_2025_12_07.csv" -> Seq(
        "ORD301,07-12-2025,789401,25891101,3",
        "ORD301,07-12-2025,789401,25891101,2",
        "ORD302,07-12-2025,789402,25891109,8",
        "ORD303,16-11-2025,789403,25891103,4"))
    def bronze(st: TableStore) = st.read("bronze_orders").drop("read_timestamp")
    val bronzeBefore = rowsOf(bronze(crashed))
    val sbBefore = rowsOf(crashed.read("sb_fact_orders"))
    // the first rename of sb_fact's stage publish fails: silver's commit
    // has landed, sb_fact's has not, and bronze and gold are untouched
    graft.FaultFs.failRename(0,
      s"/.publish/sb_fact_orders/${spark.sparkContext.applicationId}_g1/part-")
    intercept[java.io.IOException](Pipelines.runFactIncremental(spark, crashed, day))
    assert(graft.FaultFs.disarm(), "the injected rename fault never fired")
    assert(crashed.read("silver_orders").filter(col("order_id").startsWith("ORD30")).count() === 3)
    assert(rowsOf(crashed.read("sb_fact_orders")) === sbBefore)
    assert(rowsOf(bronze(crashed)) === bronzeBefore)

    Pipelines.runFactIncremental(spark, crashed, day)
    Pipelines.runFactIncremental(spark, clean, day)
    factTables.foreach(t => assert(rowsOf(crashed.read(t)) === rowsOf(clean.read(t)), t))
    assert(rowsOf(bronze(crashed)) === rowsOf(bronze(clean)), "bronze_orders")
  }

  test("enriched view + dashboard KPIs over consolidated gold") {
    runAll()
    val ev = EnrichedView.build(store).cache()
    // every fact row survives the left joins
    assert(ev.count() === store.read("gold_fact_orders").count())
    // parent rows price-joined on (product_code, year): 150 * 16.5
    val at001Nov = ev.filter(col("date") === "2025-11-01" && col("customer_code") === "AT001").head()
    assert(at001Nov.getAs[Double]("total_amount") === 150 * 16.5)
    assert(at001Nov.getAs[String]("market") === "Northeast")
    assert(at001Nov.getAs[String]("year_quarter") === "2025-Q4")
    // child row: 25891101 qty 14 total in Nov @ 8.4
    val childBar = ev.filter(col("date") === "2025-11-01" && col("customer_code") === "789401").head()
    assert(childBar.getAs[Double]("total_amount") === 14 * 8.4)
    assert(childBar.getAs[String]("division") === "Nutrition Bars")

    val k = EnrichedView.kpis(ev).head()
    assert(k.getAs[Long]("n_customers") === ev.select("customer_code").distinct().count())
    assert(k.getAs[Double]("revenue") > 0)
    // customer 999999 (noise-id fallback) has no dim row → null channel
    assert(EnrichedView.revenueBy(ev, "channel").collect().map(_.getString(0)).toSet
      .subsetOf(Set("Retail", "DTC", "Acquisition", null)))
    assert(EnrichedView.monthlyTrend(ev).count() === ev.select("date").distinct().count())
  }
}
