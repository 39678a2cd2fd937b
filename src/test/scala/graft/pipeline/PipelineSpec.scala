package graft.pipeline

import graft.SparkSpec
import graft.serve.EnrichedView
import graft.tables.TableStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Golden end-to-end test of the full reference pipeline over the
  * FIXTURES.md A1-A5 fixture CSVs: parent seed → dim pipelines → fact full
  * load → incremental load with affected-month recompute → enriched view.
  * Expectations are hand-computed from the fixtures.
  */
class PipelineSpec extends SparkSpec {

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
