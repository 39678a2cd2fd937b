package graft.pipeline

import graft.clean.{Dates, Keys, Normalize}
import graft.ingest.CsvIngest
import graft.model.Star
import graft.tables.{TableStore, Upsert}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's end-to-end medallion pipelines (SURVEY.md §2/§7),
  * re-expressed Spark-first: child company's dirty dims/facts cleaned,
  * aligned to the parent star schema, rolled daily→monthly, and upserted
  * into one consolidated gold layer.
  *
  * Layer/table naming mirrors the reference (bronze_/silver_/sb_/gold
  * prefixes in one [[TableStore]] namespace instead of three catalogs —
  * setup_catalogs.py:4-13). All transforms are DataFrame declarations;
  * Catalyst handles pushdown/pruning/broadcast (the dims are tiny build
  * sides), and the custom work is confined to [[Upsert]] (Delta MERGE
  * replacement) + [[TableStore]] atomic swaps.
  */
object Pipelines {

  /** Reference-observed domain maps, transcribed EXACTLY from the
    * notebooks — values here are data, not design, and a self-consistent
    * mistranslation would silently break replay parity against the
    * reference's own dashboard numbers. Deliberately explicit config, not
    * code, so the cleaning library stays generic.
    */
  object Config {
    /** Allowed city list (1_customer_data_processing.py:119). */
    val validCities = Seq("New York", "Chicago", "Austin")
    /** City typo map incl. identity entries (1_customer:104-117). */
    val cityFixes = Map(
      "New York" -> "New York", "Newyork" -> "New York", "New yok" -> "New York",
      "Chicago" -> "Chicago", "Chcago" -> "Chicago", "Chicgo" -> "Chicago",
      "Chicagoo" -> "Chicago", "Chciago" -> "Chicago",
      "Austin" -> "Austin", "Austn" -> "Austin", "Austiin" -> "Austin",
      "Austinn" -> "Austin")
    /** Lookup table for customers with an empty city (1_customer:181-186). */
    val cityLookup = Seq(
      789403 -> "Chicago", 789420 -> "Austin",
      789521 -> "New York", 789603 -> "New York")
    /** Ordered when-chain city→market, fallback Unknown (1_customer:233-240). */
    val marketByCity = Seq(
      "New York" -> "Northeast", "Chicago" -> "Midwest",
      "Austin" -> "South", "Los Angeles" -> "West Coast")
    val marketFallback = "Unknown"
    /** Ordered when-chain category→division, fallback Other
      * (2_products_data_processing.py:151-163).
      */
    val divisionByCategory = Seq(
      "Energy Bars" -> "Nutrition Bars", "Protein Bars" -> "Nutrition Bars",
      "Granola & Cereals" -> "Breakfast Foods", "Recovery Dairy" -> "Dairy & Recovery",
      "Healthy Snacks" -> "Healthy Snacks", "Electrolyte Mix" -> "Hydration & Electrolytes")
    val divisionFallback = "Other"
    val childPlatform = "PowerBite Nutrition"
    val childChannel = "Acquisition"
  }

  /** Customers: bronze→silver (dedup/trim/initcap/city normalize + fix
    * join) → gold child staging → MERGE into consolidated dim
    * (1_customer_data_processing.py end-to-end).
    */
  def runDimCustomers(spark: SparkSession, store: TableStore, srcCsv: String): Unit = {
    import Config._
    val bronze = CsvIngest.read(spark, srcCsv, schema = Some(Star.rawCustomers))
    store.overwrite("bronze_customers", bronze)

    val fix = broadcast(
      spark.createDataFrame(cityLookup.map(t => (t._1, t._2)))
        .toDF("customer_id", "fixed_city"))
    val silver = store.read("bronze_customers")
      .dropDuplicates(Seq("customer_id"))
      .withColumn("customer_name", Normalize.cleanName(col("customer_name")))
      .withColumn("city", Normalize.normalizeViaMap(col("city"), validCities, cityFixes))
      .join(fix, Seq("customer_id"), "left")
      .withColumn("city", coalesce(col("city"), col("fixed_city")))
      .drop("fixed_city")
      .select("customer_id", "customer_name", "city")
    store.overwrite("silver_customers", silver)

    val marketExpr = marketByCity.foldRight(lit(marketFallback)) {
      case ((c, m), acc) => when(col("city") === c, lit(m)).otherwise(acc)
    }
    val sb = store.read("silver_customers").select(
      col("customer_id").cast("string").as("customer_code"),
      Normalize.labelWithFallback(col("customer_name"), col("city")).as("customer"),
      marketExpr.as("market"),
      lit(childPlatform).as("platform"),
      lit(childChannel).as("channel"))
    store.overwrite("sb_dim_customers", sb)

    Upsert.mergeInto(store, "gold_dim_customers", sb, Seq("customer_code"))
  }

  /** Products: dedup, category initcap, Protien→Protein regex fix, variant
    * extraction, invalid-id fallback, sha2 surrogate key, division map,
    * MERGE (2_products_data_processing.py).
    */
  def runDimProducts(spark: SparkSession, store: TableStore, srcCsv: String): Unit = {
    import Config._
    val bronze = CsvIngest.read(spark, srcCsv, schema = Some(Star.rawProducts))
    store.overwrite("bronze_products", bronze)

    val silver = store.read("bronze_products")
      .dropDuplicates(Seq("product_id"))
      .withColumn("product_name", Normalize.fixSpelling(col("product_name"), "Protien", "Protein"))
      .withColumn("category",
        Normalize.fixSpelling(initcap(col("category")), "Protien", "Protein"))
      .withColumn("product_id", Normalize.numericIdOrFallback(col("product_id")))
      .withColumn("product_code", Keys.sha2Key(col("product_name")))
      .select("product_id", "product_name", "category", "product_code")
    store.overwrite("silver_products", silver)

    val divisionExpr = divisionByCategory.foldRight(lit(divisionFallback)) {
      case ((c, d), acc) => when(col("category") === c, lit(d)).otherwise(acc)
    }
    // `product` keeps the full (variant-suffixed) name — the reference only
    // renames product_name→product (2_products:193), it never strips the
    // "(60g)" parens even though variant is also extracted.
    val sb = store.read("silver_products").select(
      col("product_code"),
      divisionExpr.as("division"),
      col("category"),
      col("product_name").as("product"),
      regexp_extract(col("product_name"), "\\((.*?)\\)", 1).as("variant"))
    store.overwrite("sb_dim_products", sb)

    Upsert.mergeInto(store, "gold_dim_products", sb, Seq("product_code"))
  }

  /** Pricing: multi-format month parse, price sanitation (abs/non-numeric→0),
    * inner join products (drops bogus ids), latest-nonzero-price-per-year
    * window, MERGE keyed on (product_code, year) — deliberate fix of the
    * reference's product_code-only merge key (SURVEY §7.5;
    * 3_pricing_data_processing.py:263-277).
    */
  def runDimPricing(spark: SparkSession, store: TableStore, srcCsv: String): Unit = {
    val bronze = CsvIngest.read(spark, srcCsv, schema = Some(Star.rawGrossPrice))
    store.overwrite("bronze_gross_price", bronze)

    val silver = store.read("bronze_gross_price")
      .withColumn("month", Dates.parsePriceMonth(col("month")))
      .withColumn("gross_price", Normalize.sanitizePrice(col("gross_price")))
      .filter(col("month").isNotNull)
    store.overwrite("silver_gross_price", silver)

    val products = broadcast(store.read("silver_products").select("product_id", "product_code"))
    val joined = store.read("silver_gross_price")
      .join(products, Seq("product_id"), "inner")
      .withColumn("year", year(col("month")))
      .withColumn("is_zero", when(col("gross_price") === 0.0, 1).otherwise(0))
    val w = Window.partitionBy(col("product_code"), col("year"))
      .orderBy(col("is_zero").asc, col("month").desc)
    val latest = joined
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
      .select(col("product_code"), col("gross_price").as("price_usd"), col("year"))
    store.overwrite("sb_dim_gross_price", latest)

    Upsert.mergeInto(store, "gold_dim_gross_price", latest, Seq("product_code", "year"))
  }

  /** Shared order cleaning: null-qty filter, invalid-customer fallback,
    * weekday-strip multi-format date parse, business-key dedup
    * (1_full_load_fact.py:98-128).
    */
  private[pipeline] def cleanOrders(df: DataFrame): DataFrame =
    df.filter(col("order_qty").isNotNull)
      .withColumn("customer_id", Normalize.numericIdOrFallback(col("customer_id")))
      .withColumn("order_placement_date", Dates.parseOrderDate(col("order_placement_date")))
      .transform(d => Normalize.dedupKeep(d,
        Seq("order_id", "order_placement_date", "customer_id", "product_id", "order_qty"),
        Seq(col("file_name"))))

  /** The landed CSVs under `landingDir`, parsed once and staged beside
    * `bronze_orders` ([[TableStore.stage]]): the stage's rows feed silver,
    * and publishing the stage is the bronze append.
    */
  private def stageLanded(
      spark: SparkSession, store: TableStore, landingDir: String): TableStore.Staged =
    store.stage("bronze_orders",
      CsvIngest.read(spark, s"$landingDir/*.csv", schema = Some(Star.rawOrders)))

  /** Fact full load: landing CSVs → bronze (staged, published once silver
    * has read it) → silver (clean) → gold-shaped via product join →
    * sb_fact (insert-only merge) → monthly rollup MERGE into consolidated
    * fact (1_full_load_fact.py).
    */
  def runFactFull(spark: SparkSession, store: TableStore, landingDir: String): Unit = {
    val bronze = stageLanded(spark, store, landingDir)
    val silver = cleanOrders(bronze.rows)
      .select("order_id", "order_placement_date", "customer_id", "product_id", "order_qty")
    store.overwrite("silver_orders", silver)
    store.publish(bronze)

    val products = broadcast(store.read("silver_products").select("product_id", "product_code"))
    val sbFact = store.read("silver_orders")
      .join(products, Seq("product_id"), "inner") // drops unmatched product_ids
      .select(
        col("order_placement_date").as("date"),
        col("order_id"),
        col("product_code"),
        col("customer_id").as("customer_code"),
        col("order_qty").as("sold_quantity"))
    Upsert.mergeInto(store, "sb_fact_orders", sbFact,
      Seq("date", "order_id", "product_code", "customer_code"),
      update = false, onDuplicate = Upsert.DuplicatePolicy.DedupDeterministic)

    mergeMonthlyRollup(store, store.read("sb_fact_orders"))
  }

  /** Fact incremental load: a staging snapshot of just-landed files, keyed
    * upsert into silver + sb_fact (late/re-delivered rows update in place;
    * a day of new keys is an append), then affected-months-only recompute of
    * the consolidated rollup (2_incremental_load_fact.py; SURVEY §2.7).
    *
    * The staging snapshot is the bronze stage: the landed CSVs are parsed
    * once and written once, beside `bronze_orders` ([[stageLanded]]). Its
    * rows play the reference's `staging_orders`, their cleaning its
    * `silver_staging_orders`; neither is a named table, so there is no
    * staging teardown.
    *
    * Each increment is computed once, in Delta's two MERGE phases
    * ([[Upsert.stageMerge]]):
    *  1. Stage silver: the bronze stage's rows, cleaned ([[cleanOrders]])
    *     and deduped per silver key — the one evaluation of the cleaning
    *     and its window shuffle.
    *  2. Stage sb_fact from silver's staged rows joined with the products.
    *     These equal the rows sb_fact would get from the raw cleaned
    *     increment: `DedupDeterministic` keeps the smallest `order_qty` per
    *     key, `product_id → product_code` is a function, so each silver key
    *     group lies inside one sb_fact key group, and the smallest of the
    *     group minima is the group's minimum.
    *  3. Collect the touched months from sb_fact's staged rows.
    *  4. Commit silver, commit sb_fact, publish the bronze stage, merge the
    *     touched months into gold.
    *
    * Tables change in that order, silver → sb_fact → bronze → gold: the
    * bronze stage is published after its last reader and before the gold
    * merge. A crash before the bronze publish leaves the day in silver
    * (and perhaps sb_fact) but not in bronze; a re-run lands it in bronze
    * exactly once, and the tables that already hold it take the merge path
    * of [[Upsert.stageMerge]], as any re-run does. The abandoned bronze
    * stage is swept by a later stage of `bronze_orders`.
    */
  def runFactIncremental(spark: SparkSession, store: TableStore, landingDir: String): Unit = {
    val bronze = stageLanded(spark, store, landingDir)

    val silver = Upsert.stageMerge(store, "silver_orders",
      cleanOrders(bronze.rows)
        .select("order_id", "order_placement_date", "customer_id", "product_id", "order_qty"),
      Seq("order_placement_date", "order_id", "product_id", "customer_id"),
      onDuplicate = Upsert.DuplicatePolicy.DedupDeterministic)

    val products = broadcast(store.read("silver_products").select("product_id", "product_code"))
    val sb = Upsert.stageMerge(store, "sb_fact_orders",
      silver.rows
        .join(products, Seq("product_id"), "inner")
        .select(
          col("order_placement_date").as("date"),
          col("order_id"),
          col("product_code"),
          col("customer_id").as("customer_code"),
          col("order_qty").as("sold_quantity")),
      Seq("date", "order_id", "product_code", "customer_code"),
      onDuplicate = Upsert.DuplicatePolicy.DedupDeterministic)

    // Affected-month restriction: recompute rollups only for months touched
    // by this increment (2_incremental:246-263). At scale this is the
    // difference between rewriting 1 month and rewriting 10 years. The
    // months come from the staged increment, so the rollup's own partition
    // values never need a separate pass.
    val touched = sb.rows.filter(col("date").isNotNull)
      .select(Dates.monthStart(col("date"))).distinct().collect().map(_.get(0)).toSeq
    silver.commit()
    sb.commit()
    store.publish(bronze)
    // sb_fact is unpartitioned: a date range per month is what reaches the
    // parquet scan as a pushed filter, so row groups whose date min/max
    // miss every touched month are skipped (a monthStart(date) IN (...)
    // predicate is an expression over the column and pushes nothing)
    val inTouched = touched
      .map(m => col("date") >= lit(m) && col("date") < add_months(lit(m), 1))
      .reduceOption(_ || _).getOrElse(lit(false))
    mergeMonthlyRollup(store, store.read("sb_fact_orders").filter(inTouched), Some(touched))
  }

  /** Daily→monthly rollup of gold-shaped child orders, upserted into the
    * consolidated fact (1_full_load_fact.py:214-238). Null dates (the
    * reference's unparseable-format rows) are excluded from the rollup.
    *
    * The consolidated fact is month-partitioned and the merge is
    * partition-scoped: only touched months are read and rewritten
    * (SURVEY §2.7 step 4 made partition-local — the difference between
    * moving 2 directories and rewriting 10 years at 100 TB).
    */
  private def mergeMonthlyRollup(
      store: TableStore, sbFact: DataFrame, months: Option[Seq[Any]] = None): Unit = {
    val rollup = sbFact
      .filter(col("date").isNotNull)
      .groupBy(
        Dates.monthStart(col("date")).as("date"),
        col("product_code"), col("customer_code"))
      .agg(sum(col("sold_quantity")).as("sold_quantity"))
    Upsert.mergePartitioned(store, "gold_fact_orders", rollup,
      Seq("date", "product_code", "customer_code"), partitionCol = "date",
      partitions = months)
  }

  /** Seed the consolidated gold layer from the parent company's already
    * gold-shaped CSVs (Summit full load; SURVEY §1.2 A5) + generated
    * dim_date spine.
    */
  def seedParent(spark: SparkSession, store: TableStore, parentDir: String): Unit = {
    def readP(name: String, schema: org.apache.spark.sql.types.StructType) =
      CsvIngest.read(spark, s"$parentDir/$name.csv", schema = Some(schema), lineage = false)
    store.overwrite("gold_dim_customers", readP("dim_customers", Star.parentDimCustomers))
    store.overwrite("gold_dim_products", readP("dim_products", Star.parentDimProducts))
    store.overwrite("gold_dim_gross_price",
      readP("dim_gross_price", Star.parentDimGrossPrice)
        .select(col("product_code"), col("price_usd"), col("year")))
    store.overwrite("gold_fact_orders",
      readP("fact_orders", Star.parentFactOrders)
        .select(col("date"), col("product_code"), col("customer_code"),
          col("sold_quantity").cast("double").as("sold_quantity")),
      partitionBy = Seq("date"))
    store.overwrite("gold_dim_date", Dates.monthSpine(spark, "2024-01-01", "2025-12-01"))
  }

  /** Parent incremental fact: COPY INTO-style idempotent append with casts
    * (incremental_data_parent_company_query.txt:2-12).
    */
  def copyParentIncrement(spark: SparkSession, store: TableStore, srcDir: String): Long =
    graft.ingest.IdempotentCopy.copyInto(spark, store, "gold_fact_orders", srcDir,
      df => df.select(
        col("date").cast("date").as("date"),
        col("product_code"),
        col("customer_code"),
        col("sold_quantity").cast("double").as("sold_quantity")),
      partitionBy = Seq("date"),
      // the reference drop targets the CSV alone; its landing dir also holds
      // the query .txt, which must never be parsed as data
      pattern = Some("*.csv"))
}
