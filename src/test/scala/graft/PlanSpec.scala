package graft

import graft.queries.{CoreQueries, FuncQueries, JoinQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan assertions: the plans we ship are the plans we want at
  * scale — dims broadcast (no fact shuffle for enrichment), predicates and
  * projections pushed into the parquet scan, aggregates partial-before-
  * exchange, hot paths inside WholeStageCodegen.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("dim joins broadcast — the fact side never shuffles for enrichment (J1/J2/J5)") {
    val p1 = plan(JoinQueries.j1LeftBroadcast.fn(spark, sf))
    assert(p1.contains("BroadcastHashJoin"), p1.linesIterator.take(30).mkString("\n"))
    val p5 = plan(JoinQueries.j5StarEnriched.fn(spark, sf))
    assert(p5.contains("BroadcastHashJoin"))
    // the three dim joins are all broadcast: no SortMergeJoin for dims
    assert(p5.split("BroadcastHashJoin").length >= 4,
      "expected >=3 broadcast joins in the star enrichment")
  }

  test("filter pushdown + column pruning reach the parquet scan (P2/P1)") {
    val p = plan(FuncQueries.p2FilterPredicates.fn(spark, sf))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull"), "null filter should push to scan")
    // projection pruning: the scan must not read all 9 orders columns
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("o_clerk") && !read.contains("o_comment"),
      s"scan should prune unused columns: $read")
  }

  test("aggregation is partial before the exchange (Q1 map-side combine)") {
    val p = plan(CoreQueries.q1PricingSummary.fn(spark, sf))
    val firstAgg = p.indexOf("HashAggregate")
    assert(firstAgg >= 0)
    // map-side combine: partial_sum/partial_count run before the exchange
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      "expected partial (map-side) aggregation")
    assert(p.contains("hashpartitioning"), "expected hash exchange on group keys")
  }

  test("hot paths stay inside WholeStageCodegen (no interpreted row loops)") {
    Seq(
      CoreQueries.q1PricingSummary.fn(spark, sf),
      FuncQueries.f2HashKeys.fn(spark, sf),
      CoreQueries.a3MonthlyRollup.fn(spark, sf)
    ).foreach { df =>
      df.collect() // AQE finalizes the plan only on execution
      val p = df.queryExecution.executedPlan.toString
      // codegen stages print as "*(n) Op" in the final adaptive plan
      assert("\\*\\(\\d+\\) ".r.findFirstIn(p).isDefined,
        p.linesIterator.take(8).mkString("\n"))
    }
  }

  test("month predicate prunes the partitioned fact scan to one partition (S4@scale)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions._
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_prune").toString)
    val monthly = Td(spark, sf, "orders").select(
      trunc(col("o_orderdate").cast("date"), "MM").as("month"),
      col("o_orderkey"), col("o_totalprice"))
    store.overwrite("fact_m", monthly, partitionBy = Seq("month"))
    val nMonths = store.read("fact_m").select("month").distinct().count()
    assert(nMonths > 1, "fixture must span multiple month partitions")

    val df = store.read("fact_m")
      .filter(col("month") === lit("1995-02-01").cast("date"))
      .agg(sum("o_totalprice"))
    df.collect()
    // AQE wraps materialized stages in QueryStageExec LEAF nodes — a plain
    // collect stops there; descend explicitly
    def findScan(p: org.apache.spark.sql.execution.SparkPlan): Option[FileSourceScanExec] =
      p match {
        case f: FileSourceScanExec => Some(f)
        case a: AdaptiveSparkPlanExec => findScan(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => findScan(q.plan)
        case other => other.children.view.flatMap(findScan(_)).headOption
      }
    val scan = findScan(df.queryExecution.executedPlan)
      .getOrElse(fail(s"no FileSourceScan in:\n${df.queryExecution.executedPlan}"))
    // the month predicate must become a partition filter (directory prune),
    // not a data filter evaluated after reading every partition
    assert(scan.partitionFilters.exists(_.toString.contains("month")),
      s"month predicate not in partitionFilters: ${scan.partitionFilters}")
    assert(scan.metrics("numPartitions").value === 1,
      s"scan read ${scan.metrics("numPartitions").value} of $nMonths partitions")
  }

  test("IVF pruned search reads only the probed cluster partitions (S2@scale)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions._
    import graft.ext.Similarity
    val emb = Td(spark, sf, "embeddings")
    val cents = Similarity.kmeansTrain(emb, "vec_id", "embedding", k = 4, iters = 1)
      .select(col("centroid_id").cast("long").as("vec_id"), col("embedding"))
    val assigned = graft.tables.Scratch.stage(
      Similarity.ivfAssign(emb, cents, "vec_id", "embedding"),
      "plan_ivf_index", Seq("cluster"))
    val nClusters = assigned.select("cluster").distinct().count()
    assert(nClusters > 1, "index must span multiple cluster partitions")

    // one query, nprobe=1: the pruned search must touch exactly 1 directory.
    // (The DPP route is a no-op here — AQE plans dynamicpruningexpression(true)
    // for this join — which is WHY ivfSearchPruned pushes the probed cluster
    // set as a static isin partition filter instead.)
    val df = Similarity.ivfSearchPruned(emb.filter(col("vec_id") === 0), assigned, cents,
      "vec_id", "embedding", k = 3, nprobe = 1)
    df.collect()
    def findScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case f: FileSourceScanExec => Seq(f)
        case a: AdaptiveSparkPlanExec => findScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => findScans(q.plan)
        case other => other.children.flatMap(findScans)
      }
    val idxScan = findScans(df.queryExecution.executedPlan)
      .find(_.metadata.get("Location").exists(_.contains("plan_ivf_index")))
      .getOrElse(fail(s"no index scan in:\n${df.queryExecution.executedPlan}"))
    // the probed cluster set must reach the scan as a partition filter
    // (directory prune), so the search reads nprobe directories, not the index
    assert(idxScan.partitionFilters.exists(_.toString.contains("cluster")),
      s"no cluster partition filter on the index scan: ${idxScan.partitionFilters}")
    assert(idxScan.metrics("numPartitions").value === 1,
      s"scan read ${idxScan.metrics("numPartitions").value} of $nClusters cluster partitions")
  }

  test("IVF+PQ search prunes to probed cluster partitions of the coded index (S6@scale)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions._
    import graft.ext.Similarity
    val emb = Td(spark, sf, "embeddings")
    val cents = Similarity.kmeansTrain(emb, "vec_id", "embedding", k = 4, iters = 1)
      .select(col("centroid_id").cast("long").as("vec_id"), col("embedding"))
    val books = Similarity.pqTrain(emb, "vec_id", "embedding", dim = 64, m = 4, k = 8, iters = 1)
    val index = graft.tables.Scratch.stage(
      Similarity.ivfAssign(emb, cents, "vec_id", "embedding")
        .select(col("vec_id"), col("cluster"))
        .join(Similarity.pqEncode(emb, "vec_id", "embedding", books), Seq("vec_id")),
      "plan_ivfpq_index", Seq("cluster"))
    val nClusters = index.select("cluster").distinct().count()
    assert(nClusters > 1, "index must span multiple cluster partitions")

    val df = Similarity.ivfPqSearch(emb.filter(col("vec_id") === 0), index, cents,
      "vec_id", "embedding", books, k = 3, nprobe = 1)
    df.collect()
    def findScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case f: FileSourceScanExec => Seq(f)
        case a: AdaptiveSparkPlanExec => findScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => findScans(q.plan)
        case other => other.children.flatMap(findScans)
      }
    val idxScan = findScans(df.queryExecution.executedPlan)
      .find(_.metadata.get("Location").exists(_.contains("plan_ivfpq_index")))
      .getOrElse(fail(s"no index scan in:\n${df.queryExecution.executedPlan}"))
    assert(idxScan.partitionFilters.exists(_.toString.contains("cluster")),
      s"no cluster partition filter on the index scan: ${idxScan.partitionFilters}")
    assert(idxScan.metrics("numPartitions").value === 1,
      s"scan read ${idxScan.metrics("numPartitions").value} of $nClusters cluster partitions")
    // the ranked scan reads codes, never embeddings (float-free search)
    assert(!idxScan.schema.fieldNames.contains("embedding"),
      s"index scan carries floats: ${idxScan.schema.fieldNames.toSeq}")
  }

  test("residual IVF+PQ search prunes to probed clusters, float-free (S13@scale)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions._
    import graft.ext.Similarity
    val emb = Td(spark, sf, "embeddings")
    val cents = Similarity.kmeansTrain(emb, "vec_id", "embedding", k = 4, iters = 1)
      .select(col("centroid_id").cast("long").as("vec_id"), col("embedding"))
    val centers = Similarity.residualCenters(emb, cents, "vec_id", "embedding")
    val books = Similarity.pqTrainResidual(emb, "vec_id", "embedding", cents,
      centers, dim = 64, m = 4, k = 8, iters = 1)
    val index = graft.tables.Scratch.stage(
      Similarity.pqEncodeResidual(emb, cents, centers, "vec_id", "embedding", books),
      "plan_ivfpqr_index", Seq("cluster"))
    val nClusters = index.select("cluster").distinct().count()
    assert(nClusters > 1, "index must span multiple cluster partitions")

    val df = Similarity.ivfPqResidualSearch(emb.filter(col("vec_id") === 0), index,
      cents, centers, "vec_id", "embedding", books, k = 3, nprobe = 1)
    df.collect()
    def findScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case f: FileSourceScanExec => Seq(f)
        case a: AdaptiveSparkPlanExec => findScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => findScans(q.plan)
        case other => other.children.flatMap(findScans)
      }
    val idxScan = findScans(df.queryExecution.executedPlan)
      .find(_.metadata.get("Location").exists(_.contains("plan_ivfpqr_index")))
      .getOrElse(fail(s"no index scan in:\n${df.queryExecution.executedPlan}"))
    assert(idxScan.partitionFilters.exists(_.toString.contains("cluster")),
      s"no cluster partition filter on the index scan: ${idxScan.partitionFilters}")
    assert(idxScan.metrics("numPartitions").value === 1,
      s"scan read ${idxScan.metrics("numPartitions").value} of $nClusters cluster partitions")
    // the coarse term rides as a centers literal — the scan stays float-free
    assert(!idxScan.schema.fieldNames.contains("embedding"),
      s"index scan carries floats: ${idxScan.schema.fieldNames.toSeq}")
  }

  test("upsert merge compiles to one join, not repeated target passes (S8)") {
    val t = Td(spark, sf, "customer").select("c_custkey", "c_acctbal")
    val s = Td(spark, sf, "customer").select("c_custkey", "c_acctbal")
      .withColumn("c_acctbal", org.apache.spark.sql.functions.col("c_acctbal") * 2)
    val merged = graft.tables.Upsert.merge(t, s, Seq("c_custkey"))
    val p = merged.queryExecution.explainString(ExplainMode.fromString("simple"))
    val joins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r.findAllIn(p).length
    assert(joins === 1, s"merge should be a single full-outer join, found $joins:\n$p")
    // the dup-check window must ride the join's shuffle: the source side gets
    // exactly one exchange (window + join share hashpartitioning on the key)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 2, s"expected 2 exchanges (one per side), found $exchanges:\n$p")
  }

  test("mergeInto probe: broadcast left-semi over a key-only target scan, no target exchange") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.functions.col
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_probe").toString)
    val cust = Td(spark, sf, "customer").select("c_custkey", "c_name", "c_acctbal")
    store.overwrite("probe_target", cust)
    val source = cust.filter(col("c_custkey") < 5).withColumn("c_acctbal", col("c_acctbal") * 2)
    val probe = graft.tables.Upsert.matchProbe(store.read("probe_target"), source, Seq("c_custkey"))
    assert(!probe.isEmpty)
    probe.collect() // AQE finalizes the plan only on execution
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val all = nodes(probe.queryExecution.executedPlan)
    val shown = probe.queryExecution.executedPlan.toString
    assert(all.collect { case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j }.size === 1,
      s"expected one broadcast left-semi join:\n$shown")
    val targetScan = all.collect { case f: FileSourceScanExec => f }
      .find(_.metadata.get("Location").exists(_.contains("probe_target")))
      .getOrElse(fail(s"no target scan in:\n$shown"))
    assert(targetScan.requiredSchema.fieldNames.toSeq === Seq("c_custkey"),
      s"target scan reads more than the merge key: ${targetScan.requiredSchema}")
    assert(all.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"the probe must not shuffle:\n$shown")
  }

  test("range join is an equi-join on (key, bin) — never a nested loop (J8)") {
    val p = JoinQueries.j8RangeJoin.fn(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join must bin to an equi-join:\n$p")
    val equiJoins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r.findAllIn(p).length
    assert(equiJoins === 1, s"expected one equi-join, found $equiJoins:\n$p")
  }

  test("interval overlap is one equi-join, no dedup exchange (J10)") {
    val p = JoinQueries.j10IntervalOverlap.fn(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"overlap join must bin to an equi-join:\n$p")
    val equiJoins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r.findAllIn(p).length
    assert(equiJoins === 1, s"expected one equi-join, found $equiJoins:\n$p")
    // the owner-bin rule replaces dedup: no aggregate may sit above the join
    assert(!p.contains("HashAggregate(keys=[click_id"),
      s"owner-bin rule must make the output dedup-free:\n$p")
  }

  test("semDedup pairs only within clusters — never a corpus cross join (D21)") {
    // d21's semantics: pairing must stay an equi-join on `cluster`. A plan
    // with a nested-loop/cartesian over the corpus is the O(N²) failure
    // the clustering exists to prevent.
    val p = graft.queries.ExtQueries.d21SemDedup.fn(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"semDedup pairing must be an equi-join on cluster:\n$p")
    assert(p.contains("cluster"), s"pair join should key on cluster:\n$p")
  }

  test("as-of join is one key shuffle + one window — never a pairwise join (J7)") {
    val p = plan(JoinQueries.j7AsofJoin.fn(spark, sf))
    // the definitional form is a quadratic join + argmax; the shipped plan
    // must contain NO join operator at all
    val joins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|CartesianProduct".r
      .findAllIn(p).length
    assert(joins === 0, s"as-of must not compile to a join, found $joins:\n$p")
    assert("Window".r.findAllIn(p).length >= 1, "expected the carry-forward window")
    // both sides union, shuffled ONCE on the key (the final ORDER BY adds a
    // range exchange; no other hash exchange may appear)
    val exchanges = "hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1, s"expected exactly 1 hash exchange, found $exchanges:\n$p")
  }

  test("paragraph flag join carries only the df tail on its build side (D15)") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val lp = graft.queries.ExtQueries.d15ParagraphDedup.fn(spark, sf)
      .queryExecution.optimizedPlan
    // the flag join must be a LEFT join whose right subtree restricts the df
    // aggregate to the flaggable tail (df >= greatest(2, ceil(n/50))) BEFORE
    // the join — the optimizer folds the threshold filter into the 1-row
    // broadcast cross join's condition, so match the expression anywhere in
    // the right subtree. Joining the FULL df table back would sort-merge the
    // chunk relation against a same-sized table at scale.
    val flagJoins = lp.collect {
      case j: Join if j.joinType.toString == "LeftOuter" &&
        j.right.toString.contains("greatest(2") => j
    }
    assert(flagJoins.nonEmpty,
      s"expected a left join against the filtered df tail:\n$lp")
  }

  test("trained-artifact tables broadcast — corpus never shuffles for scoring (T15/T17)") {
    // the weight / LM tables are bounded model exports: they must arrive as
    // broadcasts; the only exchange is the doc-id aggregation
    val p15 = plan(graft.queries.ExtQueries.t15ClassifierWeighted.fn(spark, sf))
    assert(p15.contains("BroadcastHashJoin"), p15.linesIterator.take(40).mkString("\n"))
    assert(!p15.contains("SortMergeJoin"), "weight join must not sort-merge")
    val p17 = plan(graft.queries.ExtQueries.t17LmScored.fn(spark, sf))
    assert(p17.split("BroadcastHashJoin").length >= 3,
      "both LM tables (bigram + unigram) must broadcast")
    // t17's ONE SortMergeJoin is the doc-keyed outer join BACK to the doc
    // list — corpus-sized on both sides, correctly hash/sort-merge; the LM
    // joins themselves must never add a second
    assert("\\(\\d+\\) SortMergeJoin".r.findAllIn(p17).size <= 1,
      "only the doc-id outer join may sort-merge")
  }

  test("ANN exact refine: shortlist and queries broadcast into the corpus scan (S16@scale)") {
    import org.apache.spark.sql.functions._
    val emb = Td(spark, sf, "embeddings")
    val shortlist = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), (col("vec_id") + 7).as("neighbor_id"))
    val p = plan(graft.ext.Similarity.refineExact(
      shortlist, emb.filter(col("vec_id") < 2), emb, "vec_id", "embedding", k = 5))
    // the |Q|×kShort shortlist and the query vectors both broadcast: the
    // corpus-sized vector table is ONE map-only scan, never shuffled
    assert(p.split("BroadcastHashJoin").length >= 3,
      p.linesIterator.take(50).mkString("\n"))
    assert(!p.contains("SortMergeJoin"),
      "refine must never sort-merge the corpus")
    // everything past the fetch is |Q|×kShort-sized; the only exchange is
    // the per-query window over those rows
  }

  test("exact span confirm runs only behind the candidate semi-join (D22)") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val lp = graft.queries.ExtQueries.d22SpanExact.fn(spark, sf)
      .queryExecution.optimizedPlan
    // no doc×doc anywhere
    assert(lp.collect { case j: Join if j.joinType.sql == "CROSS" => j }.isEmpty,
      s"span confirm must never cross-join:\n$lp")
    // the candidate gate exists: at least one LeftSemi join feeding the
    // window explode (the exact stage's input is the semi-joined doc set)
    val semis = lp.collect { case j: Join if j.joinType.sql == "LEFT SEMI" => j }
    assert(semis.nonEmpty, s"expected the candidate LeftSemi gate:\n$lp")
  }

  test("bm25 index search: term filter pushed to the postings scan, no cartesian (X39@scale)") {
    import org.apache.spark.sql.functions.col
    val store = graft.tables.Scratch.store(spark)
    val docs = graft.Td(spark, sf, "documents").select(col("doc_id"), col("text"))
    graft.ext.Bm25.buildIndex(store, "planspec_bm", docs, "doc_id", "text")
    val p = plan(graft.ext.Bm25.searchIndex(store, "planspec_bm", "doc_id",
      Seq("table", "merge")))
    // the full-vocabulary postings table is the big artifact: the query-term
    // filter must reach its parquet scan, not apply post-read
    assert(p.contains("In(term") || p.contains("EqualTo(term"),
      "query-term filter must push to the postings scan:\n" +
        p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
    // df (k rows) and stats (1 row) ride broadcasts; nothing may cartesian
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(40).mkString("\n"))
    assert(!p.contains("CartesianProduct"),
      "the 1-row stats crossJoin must broadcast, never cartesian")
  }

  test("bloom membership rides the train scan, join-free (C4)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val lp = graft.queries.ExtQueries.c4DecontaminateBloom.fn(spark, sf)
      .queryExecution.optimizedPlan
    // the bloom predicate (element_at + bitwise AND conjuncts) must sit on
    // a JOIN-FREE subtree — i.e. the train shingles are pre-filtered on
    // their own scan, not after reaching the inverted-index join
    val bloomFilters = lp.collect {
      case f: Filter if f.condition.toString.contains("element_at") => f
    }
    assert(bloomFilters.nonEmpty, s"expected a bloom membership Filter:\n$lp")
    assert(bloomFilters.exists(_.collect { case j: Join => j }.isEmpty),
      "bloom filter must apply before any join, on the scan-side subtree")
  }

  /** Every node of an executed plan, through AQE's wrappers and query
    * stages (a reused stage contributes its [[ReusedExchangeExec]] leaf,
    * not a second copy of the exchange it points at). */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => allNodes(q.plan)
      case other => other +: other.children.flatMap(allNodes)
    }
  }

  test("dedup probe verify plan: the stored shingles are scanned once and the self-join shares one exchange") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    import spark.implicits._
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_probe_plan").toString)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val rnd = new scala.util.Random(5)
    val base = (0L until 30L).map(i => (i, Seq.fill(14)(words(rnd.nextInt(words.size))).mkString(" ")))
    graft.ext.DedupIndex.build(store, "pp", base.toDF("doc_id", "text"), "doc_id", "text")
    // near-copies of base docs, so the probe finds candidates and pairs
    val inc = base.take(6).map { case (i, t) => (100L + i, t + " omega") }.toDF("doc_id", "text")
    val (pairs, _) = graft.ext.DedupIndex.probeIncrement(store, "pp", inc, "doc_id", "text",
      threshold = 0.5)
    assert(pairs.count() > 0, "fixture: the probe must verify some pair")
    pairs.collect() // AQE finalizes the plan only on execution
    val shown = pairs.queryExecution.executedPlan.toString
    val all = allNodes(pairs.queryExecution.executedPlan)
    // the stored table, not the increment's stage beside it under .publish/
    def storedShingles(f: FileSourceScanExec) =
      f.metadata.get("Location").exists(l => l.contains("pp_shingles") && !l.contains(".publish"))
    assert(all.collect { case f: FileSourceScanExec if storedShingles(f) => f }.size === 1,
      s"the stored shingles must be scanned once:\n$shown")
    // the two sides of the Jaccard self-join read one shuffle of the
    // candidate shingles: every exchange over the stored-shingle scan is
    // planned once, and the other side reuses it
    val overScan = all.collect {
      case e: ShuffleExchangeExec if allNodes(e).exists {
        case f: FileSourceScanExec => storedShingles(f)
        case _ => false
      } => e
    }
    assert(overScan.nonEmpty, s"no exchange over the stored shingles:\n$shown")
    val reused = all.collect { case r: ReusedExchangeExec => r.child }
    assert(overScan.exists(e => reused.exists(_.sameResult(e))),
      s"the self-join's sides do not share an exchange:\n$shown")
  }

  test("incremental fact: the touched-month read of sb_fact pushes a date range to the scan") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_range").toString)
    val fx = "src/test/resources/fixtures"
    graft.pipeline.Pipelines.seedParent(spark, store, s"$fx/parent/full_load")
    graft.pipeline.Pipelines.runDimProducts(spark, store,
      s"$fx/child/full_load/products/products.csv")
    graft.pipeline.Pipelines.runFactFull(spark, store, s"$fx/child/orders_landing")
    // capture every query's plan while the increment runs; the rollup's
    // read of sb_fact is the one scan of that table with a date filter
    import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    org.apache.spark.graft.Bus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      graft.pipeline.Pipelines.runFactIncremental(spark, store, s"$fx/child/orders_incremental")
      org.apache.spark.graft.Bus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = allNodes(p).flatMap {
      case f: FileSourceScanExec => Seq(f)
      case c: CommandResultExec => scans(c.commandPhysicalPlan)
      case _ => Nil
    }
    val pushed = plans.asScala.toSeq.flatMap(scans)
      .filter(_.metadata.get("Location").exists(l =>
        l.contains("sb_fact_orders") && !l.contains(".publish")))
      .flatMap(_.metadata.get("PushedFilters"))
    // the increment touches Dec 2025 and Jan 2026: one [m, m + 1 month)
    // range each, as parquet-pushable comparisons on the raw column
    assert(pushed.exists(f =>
        f.contains("GreaterThanOrEqual(date,2025-12-01)") && f.contains("LessThan(date,2026-01-01)") &&
          f.contains("GreaterThanOrEqual(date,2026-01-01)") && f.contains("LessThan(date,2026-02-01)")),
      s"no date range in the sb_fact scans' PushedFilters: $pushed")
  }
}
