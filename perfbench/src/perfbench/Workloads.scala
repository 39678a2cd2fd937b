package perfbench

import graft.clean.Normalize
import graft.ext.DedupIndex
import graft.ingest.JsonlIngest
import graft.pipeline.Pipelines
import graft.serve.EnrichedView
import graft.tables.{TableStore, Upsert}
import java.io.File
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import scala.collection.mutable

/** One workload: inputs generated from the seed, a set-up the run repeats on
  * fresh stores, and ops that each perform one user-visible action through
  * the program's public functions. `check` returns the op's output errors. */
trait Workload {
  /** Writes the set-up inputs; returns their bytes. */
  def generate(): Long
  def setup(store: TableStore): Unit
  /** Writes op `i`'s input, if any; returns its bytes. */
  def prepare(i: Int): Long
  def op(i: Int, store: TableStore, t: Tracer, rec: Option[OpRecord]): Unit
  def check(i: Int, store: TableStore): Seq[String]
}

object Workloads {
  val IndexName = "dedup_idx"
  val PairsTable = "gold_near_dup_pairs"

  def apply(name: String, spark: SparkSession, seed: Long, in: File): Workload = name match {
    case "orders_incremental" => new OrdersIncremental(spark, seed, in)
    case "crawl_dedup" => new CrawlDedup(spark, seed, in)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Every node of an executed plan, through AQE stages and reused exchanges. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

/** The write path: one landed day of dirty child orders per op, through the
  * medallion flow into consolidated gold, then the KPI cards read back over
  * the enriched star (the dashboard refresh a daily load exists for). */
final class OrdersIncremental(spark: SparkSession, seed: Long, in: File) extends Workload {
  val HistoryDays = 25
  val RowsPerDay = 2000
  val ParentFactRows = 20000
  private var orders: Gen.Orders = _
  private var truth: Gen.OrdersTruth = _
  private var kpis: Row = _

  def generate(): Long = {
    val (o, t) = Gen.orders(seed, in, HistoryDays, RowsPerDay, ParentFactRows)
    orders = o; truth = t
    o.inputBytes
  }

  def setup(store: TableStore): Unit = {
    Pipelines.seedParent(spark, store, orders.parentDir)
    Pipelines.runDimCustomers(spark, store, orders.customersCsv)
    Pipelines.runDimProducts(spark, store, orders.productsCsv)
    Pipelines.runDimPricing(spark, store, orders.pricesCsv)
    Pipelines.runFactFull(spark, store, orders.historyDir)
  }

  private def dayDir(i: Int) = new File(in, s"landing/op$i")

  def prepare(i: Int): Long = {
    val d = HistoryDays + i
    Gen.orderDay(seed, d, new File(dayDir(i), Gen.dayFileName(d)), RowsPerDay,
      orders.productIds, orders.customerIds, truth)
  }

  def op(i: Int, store: TableStore, t: Tracer, rec: Option[OpRecord]): Unit = {
    t.call("pipeline.runFactIncremental") {
      Pipelines.runFactIncremental(spark, store, dayDir(i).getPath)
    }
    val e = t.call("serve.build")(EnrichedView.build(store))
    val df = EnrichedView.kpis(e)
    kpis = t.call("serve.collect")(df.collect()).head
    rec.foreach { r =>
      val scans = Workloads.nodes(df.queryExecution.executedPlan).collect {
        case s: FileSourceScanExec => s
      }
      def metric(s: FileSourceScanExec, m: String) = s.metrics.get(m).map(_.value).getOrElse(0L)
      r.extra("scan_rows") += scans.map(metric(_, "numOutputRows")).sum
      r.extra("result_rows") += 1
      r.extra("fact_files") += scans
        .filter(_.relation.location.rootPaths.exists(_.getName == "gold_fact_orders"))
        .map(metric(_, "numFiles")).sum
    }
  }

  /** Child rows of consolidated gold (numeric customer codes; the parent's
    * are alphanumeric), per month: quantity total and row count; then the
    * KPI cards over parent and child together. */
  def check(i: Int, store: TableStore): Seq[String] = {
    val got = store.read("gold_fact_orders")
      .filter(col("customer_code").rlike("^[0-9]+$"))
      .groupBy(col("date")).agg(sum("sold_quantity"), count(lit(1)))
      .collect().map(r => r.getDate(0).toLocalDate -> (r.getDouble(1), r.getLong(2))).toMap
    val want = truth.qty.keySet.map(m => m -> (truth.qty(m), truth.cells(m).size.toLong)).toMap
    val monthly = (got.keySet ++ want.keySet).toSeq.sortBy(_.toString).flatMap { m =>
      if (got.get(m) == want.get(m)) None
      else Some(s"op $i: child gold for $m is ${got.get(m)}, expected ${want.get(m)}")
    }
    val k = kpis
    val cards = Seq(
      ("revenue", Workloads.close(k.getAs[Double]("revenue"), truth.revenue), truth.revenue),
      ("quantity", k.getAs[Double]("quantity") == truth.quantity, truth.quantity),
      ("n_customers", k.getAs[Long]("n_customers") == truth.customers, truth.customers.toDouble),
      ("asp", Workloads.close(k.getAs[Double]("asp"), truth.revenue / truth.quantity),
        truth.revenue / truth.quantity))
    monthly ++ cards.collect { case (name, false, w) =>
      s"op $i: KPI $name is ${k.getAs[Any](name)}, expected $w"
    }
  }
}

/** A durable near-duplicate index fed by small crawl increments, through the
  * batch body of the streaming near-dup sink. */
final class CrawlDedup(spark: SparkSession, seed: Long, in: File) extends Workload {
  val BaseDocs = 4000
  val BatchDocs = 125
  val Threshold = 0.8
  import Workloads.{IndexName, PairsTable}
  private val corpus = new Gen.Corpus(seed)
  private val indexed = mutable.ArrayBuffer.empty[String]
  private val seenPairs = mutable.Set.empty[(String, String)]
  private var mustFind = Seq.empty[(String, String)]
  private var batchIds = Seq.empty[String]
  private val docSchema =
    StructType(Seq(StructField("doc_id", StringType), StructField("text", StringType)))
  private def basePath = new File(in, "base.jsonl").getPath
  private def batchPath(i: Int) = new File(in, s"batch/b$i.jsonl").getPath

  def generate(): Long = {
    val docs = Gen.baseCorpus(corpus, seed, BaseDocs)
    indexed ++= docs.map(_._1)
    Gen.writeDocs(new File(basePath), docs)
  }

  private def read(path: String) =
    JsonlIngest.read(spark, path, schema = Some(docSchema), lineage = false)
      .select(col("doc_id"), col("text"))

  def setup(store: TableStore): Unit =
    DedupIndex.build(store, IndexName, read(basePath), "doc_id", "text")

  def prepare(i: Int): Long = {
    val (docs, must) = Gen.crawlBatch(corpus, seed, i, BatchDocs, indexed.toIndexedSeq)
    mustFind = must
    batchIds = docs.map(_._1).distinct
    Gen.writeDocs(new File(batchPath(i)), docs)
  }

  def op(i: Int, store: TableStore, t: Tracer, rec: Option[OpRecord]): Unit = {
    val batch = Normalize.dedupKeep(read(batchPath(i)), Seq("doc_id"), Seq(col("text")))
    val known = t.call("ext.knownIds")(DedupIndex.knownIds(store, IndexName, "doc_id"))
    val fresh = batch.join(known, Seq("doc_id"), "left_anti")
    val (pairs, stage) = t.call("ext.probeIncrement")(
      DedupIndex.probeIncrement(store, IndexName, fresh, "doc_id", "text", threshold = Threshold))
    val out = pairs.select(col("id_a"), col("id_b"), col("jaccard"))
    t.call("ext.pairs_upsert")(store.overwriteIfAbsentElse(PairsTable, out)(target =>
      Upsert.merge(target, out, Seq("id_a", "id_b"),
        onDuplicate = Upsert.DuplicatePolicy.DedupDeterministic)))
    t.call("ext.commitIncrement")(DedupIndex.commitIncrement(store, IndexName, stage))
    val stats = t.call("ext.maintainIfNeeded")(DedupIndex.maintainIfNeeded(store, IndexName))
    rec.foreach { r =>
      stats.foreach { s =>
        r.extra("compactions") += 1
        r.extra("compacted_bytes") += s.values.map(_.bytesBefore).sum
      }
    }
  }

  /** New pairs must re-verify outside Spark; planted Jaccard-1 variants must
    * be found; the batch's ids are then part of the index. */
  def check(i: Int, store: TableStore): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val all = if (!store.exists(PairsTable)) Array.empty[Row]
      else store.read(PairsTable).collect()
    val got = all.map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    got.foreach { case (p @ (a, b), j) =>
      if (!seenPairs(p)) {
        val truth = Gen.jaccard(corpus.texts(a), corpus.texts(b))
        if (a == b || truth < Threshold || !Workloads.close(truth, j))
          errs += s"op $i: pair ($a, $b) reported $j, recomputed $truth"
      }
    }
    seenPairs ++= got.keys
    mustFind.foreach { case (a, b) =>
      if (!got.contains((a, b)) && !got.contains((b, a)))
        errs += s"op $i: planted near-duplicate ($a, $b) not found"
    }
    val known = indexed.toSet
    indexed ++= batchIds.filterNot(known)
    errs.toSeq
  }
}
