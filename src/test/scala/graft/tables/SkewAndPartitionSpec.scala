package graft.tables

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Specs for skew mitigation and partitioned table layout. */
class SkewAndPartitionSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin matches the plain join result on skewed data") {
    // one hot key (90% of rows) + a tail
    val skewed = ((1 to 900).map(_ => (1, "hot")) ++ (2 to 101).map(i => (i, s"k$i")))
      .toDF("k", "payload")
    val compact = (1 to 101).map(i => (i, i * 10)).toDF("k", "dim")
    val plain = skewed.join(compact, Seq("k")).groupBy("k")
      .agg(count(lit(1)).as("n"), sum("dim").as("s"))
    val salted = Skew.saltedJoin(skewed, compact, Seq("k"), factor = 8).groupBy("k")
      .agg(count(lit(1)).as("n"), sum("dim").as("s"))
    assert(salted.orderBy("k").collect().toSeq === plain.orderBy("k").collect().toSeq)

    val left = Skew.saltedJoin(skewed, compact.filter($"k" > 50), Seq("k"),
      factor = 4, joinType = "left")
    assert(left.count() === skewed.count()) // left keeps unmatched skewed rows
    assert(left.filter($"k" === 1).head().isNullAt(2)) // hot key unmatched → null dim
  }

  test("saltedAgg two-phase equals direct aggregation") {
    val df = ((1 to 500).map(_ => ("hot", 2.0)) ++ (1 to 50).map(i => (s"k${i % 7}", 1.0)))
      .toDF("k", "v")
    val direct = df.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))
    val salted = Skew.saltedAgg(df, Seq("k"), factor = 6)(
      Seq(count(lit(1)).cast("long") -> "n", sum($"v") -> "s"),
      n => sum(col(n)))
    assert(salted.orderBy("k").collect().toSeq === direct.orderBy("k").collect().toSeq)
  }

  test("partitioned fact: layout + partition-pruned scan") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_part").toString)
    val fact = (1 to 1000).map { i =>
      (f"2025-${i % 12 + 1}%02d-01", s"P${i % 7}", i.toDouble)
    }.toDF("month", "product", "qty")
    store.overwrite("fact_part", fact, partitionBy = Seq("month"))

    // hive-style month=... directories exist
    val dirs = new java.io.File(store.path("fact_part")).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("month=")).sorted
    assert(dirs.length === 12)

    // a month filter prunes partitions at plan time
    val q = store.read("fact_part").filter($"month" === "2025-03-01")
    val scan = q.queryExecution.executedPlan.toString
    // the month predicate lands in PartitionFilters (directory pruning),
    // not as a row-level data filter
    assert(scan.contains("PartitionFilters: [isnotnull(month") &&
      scan.contains("= 2025-03-01)"), scan)
    assert(q.count() === fact.filter($"month" === "2025-03-01").count())
  }

  test("mergePartitioned rewrites only touched partitions, preserves the rest") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_mp").toString)
    val base = Seq(
      ("2025-01-01", "A", 10.0), ("2025-01-01", "B", 20.0),
      ("2025-02-01", "A", 30.0), ("2025-03-01", "C", 40.0)
    ).toDF("month", "k", "v")
    store.overwrite("fact", base, partitionBy = Seq("month"))
    val janDir = new java.io.File(store.path("fact"), "month=2025-01-01")
    val janFilesBefore = janDir.listFiles().map(_.getName).toSet

    // increment touches only February (update A, insert D)
    val inc = Seq(("2025-02-01", "A", 31.0), ("2025-02-01", "D", 5.0)).toDF("month", "k", "v")
    Upsert.mergePartitioned(store, "fact", inc, Seq("month", "k"), "month")

    val out = store.read("fact").selectExpr("CAST(month AS STRING) AS month", "k", "v").orderBy("month", "k")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq === Seq(
      ("2025-01-01", "A", 10.0), ("2025-01-01", "B", 20.0),
      ("2025-02-01", "A", 31.0), ("2025-02-01", "D", 5.0),
      ("2025-03-01", "C", 40.0)))
    // untouched partitions keep their exact files (no rewrite)
    assert(janDir.listFiles().map(_.getName).toSet === janFilesBefore)

    // merge key must contain the partition column
    assertThrows[IllegalArgumentException] {
      Upsert.mergePartitioned(store, "fact", inc, Seq("k"), "month")
    }
  }

  test("mergePartitioned keeps existing NULL-partition rows (NULL never matches)") {
    val store = new TableStore(spark, Files.createTempDirectory("graft_mp_null").toString)
    val base = Seq[(Option[String], String, Int)](
      (Some("2024-01"), "a", 1), (None, "b", 2), (None, "c", 3)).toDF("month", "k", "v")
    val inc = Seq[(Option[String], String, Int)](
      (Some("2024-01"), "a", 9), (None, "d", 4)).toDF("month", "k", "v")
    store.overwrite("fact", base, partitionBy = Seq("month"))
    Upsert.mergePartitioned(store, "fact", inc, Seq("month", "k"), "month")

    def rows(df: org.apache.spark.sql.DataFrame) = df.select("month", "k", "v")
      .as[(Option[String], String, Int)].collect().sortBy(_._2).toSeq
    val want = Seq((Some("2024-01"), "a", 9), (None, "b", 2), (None, "c", 3), (None, "d", 4))
    assert(rows(store.read("fact")) === want)
    assert(rows(Upsert.merge(base, inc, Seq("month", "k"))) === want)
  }
}
