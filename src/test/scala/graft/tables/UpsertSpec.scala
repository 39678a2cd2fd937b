package graft.tables

import graft.SparkSpec
import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import java.io.File
import java.nio.file.Files

/** MERGE INTO semantics per SURVEY.md §2.6. */
class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def t: DataFrame =
    Seq(("k1", 1, "t"), ("k2", 2, "t"), ("k3", 3, "t")).toDF("k", "v", "src")

  private def sorted(df: DataFrame): Seq[(String, Int, String)] =
    df.as[(String, Int, String)].collect().sortBy(_._1).toSeq

  test("matched rows updated, unmatched source inserted, unmatched target untouched") {
    val s = Seq(("k2", 20, "s"), ("k9", 90, "s")).toDF("k", "v", "src")
    val out = sorted(Upsert.merge(t, s, Seq("k")))
    assert(out === Seq(("k1", 1, "t"), ("k2", 20, "s"), ("k3", 3, "t"), ("k9", 90, "s")))
  }

  test("update=false (insert-only, reference full-load sb_fact 1_full_load_fact:182-186)") {
    val s = Seq(("k2", 20, "s"), ("k9", 90, "s")).toDF("k", "v", "src")
    val out = sorted(Upsert.merge(t, s, Seq("k"), update = false))
    assert(out === Seq(("k1", 1, "t"), ("k2", 2, "t"), ("k3", 3, "t"), ("k9", 90, "s")))
  }

  test("insert=false (update-only merge)") {
    val s = Seq(("k2", 20, "s"), ("k9", 90, "s")).toDF("k", "v", "src")
    val out = sorted(Upsert.merge(t, s, Seq("k"), insert = false))
    assert(out === Seq(("k1", 1, "t"), ("k2", 20, "s"), ("k3", 3, "t")))
  }

  test("explicit updateCols subset keeps other target columns (2_products:245-263)") {
    val s = Seq(("k2", 20, "s")).toDF("k", "v", "src")
    val out = sorted(Upsert.merge(t, s, Seq("k"), updateCols = Some(Seq("v"))))
    assert(out === Seq(("k1", 1, "t"), ("k2", 20, "t"), ("k3", 3, "t")))
  }

  test("multi-column merge keys (reference fact merges on 3-4 cols)") {
    val t2 = Seq(("a", 1, "t"), ("a", 2, "t")).toDF("k", "v", "src")
    val s2 = Seq(("a", 2, "s"), ("b", 9, "s")).toDF("k", "v", "src")
    val out = sorted(Upsert.merge(t2, s2, Seq("k", "v")))
    assert(out === Seq(("a", 1, "t"), ("a", 2, "s"), ("b", 9, "s")))
  }

  test("duplicate source keys raise under DuplicatePolicy.Error (Delta parity)") {
    val s = Seq(("k2", 20, "s"), ("k2", 21, "s")).toDF("k", "v", "src")
    val e = intercept[Exception] {
      Upsert.merge(t, s, Seq("k")).collect()
    }
    assert(e.getMessage.contains("multiple source rows") ||
      Option(e.getCause).exists(_.getMessage.contains("multiple source rows")))
  }

  test("duplicate source keys resolved by KeepLatest") {
    val s = Seq(("k2", 20, "s"), ("k2", 21, "s")).toDF("k", "v", "src")
    val out = sorted(Upsert.merge(t, s, Seq("k"),
      onDuplicate = Upsert.DuplicatePolicy.KeepLatest("v")))
    assert(out.find(_._1 == "k2").get === (("k2", 21, "s")))
  }

  test("idempotence: merge(merge(T,S),S) == merge(T,S) (SURVEY §5 property)") {
    val s = Seq(("k2", 20, "s"), ("k9", 90, "s")).toDF("k", "v", "src")
    val once = Upsert.merge(t, s, Seq("k"))
    val twice = Upsert.merge(once, s, Seq("k"))
    assert(sorted(once) === sorted(twice))
  }

  test("null keys never match (SQL equality semantics)") {
    val t2 = Seq((Option.empty[String], 1, "t")).toDF("k", "v", "src")
    val s2 = Seq((Option.empty[String], 9, "s")).toDF("k", "v", "src")
    val out = Upsert.merge(t2, s2, Seq("k")).as[(Option[String], Int, String)].collect()
    assert(out.length === 2) // both null-key rows survive, no match
  }

  private def freshStore(): TableStore =
    new TableStore(spark, Files.createTempDirectory("graft_upsert").toString)

  /** Every file under the table dir, relative path -> size. */
  private def listing(store: TableStore, table: String): Map[String, Long] = {
    val root = new File(store.path(table))
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(root).map(f => root.toURI.relativize(f.toURI).getPath -> f.length).toMap
  }

  private def dataFiles(store: TableStore, table: String): Map[String, Long] =
    listing(store, table).filter(_._1.endsWith(".parquet"))

  test("mergeInto: a disjoint source keeps every existing data file and adds only new ones") {
    val store = freshStore()
    store.overwrite("t", t)
    val before = dataFiles(store, "t")
    Upsert.mergeInto(store, "t", Seq(("k8", 80, "s"), ("k9", 90, "s")).toDF("k", "v", "src"),
      Seq("k"))
    val after = dataFiles(store, "t")
    assert(before.forall { case (f, n) => after.get(f).contains(n) }, s"$before vs $after")
    assert(after.size > before.size)
    assert(sorted(store.read("t")) ===
      Seq(("k1", 1, "t"), ("k2", 2, "t"), ("k3", 3, "t"), ("k8", 80, "s"), ("k9", 90, "s")))

    // any match takes the full rewrite: no old data file survives
    Upsert.mergeInto(store, "t", Seq(("k2", 20, "s")).toDF("k", "v", "src"), Seq("k"))
    assert(dataFiles(store, "t").keySet.intersect(after.keySet).isEmpty)
    assert(sorted(store.read("t")).find(_._1 == "k2").get === (("k2", 20, "s")))
  }

  test("mergeInto: DuplicatePolicy.Error on the append path throws and writes nothing") {
    val store = freshStore()
    store.overwrite("t", t)
    val before = listing(store, "t")
    val dup = Seq(("k8", 80, "s"), ("k8", 81, "s")).toDF("k", "v", "src")
    val e = intercept[Exception](Upsert.mergeInto(store, "t", dup, Seq("k")))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("multiple source rows"))), e)
    // the schema sidecar may record widened nullability; no file comes or goes
    assert(listing(store, "t").keySet === before.keySet)
    assert(dataFiles(store, "t") === before.filter(_._1.endsWith(".parquet")))
    assert(sorted(store.read("t")) === sorted(t))
  }
}
