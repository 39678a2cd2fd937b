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

  test("mergeInto, no match: the source runs once and the table gains exactly the stage's files, by rename") {
    import org.apache.spark.sql.functions.{col, udf}
    graft.FaultFs.install(spark)
    val dir = Files.createTempDirectory("graft_upsert_pub").toFile
    val store = new TableStore(spark, graft.FaultFs.root(dir.getPath))
    store.overwrite("t", t)
    val table = new File(dir, "t")
    def files: Map[String, Long] = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(table).filter(_.getName.endsWith(".parquet"))
        .map(f => table.toURI.relativize(f.toURI).getPath -> f.length).toMap
    }
    val before = files
    // counts every evaluation of a source row
    val evaluated = spark.sparkContext.longAccumulator("source rows")
    val tick = udf { (k: String) => evaluated.add(1); k }
    val source = Seq(("k8", 80, "s"), ("k9", 90, "s")).toDF("k", "v", "src")
      .withColumn("k", tick(col("k")))
    val moved = graft.FaultFs.renamesDuring(Upsert.mergeInto(store, "t", source, Seq("k")))
    assert(evaluated.value === 2L, "the source must be evaluated once")
    val after = files
    assert(before.forall { case (f, n) => after.get(f).contains(n) }, s"$before vs $after")
    val stages = new File(dir, ".publish/t").toURI.getPath
    val tablePath = table.toURI.getPath
    val intoTable = moved.filter(_._2.toUri.getPath.startsWith(tablePath))
    assert(intoTable.nonEmpty && intoTable.forall(_._1.toUri.getPath.startsWith(stages)),
      s"every new file must be renamed in from the stage: $intoTable")
    assert(intoTable.map(_._2.toUri.getPath.stripPrefix(tablePath)).toSet ===
      after.keySet -- before.keySet)
    assert(sorted(store.read("t")) ===
      Seq(("k1", 1, "t"), ("k2", 2, "t"), ("k3", 3, "t"), ("k8", 80, "s"), ("k9", 90, "s")))
  }

  test("mergeInto: the match path and a failed stage write leave nothing under .publish/<table>/") {
    val store = freshStore()
    store.overwrite("t", t)
    val stages = new File(store.path(".publish/t"))
    def left = Option(stages.listFiles()).toSeq.flatten
    Upsert.mergeInto(store, "t", Seq(("k2", 20, "s"), ("k9", 90, "s")).toDF("k", "v", "src"),
      Seq("k"))
    assert(stages.isDirectory, "the match path stages its source")
    assert(left.isEmpty, s"the match path left $left")
    assert(sorted(store.read("t")) ===
      Seq(("k1", 1, "t"), ("k2", 20, "s"), ("k3", 3, "t"), ("k9", 90, "s")))
    // DuplicatePolicy.Error raises inside the stage write, on a disjoint
    // source and on a matching one
    Seq("k8", "k1").foreach { k =>
      val dup = Seq((k, 80, "s"), (k, 81, "s")).toDF("k", "v", "src")
      intercept[Exception](Upsert.mergeInto(store, "t", dup, Seq("k")))
      assert(left.isEmpty, s"a failed stage write on $k left $left")
    }
    assert(sorted(store.read("t")) ===
      Seq(("k1", 1, "t"), ("k2", 20, "s"), ("k3", 3, "t"), ("k9", 90, "s")))
  }

  test("stageMerge: the staged rows read before the commit; an empty stage commits in no Spark job and adds no file; a second commit throws") {
    val store = freshStore()
    store.overwrite("t", t)
    val before = dataFiles(store, "t")
    val pending = Upsert.stageMerge(store, "t",
      Seq(("k9", 90, "s"), ("k9", 91, "s")).toDF("k", "v", "src"), Seq("k"),
      onDuplicate = Upsert.DuplicatePolicy.DedupDeterministic)
    // the prepared source: deduped per key, before the table changes
    assert(sorted(pending.rows) === Seq(("k9", 90, "s")))
    assert(sorted(store.read("t")) === sorted(t))
    pending.commit()
    assert(sorted(store.read("t")) === sorted(t) :+ (("k9", 90, "s")))
    intercept[IllegalArgumentException](pending.commit())

    val withK9 = dataFiles(store, "t")
    val empty = Upsert.stageMerge(store, "t",
      Seq.empty[(String, Int, String)].toDF("k", "v", "src"), Seq("k"))
    assert(jobsDuring(empty.commit()) === 0, "an empty stage must not be probed")
    assert(dataFiles(store, "t") === withK9 && before.keySet.subsetOf(withK9.keySet))
    assert(Option(new File(store.path(".publish/t")).listFiles()).toSeq.flatten.isEmpty,
      "the empty stage must be discarded")
  }
}
