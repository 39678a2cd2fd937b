package graft.tables

import graft.{FaultFs, SparkSpec}
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import scala.jdk.CollectionConverters._

class TableStoreSpec extends SparkSpec {
  import spark.implicits._

  private def newStore() =
    new TableStore(spark, Files.createTempDirectory("graft_store").toString)

  /** A store on the `fault:` scheme, which logs creates, renames and
    * listings. */
  private def faultStore() = {
    FaultFs.install(spark)
    new TableStore(spark, FaultFs.root(Files.createTempDirectory("graft_store").toString))
  }

  /** The data files under `dir`, relative to it. */
  private def dataFiles(dir: String): Set[String] = {
    val p = new Path(dir)
    Compact.dataFiles(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
      .map(_._1.toUri.getPath.stripPrefix(p.toUri.getPath + "/")).toSet
  }

  /** The column-chunk codecs in the footers of `files`. */
  private def codecsOf(files: Seq[Path]): Set[String] = files.flatMap { p =>
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(p, spark.sparkContext.hadoopConfiguration))
    try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(_.getCodec.name))
    finally r.close()
  }.toSet

  /** The column-chunk codecs of every data file under `dir`. */
  private def codecs(dir: String): Set[String] = {
    val p = new Path(dir)
    codecsOf(Compact.dataFiles(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).map(_._1))
  }

  test("overwrite + read roundtrip, exists, drop") {
    val store = newStore()
    assert(!store.exists("t1"))
    store.overwrite("t1", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    assert(store.exists("t1"))
    assert(store.read("t1").count() === 2)
    store.drop("t1")
    assert(!store.exists("t1"))
  }

  test("overwrite is safe when the new value reads the old table (MERGE pattern)") {
    val store = newStore()
    store.overwrite("t", Seq((1, "a")).toDF("id", "v"))
    val merged = Upsert.merge(store.read("t"), Seq((2, "b")).toDF("id", "v"), Seq("id"))
    store.overwrite("t", merged) // would crash with naive saveAsTable(Overwrite)
    assert(store.read("t").as[(Int, String)].collect().sortBy(_._1).toSeq
      === Seq((1, "a"), (2, "b")))
  }

  test("overwrite swap crash recovery: a sidecar-complete staging is promoted, trash cleaned") {
    val root = Files.createTempDirectory("graft_store").toString
    val store = new TableStore(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$root/$s")

    // build the crash-window state between overwrite's two renames:
    // live ABSENT, old content in .trash_, the complete new table (data +
    // sidecar, exactly what overwrite stages before any rename) in .staging_
    store.overwrite("t", Seq((1, "old")).toDF("id", "v"))
    assert(fs.rename(p("t"), p(".trash_t_aaaa1111")))
    store.overwrite("tmpnew", Seq((2, "new")).toDF("id", "v"))
    assert(fs.rename(p("tmpnew"), p(".staging_t_bbbb2222")))

    // the table is never observably missing: exists() recovers by
    // promoting the committed staging, and both swap dirs are gone
    assert(store.exists("t"))
    assert(store.read("t").as[(Int, String)].collect().toSeq === Seq((2, "new")))
    assert(!fs.exists(p(".trash_t_aaaa1111")))
    assert(!fs.exists(p(".staging_t_bbbb2222")))
  }

  test("overwrite swap crash recovery: trash-only state restores; neighbors' dirs untouched") {
    val root = Files.createTempDirectory("graft_store").toString
    val store = new TableStore(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$root/$s")

    // trash-only (defensive branch): restore the old content
    store.overwrite("u", Seq((1, "old")).toDF("id", "v"))
    assert(fs.rename(p("u"), p(".trash_u_cccc3333")))
    assert(store.exists("u"))
    assert(store.read("u").as[(Int, String)].collect().toSeq === Seq((1, "old")))

    // prefix neighbor: table "w" is absent and only "w_codes" has a
    // staged dir — recovery of "w" must NOT promote the neighbor's
    // staging (the 8-hex-uuid suffix rule), and "w_codes" recovery works
    store.overwrite("tmpn", Seq((9, "n")).toDF("id", "v"))
    assert(fs.rename(p("tmpn"), p(".staging_w_codes_dddd4444")))
    assert(!store.exists("w"))
    assert(fs.exists(p(".staging_w_codes_dddd4444")))
    assert(store.exists("w_codes"))
    assert(store.read("w_codes").as[(Int, String)].collect().toSeq === Seq((9, "n")))
  }

  test("overwrite sweeps this table's stale swap dirs, never a neighbor's") {
    val root = Files.createTempDirectory("graft_store").toString
    val store = new TableStore(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$root/$s")
    store.overwrite("t", Seq((1, "a")).toDF("id", "v"))
    // stale trash from a crash after promote + a neighbor's staging
    fs.mkdirs(p(".trash_t_eeee5555"))
    fs.mkdirs(p(".staging_t_codes_ffff6666"))
    store.overwrite("t", Seq((2, "b")).toDF("id", "v"))
    assert(!fs.exists(p(".trash_t_eeee5555")))
    assert(fs.exists(p(".staging_t_codes_ffff6666")))
    assert(store.read("t").as[(Int, String)].collect().toSeq === Seq((2, "b")))
  }

  test("append accumulates (bronze fact pattern)") {
    val store = newStore()
    store.append("b", Seq(1).toDF("id"))
    store.append("b", Seq(2).toDF("id"))
    assert(store.read("b").count() === 2)
  }

  test("append with added column null-fills history (S7 schema evolution)") {
    val store = newStore()
    store.append("ev", Seq((1, "a")).toDF("id", "v"))
    // drifted frame adds `extra` — old files must read back NULL there,
    // not vanish or corrupt (the mixed-footer failure mode)
    store.append("ev", Seq((2, "b", 9.5)).toDF("id", "v", "extra"))
    val back = store.read("ev")
    assert(back.columns.toSeq === Seq("id", "v", "extra"))
    assert(back.as[(Int, String, Option[Double])].collect().sortBy(_._1).toSeq
      === Seq((1, "a", None), (2, "b", Some(9.5))))
  }

  test("append with missing column null-fills the incoming rows (S7)") {
    val store = newStore()
    store.append("ev2", Seq((1, "a", 1.0)).toDF("id", "v", "extra"))
    store.append("ev2", Seq((2, "b")).toDF("id", "v"))
    assert(store.read("ev2").as[(Int, String, Option[Double])].collect().sortBy(_._1).toSeq
      === Seq((1, "a", Some(1.0)), (2, "b", None)))
  }

  test("append rejects same-name type conflicts instead of writing mixed footers (S7)") {
    val store = newStore()
    store.append("ev3", Seq((1, "a")).toDF("id", "v"))
    val ex = intercept[IllegalArgumentException] {
      store.append("ev3", Seq((2, 7)).toDF("id", "v")) // v: string → int
    }
    assert(ex.getMessage.contains("schema conflict"))
    // strict mode rejects ANY drift
    intercept[IllegalArgumentException] {
      store.append("ev3", Seq((2, "b", 1.0)).toDF("id", "v", "extra"), mergeSchema = false)
    }
    assert(store.read("ev3").count() === 1) // table unharmed
  }

  test("append writes the schema sidecar only when the schema changes, and before the data when it widens") {
    val store = newStore()
    val sidecar = new java.io.File(store.path("sc"), "_graft_schema.json")
    store.append("sc", Seq((1, "a")).toDF("id", "v"))
    val bytes = Files.readAllBytes(sidecar.toPath).toSeq
    val mtime = sidecar.lastModified()
    Thread.sleep(1100) // past any file-system mtime granularity
    // same schema: the sidecar is neither rewritten nor touched
    store.append("sc", Seq((2, "b")).toDF("id", "v"))
    assert(Files.readAllBytes(sidecar.toPath).toSeq === bytes)
    assert(sidecar.lastModified() === mtime)
    assert(store.read("sc").count() === 2)
    // a widening append whose data write fails: the union is already
    // recorded — no data file of the append landed, so the sidecar was first
    val boom = org.apache.spark.sql.functions.udf((i: Int) =>
      if (i > 0) throw new IllegalStateException("boom") else i.toDouble)
    def dataFiles = new java.io.File(store.path("sc")).list()
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
    val filesBefore = dataFiles
    intercept[Exception] {
      store.append("sc", Seq((3, "c")).toDF("id", "v").withColumn("extra", boom($"id")))
    }
    assert(dataFiles === filesBefore)
    assert(store.schemaOf("sc").get.fieldNames.toSeq === Seq("id", "v", "extra"))
    assert(store.read("sc").count() === 2)
  }

  test("publish renames a stage's data files into the table: partition dirs created, no job, re-publish throws") {
    val store = newStore()
    store.append("pt", Seq((1, "a", 0), (2, "b", 1)).toDF("id", "v", "p"), partitionBy = Seq("p"))
    val before = dataFiles(store.path("pt"))
    // a stage in the table's layout, one partition value the table lacks,
    // and a column it lacks (the sidecar takes the union)
    val st = store.stage("pt",
      Seq((3, "c", 1, 1.5), (4, "d", 7, 2.5)).toDF("id", "v", "p", "w"), Seq("p"))
    assert(st.files.nonEmpty && st.files.forall(f => f.startsWith("p=") && !f.contains("_SUCCESS")))
    assert(st.rows.count() === 2)
    // staged files are invisible to the table until published
    assert(store.read("pt").count() === 2)
    assert(dataFiles(store.path("pt")) === before)

    assert(jobsDuring(store.publish(st)) === 0, "publish must run no Spark job")

    assert(dataFiles(store.path("pt")) === before ++ st.files)
    assert(new java.io.File(store.path("pt"), "p=7").isDirectory)
    assert(!new java.io.File(st.dir.stripPrefix("file:")).exists())
    assert(store.schemaOf("pt").get.fieldNames.toSet === Set("id", "v", "p", "w"))
    assert(store.read("pt").select("id", "p", "w").as[(Int, Int, Option[Double])]
      .collect().sortBy(_._1).toSeq ===
      Seq((1, 0, None), (2, 1, None), (3, 1, Some(1.5)), (4, 7, Some(2.5))))
    // a published (or swept) stage throws before anything moves
    intercept[java.io.FileNotFoundException](store.publish(st))
    assert(store.read("pt").count() === 4)
  }

  test("stage sweeps its table's generations more than keepLast behind and other applications' stages") {
    val store = newStore()
    val base = new java.io.File(store.path(".publish/sw"))
    val foreign = new java.io.File(base, "app-19700101000000-0000_g3")
    assert(foreign.mkdirs())
    spark.conf.set("graft.scratch.keepLast", "2")
    try {
      val s1 = store.stage("sw", Seq(1).toDF("id"))
      assert(!foreign.exists(), "a stage another application left must be swept")
      store.stage("sw", Seq(2).toDF("id"))
      assert(new java.io.File(s1.dir.stripPrefix("file:")).exists())
      store.stage("sw", Seq(3).toDF("id"))
      assert(!new java.io.File(s1.dir.stripPrefix("file:")).exists(),
        "a generation keepLast behind must be swept")
      intercept[java.io.FileNotFoundException](store.publish(s1))
      assert(base.list().length === 2)
    } finally spark.conf.unset("graft.scratch.keepLast")
  }


  test("every write path lands zstd column chunks, whatever codec the session sets") {
    spark.conf.set("spark.sql.parquet.compression.codec", "snappy")
    try {
      val store = newStore()
      val rows = (1 to 200).map(i => (i, s"v$i", i % 3))
      store.overwrite("ow", rows.toDF("id", "v", "p"))
      assert(codecs(store.path("ow")) === Set("ZSTD"))

      store.append("ap", rows.toDF("id", "v", "p"))
      store.append("ap", rows.toDF("id", "v", "p"))
      assert(codecs(store.path("ap")) === Set("ZSTD"))

      store.overwrite("pt", rows.toDF("id", "v", "p"), Seq("p"))
      store.rewritePartitions("pt", "p", Seq(0, 1, 2))(_ => rows.take(50).toDF("id", "v", "p"))
      assert(codecs(store.path("pt")) === Set("ZSTD"))

      val st = store.stage("pub", rows.toDF("id", "v", "p"))
      assert(codecs(st.dir) === Set("ZSTD"))
      store.publish(st)
      assert(codecs(store.path("pub")) === Set("ZSTD"))

      val scratch = Scratch.stage(rows.toDF("id", "v", "p"), "codec_probe")
      assert(codecsOf(scratch.inputFiles.toSeq.map(f => new Path(java.net.URI.create(f))))
        === Set("ZSTD"))

      Compact.compact(store, "ap", numFiles = Some(1))
      assert(codecs(store.path("ap")) === Set("ZSTD"))

      // a matching key: mergeInto's full rewrite
      Upsert.mergeInto(store, "ow", Seq((1, "new", 1)).toDF("id", "v", "p"), Seq("id"))
      assert(store.read("ow").filter($"id" === 1).select("v").as[String].collect().toSeq
        === Seq("new"))
      assert(codecs(store.path("ow")) === Set("ZSTD"))
    } finally spark.conf.unset("spark.sql.parquet.compression.codec")
  }

  test("a store holding snappy files reads every row across append, publish and mergeInto; compaction rewrites it as zstd") {
    val store = newStore()
    // a table an older writer left: snappy parquet straight in the table dir
    Seq((1, "a"), (2, "b")).toDF("id", "v").write
      .option("compression", "snappy").parquet(store.path("old"))
    assert(codecs(store.path("old")) === Set("SNAPPY"))
    store.append("old", Seq((3, "c")).toDF("id", "v"))
    store.publish(store.stage("old", Seq((4, "d")).toDF("id", "v")))
    // no key matches: the stage is published, the old files stay as they are
    Upsert.mergeInto(store, "old", Seq((5, "e")).toDF("id", "v"), Seq("id"))
    val all = Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e"))
    assert(codecs(store.path("old")) === Set("SNAPPY", "ZSTD"))
    assert(store.read("old").as[(Int, String)].collect().sortBy(_._1).toSeq === all)
    Compact.compact(store, "old", numFiles = Some(1))
    assert(codecs(store.path("old")) === Set("ZSTD"))
    assert(store.read("old").as[(Int, String)].collect().sortBy(_._1).toSeq === all)
  }

  test("rewritePartitions writes the schema sidecar only when the schema changes, and before any partition lands") {
    val store = faultStore()
    store.overwrite("f", Seq((1, "a", 0), (2, "b", 1)).toDF("id", "v", "p"), Seq("p"))
    def isSidecar(op: FaultFs.Op) =
      op.kind == "create" && op.path.getName == "_graft_schema.json"
    val tableDir = new Path(store.path("f")).toUri.getPath + "/"
    def touchesTable(op: FaultFs.Op) = op.kind == "rename" &&
      (op.path +: op.dst.toSeq).exists(_.toUri.getPath.startsWith(tableDir))
    val same = FaultFs.opsDuring(
      store.rewritePartitions("f", "p", Seq(1))(_ => Seq((3, "c", 1)).toDF("id", "v", "p")))
    assert(!same.exists(isSidecar), "an unchanged schema must not rewrite the sidecar")
    assert(same.exists(touchesTable))

    val wider = FaultFs.opsDuring(store.rewritePartitions("f", "p", Seq(2))(_ =>
      Seq((4, "d", 2, 9.5)).toDF("id", "v", "p", "w")))
    val sidecarAt = wider.indexWhere(isSidecar)
    val firstRename = wider.indexWhere(touchesTable)
    assert(sidecarAt >= 0 && firstRename >= 0)
    assert(sidecarAt < firstRename, "the union must be recorded before a partition lands")
    assert(wider.count(isSidecar) === 1)
    assert(store.schemaOf("f").get.fieldNames.toSeq === Seq("id", "v", "p", "w"))
    assert(store.read("f").select("id", "w").as[(Int, Option[Double])]
      .collect().sortBy(_._1).toSeq === Seq((1, None), (3, None), (4, Some(9.5))))
  }

  test("rewritePartitions: output outside the rewritten partitions throws before anything moves") {
    val store = newStore()
    store.overwrite("o", Seq((1, "a", 0), (2, "b", 1)).toDF("id", "v", "p"), Seq("p"))
    def files() = dataFiles(store.path("o")).map { r =>
      val f = new java.io.File(store.path("o"), r)
      (r, f.length(), f.lastModified())
    }
    val before = files()
    val e = intercept[IllegalArgumentException] {
      store.rewritePartitions("o", "p", Seq(0))(slice =>
        slice.union(Seq((9, "z", 5)).toDF("id", "v", "p")))
    }
    assert(e.getMessage.contains("p=5"), e.getMessage)
    assert(files() === before)
    assert(store.read("o").select("id", "v", "p").as[(Int, String, Int)].collect().toSet ===
      Set((1, "a", 0), (2, "b", 1)))
    assert(Option(new java.io.File(store.path(".publish/o")).list()).toSeq.flatten === Nil)
  }

  test("stage lists its dir once: the read-back's listing fills Staged.files") {
    val store = faultStore()
    def listingsOf(ops: Seq[FaultFs.Op], dir: String): Int = {
      val at = new Path(dir).toUri.getPath
      ops.count(op => op.kind == "list" && op.path.toUri.getPath == at)
    }
    var st: TableStore.Staged = null
    val ops = FaultFs.opsDuring {
      st = store.stage("l", Seq((1, "a", 0), (2, "b", 1)).toDF("id", "v", "p"), Seq("p"))
      st.files
    }
    assert(listingsOf(ops, st.dir) === 1)
    assert(Seq("p=0", "p=1").forall(d => listingsOf(ops, s"${st.dir}/$d") === 1))
    assert(st.files.toSet === dataFiles(st.dir))
    assert(st.files.forall(_.startsWith("p=")))

    val flat = FaultFs.opsDuring { st = store.stage("l2", Seq(1, 2, 3).toDF("id")); st.files }
    assert(listingsOf(flat, st.dir) === 1)
    assert(st.files.nonEmpty && st.files.toSet === dataFiles(st.dir))

    // Scratch.stage is the same primitive under the scratch root
    val scratchRoot = FaultFs.root(Files.createTempDirectory("graft_scratch").toString)
    spark.conf.set("graft.scratch.dir", scratchRoot)
    try {
      var rows: org.apache.spark.sql.DataFrame = null
      val sops = FaultFs.opsDuring { rows = Scratch.stage(Seq(1, 2).toDF("id"), "lst") }
      val stageDirs = sops.filter(op => op.kind == "list" &&
        op.path.toUri.getPath.contains("/.publish/lst/") &&
        op.path.getName.matches(".+_g[0-9]+")).map(_.path.toUri.getPath)
      assert(stageDirs.size === 1, s"one listing of the scratch stage dir, got $stageDirs")
      assert(rows.count() === 2)
    } finally spark.conf.unset("graft.scratch.dir")
  }

  test("overwrite mergeSchema=true keeps columns the new frame dropped (Delta parity)") {
    val store = newStore()
    store.overwrite("ow", Seq((1, "a", 2.0)).toDF("id", "v", "extra"))
    store.overwrite("ow", Seq((9, "z")).toDF("id", "v"), mergeSchema = true)
    val back = store.read("ow")
    assert(back.columns.toSeq === Seq("id", "v", "extra"))
    assert(back.as[(Int, String, Option[Double])].collect().toSeq === Seq((9, "z", None)))
    // default overwrite still replaces the schema outright
    store.overwrite("ow", Seq((3, "c")).toDF("id", "v"))
    assert(store.read("ow").columns.toSeq === Seq("id", "v"))
  }

  test("overwriteIfAbsentElse create-or-merge branch (S18)") {
    val store = newStore()
    store.overwriteIfAbsentElse("t", Seq((1, "a")).toDF("id", "v"))(identity)
    store.overwriteIfAbsentElse("t", Seq((1, "NEW")).toDF("id", "v")) { existing =>
      Upsert.merge(existing, Seq((1, "NEW"), (2, "b")).toDF("id", "v"), Seq("id"))
    }
    assert(store.read("t").as[(Int, String)].collect().sortBy(_._1).toSeq
      === Seq((1, "NEW"), (2, "b")))
  }
}
