package graft.tables

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The takedown cascade: row deletes are partition-scoped (untouched
  * partitions never move on disk), emptied partitions disappear entirely,
  * the dedup-index leg equals a from-scratch rebuild on survivors without
  * re-shingling anything, re-packing recomputes only affected shards, and
  * the versioned leg's diff is exactly the removed-id audit record.
  */
class DeletesSpec extends SparkSpec {
  import spark.implicits._

  private def newStore() = new TableStore(spark,
    java.nio.file.Files.createTempDirectory("graft_deletes").toString)

  /** (relative path, length, mtime) of every file under a table dir —
    * byte-identity proxy for "this directory never moved". */
  private def listing(store: TableStore, table: String): Set[(String, Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val base = new java.io.File(store.path(table))
    walk(base).map(f => (f.getPath.stripPrefix(base.getPath),
      f.length(), f.lastModified())).toSet
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("partition-scoped delete: untouched partitions never move, emptied ones vanish") {
    val store = newStore()
    val df = Seq(
      (1L, "m1", "a"), (2L, "m1", "b"),
      (3L, "m2", "c"), (4L, "m2", "d"),
      (5L, "m3", "e")).toDF("id", "month", "v")
    store.overwrite("t", df, partitionBy = Seq("month"))
    val m1Before = listing(store, "t").filter(_._1.contains("month=m1"))

    // delete id 3 (partial partition m2) and id 5 (empties m3)
    Deletes.deleteRows(store, "t", "id", Seq(3L, 5L).toDF("id"), Some("month"))

    assert(rows(store.read("t").select("id", "month", "v")) ===
      Set(Seq(1L, "m1", "a"), Seq(2L, "m1", "b"), Seq(4L, "m2", "d")))
    // m1 held no deleted id: its files are byte-identical in place
    assert(listing(store, "t").filter(_._1.contains("month=m1")) === m1Before)
    // m3 was emptied: the directory itself is gone, not a live husk
    assert(!new java.io.File(store.path("t"), "month=m3").exists())
  }

  test("predicate delete: SQL NULL semantics, partition-scoped, emptied partitions vanish") {
    val store = newStore()
    val df = Seq(
      (1L, "m1", Some(5)), (2L, "m1", None), // NULL predicate → survives
      (3L, "m2", Some(50)), (4L, "m2", Some(5)),
      (5L, "m3", Some(99))).toDF("id", "month", "v")
    store.overwrite("t", df, partitionBy = Seq("month"))
    val m1Before = listing(store, "t").filter(_._1.contains("month=m1"))
    // nothing in m1 matches v > 10 (2's NULL is not TRUE): m1 must not move
    Deletes.deleteWhere(store, "t", col("v") > 10, Some("month"))
    assert(rows(store.read("t").select("id")) === Set(Seq(1L), Seq(2L), Seq(4L)))
    assert(listing(store, "t").filter(_._1.contains("month=m1")) === m1Before)
    assert(!new java.io.File(store.path("t"), "month=m3").exists())
  }

  test("predicate update: assignments only where TRUE, untouched partitions in place, partition col guarded") {
    val store = newStore()
    val df = Seq(
      (1L, "m1", Some(5)), (2L, "m1", None),
      (3L, "m2", Some(50)), (4L, "m2", Some(5))).toDF("id", "month", "v")
    store.overwrite("t", df, partitionBy = Seq("month"))
    val m1Before = listing(store, "t").filter(_._1.contains("month=m1"))
    Deletes.updateWhere(store, "t", col("v") > 10,
      Map("v" -> (col("v") * 2)), Some("month"))
    val got = store.read("t").select("id", "v").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got === Map(1L -> Some(5), 2L -> None, 3L -> Some(100), 4L -> Some(5)))
    // m1 held no matching row: byte-identical in place
    assert(listing(store, "t").filter(_._1.contains("month=m1")) === m1Before)
    val e = intercept[IllegalArgumentException] {
      Deletes.updateWhere(store, "t", col("v") > 10,
        Map("month" -> lit("m9")), Some("month"))
    }
    assert(e.getMessage.contains("partition column"))
  }

  test("update evaluates predicate and all RHS against the OLD row (SET a=b, b=a swaps)") {
    val store = newStore()
    store.overwrite("t",
      Seq((1L, 10, 20), (2L, 5, 7)).toDF("id", "a", "b"))
    // SQL UPDATE semantics: both RHS read pre-update values, and the
    // condition references a column being assigned — a sequential
    // withColumn fold would see a already rewritten and corrupt b
    Deletes.updateWhere(store, "t", col("a") === 10,
      Map("a" -> col("b"), "b" -> col("a")))
    val got = store.read("t").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(got === Map(1L -> ((20, 10)), 2L -> ((5, 7))))
    // assigning a column the table doesn't have fails loudly (no silent ADD COLUMN)
    val e2 = intercept[IllegalArgumentException] {
      Deletes.updateWhere(store, "t", lit(true), Map("nope" -> lit(1)))
    }
    assert(e2.getMessage.contains("not in the table"))
  }

  test("bm25 cascade leg: post-delete search equals a from-scratch rebuild on survivors") {
    import graft.ext.Bm25
    val store = newStore()
    val docs = Seq(
      (1L, "spark table merge table"),
      (2L, "merge spark spark"),
      (3L, "table table table noise"),
      (4L, "spark merge table words here"),
      (5L, "unrelated text entirely")).toDF("doc_id", "text")
    Bm25.buildIndex(store, "bm", docs, "doc_id", "text")
    // full-index search matches the query-time scorer double-for-double
    val live = Bm25.score(docs, "doc_id", "text", Seq("spark", "table"), topK = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val idx = Bm25.searchIndex(store, "bm", "doc_id", Seq("spark", "table"), topK = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(idx === live, "searchIndex(buildIndex(d)) must equal score(d) exactly")
    // cascade-delete docs 1 and 4 (df of every query term shifts, N and
    // avgdl shift) and compare against an index rebuilt on survivors
    Deletes.cascade(store, Seq(1L, 4L).toDF("doc_id"), "doc_id",
      bm25Indexes = Seq("bm"))
    val survivors = docs.filter(!col("doc_id").isin(1L, 4L))
    Bm25.buildIndex(store, "bm_rebuilt", survivors, "doc_id", "text")
    val adjusted = Bm25.searchIndex(store, "bm", "doc_id", Seq("spark", "table"), topK = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    val rebuilt = Bm25.searchIndex(store, "bm_rebuilt", "doc_id", Seq("spark", "table"), topK = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(adjusted === rebuilt,
      "post-delete index must score identically to a from-scratch rebuild")
    assert(!adjusted.exists(r => r._1 == 1L || r._1 == 4L))
    // idempotent: re-running the leg with the same ids changes nothing
    Bm25.deleteIds(store, "bm", Seq(1L, 4L).toDF("doc_id"), "doc_id")
    val again = Bm25.searchIndex(store, "bm", "doc_id", Seq("spark", "table"), topK = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(again === adjusted)
  }

  test("pairTables cascade leg: a pair row dies when EITHER side is deleted; idempotent") {
    val store = newStore()
    store.overwrite("pairs", Seq(
      (1L, 2L, 0.9), (3L, 4L, 0.85), (5L, 1L, 0.95), (6L, 7L, 0.8))
      .toDF("id_a", "id_b", "jaccard"))
    val ids = Seq(1L, 4L).toDF("doc_id")
    Deletes.cascade(store, ids, "doc_id", pairTables = Seq("pairs"))
    def rows() = store.read("pairs")
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    // (1,2) dies on id_a, (5,1) on id_b, (3,4) on id_b; (6,7) survives
    assert(rows() === Set((6L, 7L)))
    // idempotent: re-running the same takedown changes nothing
    Deletes.cascade(store, ids, "doc_id", pairTables = Seq("pairs"))
    assert(rows() === Set((6L, 7L)))
  }

  test("restore re-publishes an old snapshot as the new latest; the bad version stays diffable") {
    val store = newStore()
    Versions.overwrite(store, "snap", Seq((1L, "good"), (2L, "good")).toDF("id", "v"))
    Versions.overwrite(store, "snap", Seq((1L, "BAD")).toDF("id", "v"))
    val v = Versions.restore(store, "snap", 1L)
    assert(v === 3L)
    assert(rows(Versions.read(store, "snap")) === Set(Seq(1L, "good"), Seq(2L, "good")))
    // the restore is an audited event: diff(bad, restored) is the exact undo
    val d = Versions.diff(store, "snap", 2L, 3L, "id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d === Map(1L -> "changed", 2L -> "added"))
  }

  test("rewritePartitions reaches a hive %-escaped partition dir") {
    val store = newStore()
    // ':' is in Spark's escape set → dir is month=a%3Ab on disk
    store.overwrite("t", Seq((1L, "a:b"), (2L, "ok")).toDF("id", "month"),
      partitionBy = Seq("month"))
    store.rewritePartitions("t", "month", Seq("a:b"))(_.withColumn("id", col("id") + 10))
    assert(rows(store.read("t").select("id", "month")) === Set(Seq(11L, "a:b"), Seq(2L, "ok")))
    Deletes.deleteRows(store, "t", "id", Seq(11L).toDF("id"), Some("month"))
    assert(rows(store.read("t").select("id", "month")) === Set(Seq(2L, "ok")))
    assert(!new java.io.File(store.path("t"), "month=a%3Ab").exists())
  }

  test("partitioned DELETE and UPDATE reach the NULL partition") {
    val store = newStore()
    store.overwrite("t", Seq[(Long, Option[String], String)](
      (1L, Some("m1"), "a"), (2L, None, "b"), (3L, None, "c")).toDF("id", "month", "v"),
      partitionBy = Seq("month"))
    val nullDir = new java.io.File(store.path("t"), "month=__HIVE_DEFAULT_PARTITION__")
    val m1Before = listing(store, "t").filter(_._1.contains("month=m1"))
    Deletes.deleteRows(store, "t", "id", Seq(2L).toDF("id"), Some("month"))
    assert(rows(store.read("t").select("id", "v")) === Set(Seq(1L, "a"), Seq(3L, "c")))
    Deletes.updateWhere(store, "t", col("id") === 3L, Map("v" -> lit("z")), Some("month"))
    assert(rows(store.read("t").select("id", "v")) === Set(Seq(1L, "a"), Seq(3L, "z")))
    assert(nullDir.exists())
    Deletes.deleteWhere(store, "t", col("id") === 3L, Some("month"))
    assert(rows(store.read("t").select("id", "month", "v")) === Set(Seq(1L, "m1", "a")))
    assert(!nullDir.exists())
    assert(listing(store, "t").filter(_._1.contains("month=m1")) === m1Before)
  }

  test("partitioned delete job count: the emptied partitions come from the stage listing") {
    val store = newStore()
    store.overwrite("t", Seq(
      (1L, "m1", "a"), (2L, "m1", "b"),
      (3L, "m2", "c"), (4L, "m2", "d"),
      (5L, "m3", "e")).toDF("id", "month", "v"), partitionBy = Seq("month"))
    val jobs = jobsDuring(
      Deletes.deleteRows(store, "t", "id", Seq(3L, 5L).toDF("id"), Some("month")))
    assert(rows(store.read("t").select("id")) === Set(Seq(1L), Seq(2L), Seq(4L)))
    assert(!new java.io.File(store.path("t"), "month=m3").exists())
    // the affected-partition collect and the stage write; a collect of the
    // surviving partitions (to find the emptied m3) would run 4 jobs more
    assert(jobs === 7)
  }

  test("index delete equals a from-scratch rebuild on survivors; no text read, untouched buckets in place") {
    val store = newStore()
    val docs = (0L until 60L).map(i =>
      (i, s"alpha beta gamma delta w$i x${i % 7} y${i % 5} z${i % 3} end")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_delcorpus").toString
    docs.write.parquet(s"$tmp/docs")
    val stored = spark.read.parquet(s"$tmp/docs")
    graft.ext.DedupIndex.build(store, "idx", stored, "doc_id", "text", idBuckets = 8)

    val deleted = Seq(5L, 17L, 23L).toDF("doc_id")
    val affectedBkts = Seq(5L, 17L, 23L).toDF("doc_id")
      .select(pmod(xxhash64(col("doc_id")), lit(8L)).as("b"))
      .collect().map(_.getLong(0)).toSet
    // partition-dir files only: the root-level schema sidecar is
    // legitimately rewritten by the partition overwrite
    val untouchedBefore = listing(store, "idx_shingles")
      .filter(_._1.contains("_bkt8="))
      .filterNot(e => affectedBkts.exists(b => e._1.contains(s"_bkt8=$b")))

    // the corpus parquet is GONE before the delete: any plan that tried to
    // re-shingle a survivor would fail at action time
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$tmp/docs"))
    Deletes.cascade(store, deleted, "doc_id", indexes = Seq("idx"))

    // ground truth: a fresh build over the survivors only
    val store2 = newStore()
    graft.ext.DedupIndex.build(store2, "idx", docs.filter(!col("doc_id").isin(5L, 17L, 23L)),
      "doc_id", "text", idBuckets = 8)
    for ((get: ((TableStore, String) => DataFrame)) <- Seq[(TableStore, String) => DataFrame](
        (st, n) => graft.ext.DedupIndex.bandsOf(st, n),
        (st, n) => graft.ext.DedupIndex.sizesOf(st, n),
        (st, n) => graft.ext.DedupIndex.shinglesOf(st, n, "doc_id"))) {
      assert(rows(get(store, "idx")) === rows(get(store2, "idx")))
    }
    // buckets no deleted id hashed to were never rewritten
    assert(listing(store, "idx_shingles")
      .filter(_._1.contains("_bkt8="))
      .filterNot(e => affectedBkts.exists(b => e._1.contains(s"_bkt8=$b"))) ===
      untouchedBefore)
  }

  test("repack recomputes only affected shards and matches a full re-assign on survivors") {
    val store = newStore()
    val docs = Seq(
      (1L, "s1", 40L), (2L, "s1", 50L), (3L, "s1", 30L),
      (4L, "s2", 60L), (5L, "s2", 45L),
      (6L, "s3", 70L)).toDF("doc_id", "shard", "n_tok")
    val packed = graft.ext.Packing.assign(docs, "doc_id", "n_tok", Seq("shard"), 100L)
    store.overwrite("packs", packed, partitionBy = Seq("shard"))
    val s2s3Before = listing(store, "packs")
      .filter(e => e._1.contains("shard=s2") || e._1.contains("shard=s3"))

    val spec = Deletes.PackSpec("packs", "doc_id", "n_tok", "shard", 100L)
    Deletes.cascade(store, Seq(1L).toDF("doc_id"), "doc_id", packs = Seq(spec))

    val expected = graft.ext.Packing.assign(
      docs.filter(col("doc_id") =!= 1L), "doc_id", "n_tok", Seq("shard"), 100L)
    assert(rows(store.read("packs").select("doc_id", "shard", "n_tok", "pack_id", "pack_offset")) ===
      rows(expected.select("doc_id", "shard", "n_tok", "pack_id", "pack_offset")))
    // deleting doc 1 shifted docs 2 and 3 (same shard, later in stream) but
    // s2/s3 never moved on disk
    assert(listing(store, "packs")
      .filter(e => e._1.contains("shard=s2") || e._1.contains("shard=s3")) === s2s3Before)
  }

  test("versioned delete: the new version's diff is exactly the removed-id audit record") {
    val store = newStore()
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v")
    Versions.overwrite(store, "snap", v1)
    val newV = Deletes.deleteVersioned(store, "snap", "id", Seq(2L, 4L).toDF("id"))
    assert(newV === 2L)
    assert(rows(Versions.read(store, "snap").select("id")) === Set(Seq(1L), Seq(3L)))
    val d = Versions.diff(store, "snap", 1L, 2L, "id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d === Map(1L -> "unchanged", 2L -> "removed", 3L -> "unchanged", 4L -> "removed"))
  }

  test("cascade is idempotent: re-running with the same ids is a no-op on content") {
    val store = newStore()
    store.overwrite("t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val ids = Seq(2L).toDF("id")
    Deletes.cascade(store, ids, "id", corpus = Seq("t"))
    val once = rows(store.read("t"))
    Deletes.cascade(store, ids, "id", corpus = Seq("t"))
    assert(rows(store.read("t")) === once)
    assert(once === Set(Seq(1L, "a"), Seq(3L, "c")))
  }

  test("compactTakedownLog keeps each id's first-processed row, is idempotent, never drops an id") {
    val store = newStore()
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def t(h: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:00:00")
    // id 7 processed in batches 0, 2, 5; id 9 twice inside batch 1 (chunked
    // replay); id 3 once — the audit keeps 7@batch0, 9@batch1-early, 3
    store.append("td_log", Seq(
      (7L, 0L, t(1)), (9L, 1L, t(2)), (9L, 1L, t(5)), (3L, 4L, ts),
      (7L, 2L, t(3)), (7L, 5L, t(4))).toDF("doc_id", "batch_id", "processed_at"))

    val (before, after) = Deletes.compactTakedownLog(store, "td_log", "doc_id")
    assert((before, after) === (6L, 3L))
    assert(rows(store.read("td_log")) === Set(
      Seq(7L, 0L, t(1)), Seq(9L, 1L, t(2)), Seq(3L, 4L, ts)))
    assert(!store.exists("td_log_compact_stage"))
    assert(storeTables(store) === Set("td_log"))

    // idempotent: a second pass rewrites identical content
    val (b2, a2) = Deletes.compactTakedownLog(store, "td_log", "doc_id")
    assert((b2, a2) === (3L, 3L))
    assert(rows(store.read("td_log")) === Set(
      Seq(7L, 0L, t(1)), Seq(9L, 1L, t(2)), Seq(3L, 4L, ts)))

    // the replay-guard id set is intact: every ever-processed id still
    // anti-joins out of a re-delivered batch
    assert(store.read("td_log").select("doc_id").distinct()
      .as[Long].collect().toSet === Set(3L, 7L, 9L))
  }
}
