package graft.ext

import graft.SparkSpec
import graft.tables.TableStore

/** The shared cap-policy read ([[Clapper.readPolicy]]) has a typed
  * outcome: an absent policy is "no policy"; a policy table that exists
  * but cannot be read throws, naming the table — a corrupt policy must
  * never silently run the probe uncapped or the search unpruned.
  */
class CapPolicyReadSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(tag: String): TableStore = new TableStore(spark,
    java.nio.file.Files.createTempDirectory(s"graft_cpr_$tag").toString)

  /** Overwrite every parquet part of `table` with bytes that are not parquet. */
  private def corrupt(s: TableStore, table: String): Unit = {
    val parts = new java.io.File(s.path(table)).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.nonEmpty, s"no parquet part under $table")
    parts.foreach(f => java.nio.file.Files.write(f.toPath, "not parquet".getBytes("UTF-8")))
  }

  private def assertUnreadable(table: String)(read: => Any): Unit = {
    val e = intercept[IllegalStateException](read)
    assert(e.getMessage.contains(table), e.getMessage)
  }

  test("DedupIndex.storedBucketCap: absent is None, written is the cap, corrupt throws naming the table") {
    val s = freshStore("dedup")
    val flood = "the same boilerplate line every time"
    DedupIndex.build(s, "cp", ((1L to 6L).map(i => (i, s"organic doc $i words here")) ++
      (100L to 111L).map(i => (i, flood))).toDF("doc_id", "text"), "doc_id", "text")
    assert(DedupIndex.storedBucketCap(s, "cp").isEmpty)
    val ring = DedupIndex.capIfUnhealthy(s, "cp", hotBucketBudget = 10)
    assert(ring.triggered)
    assert(DedupIndex.storedBucketCap(s, "cp") === ring.cap)
    corrupt(s, "cp_cap_policy")
    assertUnreadable("cp_cap_policy")(DedupIndex.storedBucketCap(s, "cp"))
    assertUnreadable("cp_cap_policy")(DedupIndex.capIfUnhealthy(s, "cp", hotBucketBudget = 10))
  }

  test("Bm25.storedDfCap and the stop-term read: corrupt throws naming the table") {
    val s = freshStore("bm25")
    Bm25.buildIndex(s, "cp", (1L to 20L).map(i => (i, s"uniq$i common")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(Bm25.storedDfCap(s, "cp").isEmpty)
    assert(Bm25.capIfUnhealthy(s, "cp", hotTermBudget = 10).triggered)
    assert(Bm25.storedDfCap(s, "cp") === Some(10L))
    corrupt(s, "cp_cap_stopterms")
    assertUnreadable("cp_cap_stopterms")(
      Bm25.searchIndex(s, "cp", "doc_id", Seq("uniq3", "common")).collect())
    corrupt(s, "cp_cap_policy")
    assertUnreadable("cp_cap_policy")(Bm25.storedDfCap(s, "cp"))
  }
}
