package graft.ext

import graft.SparkSpec
import graft.tables.TableStore
import org.apache.spark.sql.functions._

/** [[IndexState]]'s memo protocol, on plain tables: a memo stamped with
  * its sources' key reads only while that key holds; compaction re-stamps
  * exactly the memos that were fresh going in; an empty memo of an empty
  * source is fresh; a failed memo write is a miss, never an error.
  */
class IndexStateSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(tag: String): TableStore = new TableStore(spark,
    java.nio.file.Files.createTempDirectory(s"graft_is_$tag").toString)

  /** The memo's single `n` value while fresh at the sources' current key. */
  private def readN(s: TableStore, memo: String, sources: String*): Option[Long] =
    IndexState.read(s, memo, IndexState.key(s, sources: _*))(_.collect()(0).getLong(0))

  private def stampCount(s: TableStore, memo: String, sources: String*): Unit =
    IndexState.write(s, memo, IndexState.key(s, sources: _*))(
      Seq(sources.map(s.read(_).count()).sum).toDF("n"))

  test("a stamped memo is fresh before an append to any of its sources and stale after it") {
    val s = freshStore("append")
    s.overwrite("a", Seq(1, 2, 3).toDF("x"))
    s.overwrite("b", Seq(4).toDF("x"))
    stampCount(s, "m", "a", "b")
    assert(readN(s, "m", "a", "b") === Some(4L))
    assert(readN(s, "m", "a", "b") === Some(4L), "a re-read stays fresh")
    assert(IndexState.key(s, "a", "b").files.size == 2 &&
      IndexState.key(s, "a", "b").files.forall(_ >= 1))
    s.append("b", Seq(5).toDF("x"))
    assert(readN(s, "m", "a", "b").isEmpty,
      "an append the memo never saw must make it read as absent")
    assert(s.exists("m"), "staleness is a read outcome; the memo stays until rewritten")
    stampCount(s, "m", "a", "b")
    assert(readN(s, "m", "a", "b") === Some(5L))
    assert(readN(s, "absent_memo", "a", "b").isEmpty)
  }

  test("compaction re-stamps a memo that was fresh going in and leaves a stale one stale") {
    val s = freshStore("compact")
    s.overwrite("t", Seq(1, 2).toDF("x"))
    (3 to 6).foreach(i => s.append("t", Seq(i).toDF("x")))
    s.overwrite("u", Seq(1).toDF("x"))
    stampCount(s, "fresh", "t")
    stampCount(s, "stale", "u")
    s.append("u", Seq(2).toDF("x"))
    val memos = Seq(IndexState.Memo("fresh", Seq("t")),
      IndexState.Memo("stale", Seq("u")), IndexState.Memo("never", Seq("t")))
    assert(IndexState.compactIfFragmented(s, Seq("t"), memos, maxFiles = 64,
      targetBytes = 128L << 20).isEmpty, "a healthy table must not compact")
    val keyBefore = IndexState.key(s, "t")
    val stats = IndexState.compactIfFragmented(s, Seq("t"), memos,
      maxFiles = 1, targetBytes = 128L << 20)
    assert(stats.exists(_("t").filesAfter == 1))
    assert(IndexState.key(s, "t") !== keyBefore, "compaction moves the key")
    assert(readN(s, "fresh", "t") === Some(6L),
      "a fresh memo must be re-stamped without a recompute")
    assert(readN(s, "stale", "u").isEmpty,
      "a stale memo must stay stale — re-stamping would freeze a wrong value")
    assert(!s.exists("never"), "an absent memo stays absent")
    assert(s.read("fresh").columns.toSeq === Seq("n", "fp"))
  }

  test("an empty source table matches an empty stamp; a non-empty source does not") {
    val s = freshStore("empty")
    // a table with no data files — what a full partition-scoped takedown
    // leaves behind (AnnIndex's emptied codes table)
    new java.io.File(s.path("src")).mkdirs()
    val empty = IndexState.key(s, "src")
    assert(empty.files === Seq(0))
    IndexState.write(s, "m", empty)(Seq.empty[Long].toDF("n"))
    assert(s.exists("m") && s.read("m").count() == 0L)
    assert(IndexState.read(s, "m", empty)(_.count()) === Some(0L),
      "an empty memo of an empty source is fresh")
    s.overwrite("src", Seq(1L).toDF("x"))
    assert(IndexState.read(s, "m", IndexState.key(s, "src"))(_.count()).isEmpty,
      "an empty memo of a non-empty source is stale")
  }

  test("a failed memo write is a miss, not an error") {
    val s = freshStore("fail")
    s.overwrite("src", Seq(1).toDF("x"))
    val key = IndexState.key(s, "src")
    val boom = udf((x: Long) => { if (x >= 0) throw new RuntimeException("boom"); x })
    IndexState.write(s, "m", key)(spark.range(3).select(boom(col("id")).as("n")))
    IndexState.write(s, "m", key)(throw new IllegalStateException("no rows"))
    assert(IndexState.read(s, "m", key)(_.count()).isEmpty)
    // a fresh memo survives a failed rewrite and still reads
    stampCount(s, "m", "src")
    IndexState.write(s, "m", key)(spark.range(3).select(boom(col("id")).as("n")))
    assert(readN(s, "m", "src") === Some(1L))
  }
}
