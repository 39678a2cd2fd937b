package graft.ext

import graft.SparkSpec
import graft.tables.TableStore
import org.apache.spark.sql.DataFrame

/** [[HotKeySketch.foldAll]] against ground truth. Each case keeps a real
  * source table `src` (column `k`): the sketch and witness are memos of it,
  * a commit appends the increment to it between [[HotKeySketch.open]] and
  * the fold. A folded sketch must equal [[HotKeySketch.rebuild]] over
  * base ∪ increment cell for cell (CMS linearity), and a folded witness
  * must hold the exact count of its key. The batch scan count is pinned
  * with a partition-visit accumulator on the keys frame itself — any
  * second job over the batch shows up as a second visit.
  */
class HotKeySketchSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(tag: String): TableStore = new TableStore(spark,
    java.nio.file.Files.createTempDirectory(s"graft_hks_$tag").toString)

  private def keysDf(ks: Seq[String]): DataFrame = ks.toDF("k")

  /** `ks` as a 1-partition frame that counts evaluations into `acc`. */
  private def countedKeys(ks: Seq[String],
      acc: org.apache.spark.util.LongAccumulator): DataFrame =
    spark.createDataset(ks).coalesce(1)
      .mapPartitions { it => acc.add(1L); it }.toDF("k")

  private val base = Seq("a", "a", "a", "b", "b", "c", "w", "w")
  private val inc = Seq("a", "w", "w", "w", "d", "d")
  private val stale = IndexState.Key("stale", Seq(1))

  private def srcKey(s: TableStore) = IndexState.key(s, "src")

  /** A store whose `src` holds `base`, with a sketch and/or a witness
    * (key "w", exact count 2) stamped fresh — or stamped `stale`. */
  private def seeded(tag: String, sketch: Option[Boolean],
      witness: Option[Boolean]): TableStore = {
    val s = freshStore(tag)
    s.overwrite("src", keysDf(base))
    def stamp(fresh: Boolean) = if (fresh) srcKey(s) else stale
    sketch.foreach(f => HotKeySketch.rebuild(s, "sk", keysDf(base), stamp(f)))
    witness.foreach(f => HotKeySketch.writeWitness(s, "wt", "w", 2L, stamp(f)))
    s
  }

  /** The commit protocol: open, append `batch` to `src`, fold `keys`. */
  private def commit(s: TableStore, batch: Seq[String],
      keys: DataFrame): Unit = {
    val fold = HotKeySketch.open(s, "sk", "wt", "src")
    s.append("src", keysDf(batch))
    fold.foreach(HotKeySketch.foldAll(s, _, keys))
  }

  private def cells(s: TableStore, t: String): Set[(Int, Long, Long)] =
    s.read(t).collect().map(r => (r.getInt(0),
      if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2))).toSet

  /** The folded sketch equals a rebuild over everything `src` holds. */
  private def assertSketchIsRebuild(s: TableStore): Unit = {
    val all = s.read("src").collect().map(_.getString(0)).toSeq
    HotKeySketch.rebuild(s, "ref", keysDf(all), srcKey(s))
    assert(cells(s, "sk") === cells(s, "ref"),
      "a folded sketch must equal the rebuild over base ∪ increment")
    assert(HotKeySketch.upperBound(s, "sk", srcKey(s)) ===
      HotKeySketch.upperBound(s, "ref", srcKey(s)))
  }

  private def witness(s: TableStore): Option[(String, Long)] =
    HotKeySketch.readWitness(s, "wt", srcKey(s))

  test("foldAll folds both sides to ground truth with ONE scan of the batch") {
    val s = seeded("both", Some(true), Some(true))
    val acc = spark.sparkContext.longAccumulator("hks_scans")
    commit(s, inc, countedKeys(inc, acc))
    assert(acc.value == 1L,
      s"foldAll must scan the increment exactly once, saw ${acc.value}")
    assertSketchIsRebuild(s)
    assert(HotKeySketch.upperBound(s, "sk", srcKey(s)).exists(_ >= 4L),
      "bound must dominate a's true count (3 base + 1 inc)")
    assert(witness(s) === Some(("w", 5L)),
      "witness must gain exactly the batch's 3 occurrences of w")
  }

  test("foldAll folds the one side that exists, and a commit with neither opens no fold") {
    val sSk = seeded("skonly", Some(true), None)
    commit(sSk, inc, keysDf(inc))
    assertSketchIsRebuild(sSk)
    assert(!sSk.exists("wt"), "no witness must be conjured")
    val sWt = seeded("wtonly", None, Some(true))
    commit(sWt, inc, keysDf(inc))
    assert(witness(sWt) === Some(("w", 5L)))
    assert(!sWt.exists("sk"), "no sketch must be conjured")
    val sNo = seeded("none", None, None)
    assert(HotKeySketch.open(sNo, "sk", "wt", "src").isEmpty,
      "with neither side the commit pays no listing and no fold")
    commit(sNo, inc, keysDf(inc))
    assert(!sNo.exists("sk") && !sNo.exists("wt"))
  }

  test("foldAll freshness: a stale side drops while the fresh side still folds") {
    val s = seeded("stalew", Some(true), Some(false))
    commit(s, inc, keysDf(inc))
    assert(!s.exists("wt"), "a witness that missed a mutation must drop")
    assertSketchIsRebuild(s)
    val s2 = seeded("stalesk", Some(false), Some(true))
    commit(s2, inc, keysDf(inc))
    assert(!s2.exists("sk"), "a sketch that missed a mutation must drop")
    assert(witness(s2) === Some(("w", 5L)), "the fresh witness must still fold")
    val s3 = seeded("staleboth", Some(false), Some(false))
    commit(s3, inc, keysDf(inc))
    assert(!s3.exists("sk") && !s3.exists("wt"))
  }

  test("foldAll keeps null keys as null-bucket cells and folds the rest (no silent drop of both sides)") {
    // a null key yields a null CMS bucket; CountMin.build keeps it as a
    // null-bucket cell and the witness filter skips it — the fold must
    // agree, not throw into its catch-all (which drops both sides)
    val incNull = Seq("a", null, "w", null)
    val s = seeded("null", Some(true), Some(true))
    commit(s, incNull, keysDf(incNull))
    assert(s.exists("sk") && s.exists("wt"),
      "a null key must not silently drop the sketch or the witness")
    assertSketchIsRebuild(s)
    assert(witness(s) === Some(("w", 3L)))
  }

  test("foldAll with a batch holding zero witness occurrences adds zero, and an empty batch is a stamped no-op") {
    val s = seeded("zero", Some(true), Some(true))
    commit(s, Seq("x", "y"), keysDf(Seq("x", "y")))
    assert(witness(s) === Some(("w", 2L)))
    assertSketchIsRebuild(s)
    commit(s, Nil, keysDf(Seq.empty[String]))
    assert(witness(s) === Some(("w", 2L)))
    assertSketchIsRebuild(s)
    assert(HotKeySketch.upperBound(s, "sk", srcKey(s)).exists(_ >= 3L))
  }
}
