package graft

import graft.clean.Dates
import graft.tables.Upsert
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5 item 4): upsert algebra, rollup
  * conservation, date-parser totality. Raw ScalaCheck generators with a
  * fixed seed drive small frames through the real distributed operators
  * (the scalatest-scalacheck bridge isn't in the offline cache — sampling
  * is done manually, deterministically).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val rowGen: Gen[(Int, Double)] = for {
    k <- Gen.choose(0, 20)
    v <- Gen.choose(-1000.0, 1000.0)
  } yield (k, v)

  private val tableGen: Gen[List[(Int, Double)]] = for {
    n <- Gen.choose(0, 25)
    rows <- Gen.listOfN(n, rowGen)
  } yield rows.distinctBy(_._1) // unique merge keys per side

  test("upsert is idempotent: merge(merge(T,S),S) == merge(T,S)") {
    samples(Gen.zip(tableGen, tableGen), 8).foreach { case (t, s) =>
      val target = t.toDF("k", "v")
      val source = s.toDF("k", "v")
      val once = Upsert.merge(target, source, Seq("k"))
      val twice = Upsert.merge(once, source, Seq("k"))
      assert(once.orderBy("k").collect().toSeq === twice.orderBy("k").collect().toSeq,
        s"t=$t s=$s")
    }
  }

  test("upsert covers exactly target-keys ∪ source-keys; source wins on overlap") {
    samples(Gen.zip(tableGen, tableGen), 8).foreach { case (t, s) =>
      val merged = Upsert.merge(t.toDF("k", "v"), s.toDF("k", "v"), Seq("k"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val expected = t.toMap ++ s.toMap
      assert(merged === expected, s"t=$t s=$s")
    }
  }

  test("mergeInto leaves exactly the rows of overwrite(t, merge(read(t), s))") {
    import Upsert.DuplicatePolicy._
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_prop_merge").toString)
    def keyGen(lo: Int): Gen[Option[Int]] =
      Gen.frequency(1 -> Gen.const(None), 5 -> Gen.choose(lo, lo + 15).map(Some(_)))
    // v is unique within a side, so KeepLatest("v") has no ties to break
    def sideGen(lo: Int, dups: Boolean): Gen[List[(Option[Int], Double)]] = for {
      n <- Gen.choose(0, 12)
      ks <- Gen.listOfN(n, keyGen(lo))
      again <- Gen.someOf(ks)
    } yield {
      val all = if (dups) ks ++ again.filter(_.isDefined) else ks.distinct
      all.zipWithIndex.map { case (k, i) => (k, i + 0.5) }
    }
    def rows(table: String) = store.read(table).as[(Option[Int], Double)].collect()
      .toSeq.sortBy(r => (r._1.getOrElse(Int.MinValue), r._2))
    val policies = Seq(Error, DedupDeterministic, KeepLatest("v"))
    val flags = Seq((true, true), (false, true), (true, false)) // (update, insert)
    val cases = for {
      p <- policies; overlap <- Seq(true, false); dups <- Seq(false, true)
    } yield (p, overlap, dups)
    var matched, appended = 0
    cases.zipWithIndex.foreach { case ((policy, overlap, dups), i) =>
      val (update, insert) = flags(i % flags.size)
      val gen = Gen.zip(sideGen(0, dups = true), sideGen(if (overlap) 0 else 100, dups))
      val (t, s) = gen.apply(Gen.Parameters.default, Seed(7L + i)).get
      val source = s.toDF("k", "v")
      // a failed write leaves the table as it was, on either side
      store.overwrite("ref", t.toDF("k", "v"))
      val refOk = scala.util.Try(store.overwrite("ref", Upsert.merge(store.read("ref"),
        source, Seq("k"), None, update, insert, policy))).isSuccess
      store.overwrite("t", t.toDF("k", "v"))
      val ok = scala.util.Try(
        Upsert.mergeInto(store, "t", source, Seq("k"), update, insert, policy)).isSuccess
      val ctx = s"policy=$policy update=$update insert=$insert t=$t s=$s"
      assert(ok || !refOk, ctx)
      assert(rows("t") === rows("ref"), ctx)
      if (refOk) {
        if (t.flatMap(_._1).toSet.intersect(s.flatMap(_._1).toSet).nonEmpty) matched += 1
        else appended += 1
      }
    }
    assert(matched > 0 && appended > 0, s"matched=$matched appended=$appended")
  }

  test("monthly rollup conserves the total of parsed-date rows") {
    val rowsGen = Gen.nonEmptyListOf(Gen.zip(Gen.choose(1, 365), Gen.choose(1.0, 50.0)))
    samples(rowsGen, 6).foreach { rows =>
      val df = rows.toDF("day", "qty")
        .withColumn("date", date_add(lit("2025-01-01").cast("date"), col("day")))
      val daily = df.agg(sum(col("qty"))).head().getDouble(0)
      val monthly = df.groupBy(Dates.monthStart(col("date")))
        .agg(sum(col("qty")).as("q"))
        .agg(sum(col("q"))).head().getDouble(0)
      assert(math.abs(daily - monthly) < 1e-6, s"rows=$rows")
    }
  }

  test("order-date parser is total: any string yields date or null, never throws") {
    val strGen = Gen.oneOf(
      Gen.alphaNumStr,
      Gen.oneOf("12-11-2025", "31/02/2025", "2025/13/40", "Monday, Foo 99, 2025",
        "", "   ", "1/1/1", "9999-99-99", "Saturday, January 3, 2026"),
      Gen.listOfN(8, Gen.oneOf('0' to '9')).map(_.mkString("-")))
    val all = samples(strGen, 40)
    val out = all.toDF("d").select(Dates.parseOrderDate(col("d"))).collect()
    assert(out.length === all.length) // no exception; each value is Date or null
    // and the four supported formats round-trip correctly
    val good = Seq("12-11-2025", "12/11/2025", "2025/11/12", "Wednesday, November 12, 2025")
      .toDF("d").select(Dates.parseOrderDate(col("d")).cast("string")).collect()
    assert(good.forall(_.getString(0) === "2025-11-12"))
  }

  test("tokenWindows at stride == window partitions the tokens exactly (lossless)") {
    val textGen = Gen.listOf(Gen.oneOf("alpha", "b", "gamma7", "x", "delta"))
      .map(_.mkString(" "))
    val texts = samples(textGen, 25).filter(_.nonEmpty).distinct
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val rebuilt = graft.ext.Paragraphs
      .tokenWindows(df, "doc_id", "text", window = 3, stride = 3)
      .groupBy("doc_id")
      .agg(concat_ws(" ", sort_array(collect_list(struct(col("chunk_idx"), col("chunk_text"))))
        .getField("chunk_text")).as("re"))
      .as[(Long, String)].collect().toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(rebuilt(i.toLong) === t.trim.split("\\s+").mkString(" "),
        s"lossy window partition for '$t'")
    }
  }

  test("shardShuffle: a row's shard and relative order are stable under corpus growth") {
    val small = (1L to 200L).toDF("id")
    val grown = (1L to 400L).toDF("id")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Sampling.shardShuffle(df, "id", nShards = 4, seed = "g")
        .select("id", "shard", "pos").as[(Long, Int, Long)].collect()
    val a = run(small).map(r => r._1 -> r).toMap
    val b = run(grown).map(r => r._1 -> r).toMap
    // shard of an existing row never changes when new rows arrive
    assert((1L to 200L).forall(id => a(id)._2 === b(id)._2))
    // and the RELATIVE order of existing rows within a shard is preserved
    (0 until 4).foreach { sh =>
      val before = (1L to 200L).filter(id => a(id)._2 == sh).sortBy(id => a(id)._3)
      val after = (1L to 200L).filter(id => b(id)._2 == sh).sortBy(id => b(id)._3)
      assert(before === after, s"shard $sh reordered existing rows")
    }
  }

  test("gopherKeep flips on exactly the violated rule") {
    import graft.ext.{TextAnalysis => TA}
    val base = ("the quick brown fox jumps over and over to the side of that " +
      "lazy dog it would have stayed asleep with the sun warm on its back " +
      "every day ") * 2
    def keep(t: String): Boolean =
      Seq(t).toDF("text").select(TA.gopherKeep(col("text"))).as[Boolean].head()
    assert(keep(base))
    // strictly adding rule-violating dirt flips keep; removing it restores
    assert(!keep(base + Seq.fill(20)(" #").mkString))
    assert(!keep(base + Seq.fill(60)(" 12345").mkString))
    assert(!keep(base.take(40))) // word floor
  }
}
