package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

/** The durable-index contract: an incremental run must (a) find exactly the
  * pair set the recompute-everything path finds, (b) never touch the base
  * corpus — pinned by physically DELETING the base parquet after the index
  * build, so any plan that re-reads base text fails at action time — and
  * (c) persist across runs, so run N+1's "base" includes run N's increment.
  */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(seed: Int, nDocs: Int): Seq[(Long, String)] = {
    val rnd = new Random(seed)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val base = (0 until nDocs).map { i =>
      (i.toLong, Seq.fill(12 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val planted = (0 until nDocs by 7).map { i =>
      val words = base(i)._2.split(" ")
      words(words.length - 1) = vocab(rnd.nextInt(vocab.size))
      ((nDocs + i).toLong, words.mkString(" "))
    }
    base ++ planted
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("incremental run matches the recompute path without ever reading the base corpus") {
    val all = corpus(11, 40).toDF("doc_id", "text")
    val isInc = col("doc_id") % 3 === 0
    val expected = pairSet(Dedup.minhashDedupIncremental(
      all.filter(!isInc), all.filter(isInc), "doc_id", "text", threshold = 0.7))

    val tmp = java.nio.file.Files.createTempDirectory("graft_didx").toString
    val store = new graft.tables.TableStore(spark, s"$tmp/store")
    all.filter(!isInc).write.parquet(s"$tmp/base")
    all.filter(isInc).write.parquet(s"$tmp/inc")

    DedupIndex.build(store, "idx", spark.read.parquet(s"$tmp/base"),
      "doc_id", "text")

    // the base corpus is GONE: if any part of the incremental run — append,
    // probe, or verify — tried to shingle or even list base text, the action
    // below would fail with a missing-file error
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$tmp/base"))

    val result = DedupIndex.dedupIncrement(store, "idx",
      spark.read.parquet(s"$tmp/inc"), "doc_id", "text", threshold = 0.7)
    assert(pairSet(result) === expected)
    // and the result plan itself carries no shingling at all — every input
    // is a narrow parquet scan of the stored index or a scratch stage
    val plan = result.queryExecution.executedPlan.toString.toLowerCase
    // positive control first: a plan that DOES shingle renders the
    // expression's prettyName — guards the negative assertions below
    // against going vacuous if the rendering ever changes
    val shinglingPlan = Dedup.shingleIndex(
      spark.read.parquet(s"$tmp/inc"), "doc_id", "text")
      .queryExecution.executedPlan.toString.toLowerCase
    assert(shinglingPlan.contains("word_shingles"),
      s"positive control: expected word_shingles in a shingling plan:\n$shinglingPlan")
    assert(!plan.contains("word_shingles"), s"result plan re-shingles:\n$plan")
  }

  test("digest storage mode: 16-byte shingle column, sound verified pairs") {
    val all = corpus(23, 40).toDF("doc_id", "text")
    val isInc = col("doc_id") % 3 === 0
    val tmp = java.nio.file.Files.createTempDirectory("graft_didx_dg").toString
    val raw = new graft.tables.TableStore(spark, s"$tmp/raw")
    val dig = new graft.tables.TableStore(spark, s"$tmp/dig")

    DedupIndex.build(raw, "idx", all.filter(!isInc), "doc_id", "text")
    DedupIndex.build(dig, "idx", all.filter(!isInc), "doc_id", "text", digest = true)

    // stored form: binary md5, 16 bytes per shingle — the 100 TB shape
    val shD = dig.read("idx_shingles")
    assert(shD.schema("shingle").dataType ===
      org.apache.spark.sql.types.BinaryType)
    assert(shD.select(max(length(col("shingle")))).head.getInt(0) === 16)
    // both modes index the same shingle multiset (row counts match)
    assert(shD.count() === raw.read("idx_shingles").count())

    // the hash FAMILY differs (signatures hash digest hex, not raw
    // shingles), so the candidate subset may differ from raw mode — but
    // verification must stay SOUND: every returned pair's exact jaccard
    // over the original raw shingles is ≥ threshold (the d13 oracle pins
    // full exactness cross-engine; this pins no-fabrication)
    val digResult = DedupIndex.dedupIncrement(dig, "idx",
      all.filter(isInc), "doc_id", "text", threshold = 0.7, digest = true)
    // digest mode keeps the raw mode's plan contract: the result never
    // re-shingles — every input is stored index parquet or scratch stage
    val digPlan = digResult.queryExecution.executedPlan.toString.toLowerCase
    assert(!digPlan.contains("word_shingles"), s"digest result plan re-shingles:\n$digPlan")
    val pDig = pairSet(digResult)
    assert(pDig.nonEmpty)

    // mode mismatch fails fast with the built-with mode named, BEFORE any
    // increment work (not as a late append-schema conflict)
    val exRaw = intercept[IllegalArgumentException] {
      DedupIndex.dedupIncrement(dig, "idx", all.filter(isInc), "doc_id", "text")
    }
    assert(exRaw.getMessage.contains("digest=true"))
    val exDig = intercept[IllegalArgumentException] {
      DedupIndex.dedupIncrement(raw, "idx", all.filter(isInc), "doc_id", "text",
        digest = true)
    }
    assert(exDig.getMessage.contains("digest=false"))
    val trueJ = Dedup.jaccardPairs(Dedup.shingleIndex(all, "doc_id", "text"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    pDig.foreach { p =>
      assert(trueJ.getOrElse(p, 0.0) >= 0.7, s"pair $p below threshold: ${trueJ.get(p)}")
    }
  }

  test("verified pairs and their Jaccard values: the same before and after the commit, in the digest and id-bucketed layouts") {
    val all = corpus(31, 40).toDF("doc_id", "text")
    val isInc = col("doc_id") % 3 === 0
    val tmp = java.nio.file.Files.createTempDirectory("graft_didx_lay").toString
    val trueJ = Dedup.jaccardPairs(Dedup.shingleIndex(all, "doc_id", "text"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def triples(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def built(at: String, digest: Boolean, idBuckets: Int) = {
      val st = new graft.tables.TableStore(spark, at)
      DedupIndex.build(st, "idx", all.filter(!isInc), "doc_id", "text",
        digest = digest, idBuckets = idBuckets)
      st
    }
    val byLayout = (for (digest <- Seq(false, true); idBuckets <- Seq(0, 8)) yield {
      val at = s"$tmp/digest_${digest}_bkt_$idBuckets"
      // the probe half: its pairs read the increment's stage, so they are
      // evaluated before the commit moves the stage's files into the table
      val store = built(s"$at/probe", digest, idBuckets)
      val (p, stage) = DedupIndex.probeIncrement(store, "idx", all.filter(isInc),
        "doc_id", "text", threshold = 0.7, digest = digest)
      val probed = triples(p)
      DedupIndex.commitIncrement(store, "idx", stage)
      // dedupIncrement commits first and verifies against the committed table
      val committed = triples(DedupIndex.dedupIncrement(built(s"$at/commit", digest, idBuckets),
        "idx", all.filter(isInc), "doc_id", "text", threshold = 0.7, digest = digest))
      assert(committed === probed, s"digest=$digest idBuckets=$idBuckets")
      // every verified Jaccard is the exact value over the raw shingles
      probed.foreach { case (a, b, j) =>
        assert(trueJ.get((a, b)) === Some(j), s"digest=$digest idBuckets=$idBuckets ($a, $b)")
      }
      (digest, idBuckets) -> probed
    }).toMap
    val expectedRaw = pairSet(Dedup.minhashDedupIncremental(
      all.filter(!isInc), all.filter(isInc), "doc_id", "text", threshold = 0.7))
    assert(expectedRaw.nonEmpty)
    assert(byLayout((false, 0)).map(t => (t._1, t._2)) === expectedRaw)
    assert(byLayout((false, 8)) === byLayout((false, 0)))
    assert(byLayout((true, 0)).nonEmpty && byLayout((true, 8)) === byLayout((true, 0)))
  }

  test("health: doc/row counts and the hot-bucket fraction that says when bucketCap is needed") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_dihealth").toString)
    // 6 distinct docs plus a 4-clone boilerplate flood: the clones share
    // every band bucket, so maxBucketFrac ≈ flood/(corpus)
    val docs = corpus(7, 6).take(6) ++
      (100L to 103L).map(i => (i, "the same boilerplate line every time"))
    DedupIndex.build(store, "di", docs.toDF("doc_id", "text"), "doc_id", "text")
    val h = DedupIndex.health(store, "di")
    assert(h.nDocs === 10L)
    assert(h.nShingleRows > 0L && h.nBandRows > 0L)
    assert(h.maxBucketFrac >= 0.4) // the 4-clone bucket of 10 docs
    assert(h.hotBucketRows === 4L) // exact, not reconstructed from the frac
    assert(h.bandsFiles >= 1 && h.shinglesFiles >= 1 && h.sizesFiles >= 1)
    // a repeat poll serves from the fingerprint-keyed 1-row cache and
    // must agree exactly; an increment moves the fingerprint and the
    // recomputed numbers reflect the new corpus
    assert(DedupIndex.health(store, "di") === h)
    // corpus(60, 3) = 3 base + 1 planted near-dup; fresh ids
    DedupIndex.dedupIncrement(store, "di",
      corpus(60, 3).map { case (i, t) => (i + 200L, t) }
        .toDF("doc_id", "text"), "doc_id", "text",
      threshold = 0.7).collect()
    val h2 = DedupIndex.health(store, "di")
    assert(h2.nDocs === 14L)
    assert(h2.nBandRows > h.nBandRows)
  }

  test("dropIndex: full teardown including the health cache; the name is reusable") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_didrop").toString)
    DedupIndex.build(store, "di", corpus(7, 6).toDF("doc_id", "text"),
      "doc_id", "text")
    DedupIndex.health(store, "di") // materialize the cache
    val tables = Seq("di_bands", "di_shingles", "di_sizes", "di_health_cache")
    assert(tables.forall(store.exists))
    DedupIndex.dropIndex(store, "di")
    tables.foreach(t => assert(!store.exists(t), s"$t survived dropIndex"))
    DedupIndex.build(store, "di", corpus(7, 3).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(DedupIndex.health(store, "di").nDocs === 4L)
  }

  test("maintain compacts the appended index tables; next increment unchanged") {
    val all = corpus(31, 60).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_didx_m").toString
    val store = new graft.tables.TableStore(spark, s"$tmp/store")
    // build + two incremental appends -> >=3 write generations per table
    DedupIndex.build(store, "idx", all.filter(col("doc_id") % 4 === 3),
      "doc_id", "text")
    (0 until 2).foreach { i =>
      DedupIndex.dedupIncrement(store, "idx", all.filter(col("doc_id") % 4 === i),
        "doc_id", "text", threshold = 0.7).collect()
    }
    def nFiles(t: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory)
          f.listFiles.filterNot(x =>
            x.getName.startsWith("_") || x.getName.startsWith(".")).map(walk).sum
        else 1
      walk(new java.io.File(store.path(t)))
    }
    val tables = Seq("idx_bands", "idx_shingles", "idx_sizes")
    val before = tables.map(t => t -> nFiles(t)).toMap
    assert(before.values.forall(_ >= 3), s"expected >=3 files per table: $before")

    val stats = DedupIndex.maintain(store, "idx")
    tables.foreach { t =>
      assert(nFiles(t) < before(t), s"$t not compacted: ${nFiles(t)} vs ${before(t)}")
      assert(stats(t).filesBefore === before(t))
    }
    // the compacted index answers the next increment exactly like the
    // recompute-everything path over the same accumulated corpus
    val prior = col("doc_id") % 4 =!= 2
    val expected = pairSet(Dedup.minhashDedupIncremental(
      all.filter(prior), all.filter(!prior), "doc_id", "text", threshold = 0.7))
    val got = pairSet(DedupIndex.dedupIncrement(store, "idx", all.filter(!prior),
      "doc_id", "text", threshold = 0.7))
    assert(got === expected)
  }

  test("maintainIfNeeded: healthy index no-ops, fragmented index compacts, pairs identical") {
    val all = corpus(53, 60).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_didx_mif").toString
    val store = new graft.tables.TableStore(spark, s"$tmp/store")
    DedupIndex.build(store, "idx", all.filter(col("doc_id") % 4 === 3), "doc_id", "text")
    (0 until 2).foreach { i =>
      DedupIndex.dedupIncrement(store, "idx", all.filter(col("doc_id") % 4 === i),
        "doc_id", "text", threshold = 0.7).collect()
    }
    def nFiles(t: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory)
          f.listFiles.filterNot(x =>
            x.getName.startsWith("_") || x.getName.startsWith(".")).map(walk).sum
        else 1
      walk(new java.io.File(store.path(t)))
    }
    val before = nFiles("idx_bands")
    assert(before >= 3, s"expected a fragmented bands table, got $before files")

    // below threshold: a no-op that leaves every file untouched
    assert(DedupIndex.maintainIfNeeded(store, "idx", maxFiles = 1000).isEmpty)
    // a missing / never-built index is "nothing to do", not an exception —
    // the trigger must be safe to call unconditionally after any increment
    assert(DedupIndex.maintainIfNeeded(store, "never_built").isEmpty)
    assert(nFiles("idx_bands") === before)

    // above threshold: fires, and the NEXT health check is clean again
    val fired = DedupIndex.maintainIfNeeded(store, "idx", maxFiles = 2)
    assert(fired.nonEmpty)
    assert(fired.get("idx_bands").filesBefore === before)
    assert(nFiles("idx_bands") < before)
    assert(DedupIndex.maintainIfNeeded(store, "idx", maxFiles = 2).isEmpty)

    // the compacted index answers the next increment exactly like the
    // recompute-everything path over the same accumulated corpus
    val prior = col("doc_id") % 4 =!= 2
    val expected = pairSet(Dedup.minhashDedupIncremental(
      all.filter(prior), all.filter(!prior), "doc_id", "text", threshold = 0.7))
    val got = pairSet(DedupIndex.dedupIncrement(store, "idx", all.filter(!prior),
      "doc_id", "text", threshold = 0.7))
    assert(got === expected)
  }

  test("candDocs broadcast hint drops above broadcastCandBytes; pairs unchanged") {
    val all = corpus(37, 40).toDF("doc_id", "text")
    val isInc = col("doc_id") % 3 === 0
    val tmp = java.nio.file.Files.createTempDirectory("graft_didx_bc").toString
    val s1 = new graft.tables.TableStore(spark, s"$tmp/s1")
    val s2 = new graft.tables.TableStore(spark, s"$tmp/s2")
    DedupIndex.build(s1, "idx", all.filter(!isInc), "doc_id", "text")
    DedupIndex.build(s2, "idx", all.filter(!isInc), "doc_id", "text")

    val rBcast = DedupIndex.dedupIncrement(s1, "idx", all.filter(isInc),
      "doc_id", "text", threshold = 0.7)
    val rShuffle = DedupIndex.dedupIncrement(s2, "idx", all.filter(isInc),
      "doc_id", "text", threshold = 0.7, broadcastCandBytes = 0L)
    // same verified pair set either way — the limit changes the plan only
    assert(pairSet(rShuffle) === pairSet(rBcast))
    // the small case still hints broadcast on the candidate restriction —
    // the n_a and n_b size lookups each consume sizesCand (and Catalyst
    // pushes the hinted semi-join through sizesCand's stored∪staged union
    // into both branches, so each lookup can surface as two hinted joins);
    // above the limit the hint is gone and AQE owns the strategy
    def hints(df: org.apache.spark.sql.DataFrame): Int =
      "strategy=broadcast".r
        .findAllIn(df.queryExecution.optimizedPlan.toString).size
    assert(hints(rShuffle) === 0,
      s"fallback plan still carries a broadcast hint: ${hints(rShuffle)}")
    assert(hints(rBcast) >= 2,
      s"expected the hinted size-lookup joins: ${hints(rBcast)}")
  }

  test("id-bucketed layout: partition-pruned candidate reads, identical pairs") {
    val all = corpus(41, 40).toDF("doc_id", "text")
    val isInc = col("doc_id") % 3 === 0
    val tmp = java.nio.file.Files.createTempDirectory("graft_didx_bkt").toString
    val plain = new graft.tables.TableStore(spark, s"$tmp/plain")
    val bkt = new graft.tables.TableStore(spark, s"$tmp/bkt")
    DedupIndex.build(plain, "idx", all.filter(!isInc), "doc_id", "text")
    DedupIndex.build(bkt, "idx", all.filter(!isInc), "doc_id", "text", idBuckets = 8)

    // the shingle table is hive-partitioned on the id hash bucket; the
    // column NAME carries the modulus so layout+count swap atomically
    def bktDirs = new java.io.File(s"$tmp/bkt/idx_shingles").listFiles
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("_bkt8=")).toSeq
    assert(bktDirs.size > 1, s"expected multiple _bkt8= partition dirs, got $bktDirs")

    // identical verified pair set through either layout
    val pPlain = pairSet(DedupIndex.dedupIncrement(plain, "idx",
      all.filter(isInc), "doc_id", "text", threshold = 0.7))
    val pBkt = pairSet(DedupIndex.dedupIncrement(bkt, "idx",
      all.filter(isInc), "doc_id", "text", threshold = 0.7))
    assert(pBkt === pPlain)
    assert(pBkt.nonEmpty)

    // the candidate-shingle seam prunes AT THE SCAN: with one candidate
    // doc the plan carries a non-empty PartitionFilters on _bkt, and the
    // row count equals exactly that doc's bucket (not the whole table)
    val oneId = all.filter(!isInc).select(min(col("doc_id"))).head.getLong(0)
    val cand = spark.range(oneId, oneId + 1).select(col("id").as("doc_id"))
    val seam = DedupIndex.candidateShingles(bkt, "idx", cand, "doc_id",
      digest = false, idBuckets = 8)
    val full = bkt.read("idx_shingles")
    val expectRows = full.filter(col("_bkt8") ===
      pmod(xxhash64(lit(oneId)), lit(8L))).count()
    assert(seam.count() === expectRows)
    assert(seam.count() < full.count(), "pruned scan not smaller than full table")
    val scan = seam.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(scan).isDefined,
      s"no partition filter in pruned scan:\n$scan")

    // published rows sit in the dir of their own id's bucket: partition
    // discovery reads the dir value back, and it matches the formula
    val byDir = spark.read.parquet(bkt.path("idx_shingles"))
    assert(byDir.filter(col("_bkt8") =!= pmod(xxhash64(col("doc_id")), lit(8L))).count() === 0)
    assert(byDir.count() === full.count())

    // a publish that creates the bucket dir: at 64 buckets the base leaves
    // buckets empty that increment docs hash to
    val bkt64 = new graft.tables.TableStore(spark, s"$tmp/bkt64")
    DedupIndex.build(bkt64, "idx", all.filter(!isInc), "doc_id", "text", idBuckets = 64)
    def dirs64 = new java.io.File(s"$tmp/bkt64/idx_shingles").listFiles
      .filter(_.isDirectory).map(_.getName).toSet
    def bucketsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(pmod(xxhash64(col("doc_id")), lit(64L))).distinct().collect()
        .map(r => s"_bkt64=${r.getLong(0)}").toSet
    val before64 = dirs64
    assert(before64 === bucketsOf(all.filter(!isInc)))
    val created = bucketsOf(all.filter(isInc)) -- before64
    assert(created.nonEmpty, "fixture: some increment doc must hash to an empty bucket")
    val p64 = pairSet(DedupIndex.dedupIncrement(bkt64, "idx",
      all.filter(isInc), "doc_id", "text", threshold = 0.7))
    assert(p64 === pPlain)
    assert(dirs64 === before64 ++ created)
    val incIds = all.filter(isInc).select("doc_id").as[Long].collect().toSet
    created.foreach { d =>
      val ids = spark.read.parquet(s"$tmp/bkt64/idx_shingles/$d")
        .select("doc_id").as[Long].collect().toSet
      assert(ids.nonEmpty && ids.subsetOf(incIds), s"$d holds $ids")
    }

    // maintenance preserves the bucketed layout — snapshot the dirs right
    // BEFORE maintain (the increments above may have created partitions
    // the base build left empty; comparing against a pre-append snapshot
    // would fail spuriously on exactly correct behavior)
    val dirsBefore = bktDirs
    DedupIndex.maintain(bkt, "idx")
    assert(bktDirs.toSet === dirsBefore.toSet,
      s"compaction changed partition dirs: $dirsBefore -> $bktDirs")
  }

  test("capIfUnhealthy: flood rings and persists a probe cap, rearm guard declines until measurably worse, rearmFactor=0 escapes, bucketCap=0 probes resolve the policy") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_dicap").toString)
    val flood = "the same boilerplate line every time"
    val docs = corpus(7, 6).take(6) ++ (100L to 111L).map(i => (i, flood))
    DedupIndex.build(store, "cp", docs.toDF("doc_id", "text"),
      "doc_id", "text")
    // bucketCap = 0 with NO stored policy probes uncapped — identical
    // pairs to the explicit Int.MaxValue probe
    def probePairs(cap: Int): Set[(Long, Long)] = {
      val (p, _) = DedupIndex.probeIncrement(store, "cp",
        Seq((500L, flood)).toDF("doc_id", "text"), "doc_id", "text",
        threshold = 0.7, bucketCap = cap)
      pairSet(p)
    }
    assert(probePairs(0) === probePairs(Int.MaxValue))
    // a generous budget declines: no policy written
    val calm = DedupIndex.capIfUnhealthy(store, "cp", hotBucketBudget = 1000)
    assert(!calm.triggered && calm.cap.isEmpty)
    assert(DedupIndex.storedBucketCap(store, "cp").isEmpty)
    // budget under the 12-clone flood rings: cap derived from the mean
    // bucket size (floor 64 here — organic buckets hold a handful of
    // rows) and persisted as the probe policy
    val ring = DedupIndex.capIfUnhealthy(store, "cp", hotBucketBudget = 10)
    assert(ring.triggered)
    assert(ring.hotBucketRows === 12L)
    assert(ring.meanBucketRows > 0.0)
    val cap0 = ring.cap.get
    assert(cap0 >= 64)
    assert(DedupIndex.storedBucketCap(store, "cp") === Some(cap0))
    // bucketCap = 0 now resolves to the stored cap
    assert(probePairs(0) === probePairs(cap0))
    // rearm guard: the same still-flooded state declines (hot 12 <
    // 1.25 × the stored 12), policy left in force
    val again = DedupIndex.capIfUnhealthy(store, "cp", hotBucketBudget = 10)
    assert(!again.triggered && again.cap === Some(cap0))
    // the flood worsening past the rearm bar (12 → 18 ≥ 1.25 × 12)
    // re-rings and re-stamps the baseline
    DedupIndex.dedupIncrement(store, "cp",
      (200L to 205L).map(i => (i, flood)).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.7).collect()
    val worse = DedupIndex.capIfUnhealthy(store, "cp", hotBucketBudget = 10)
    assert(worse.triggered)
    assert(worse.hotBucketRows === 18L)
    // rearmFactor = 0 disables the guard: re-derives at the SAME level
    val esc = DedupIndex.capIfUnhealthy(store, "cp", hotBucketBudget = 10,
      rearmFactor = 0)
    assert(esc.triggered && esc.hotBucketRows === 18L)
    // dropIndex tears the policy down with the index
    DedupIndex.dropIndex(store, "cp")
    assert(!store.exists("cp_cap_policy"))
  }

  test("capIfUnhealthy sketch poll: the routine ask reads the CMS bound instead of the corpus aggregate, folds ride commits, desyncs invalidate instead of undercounting, decisions agree with exact") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_disk").toString)
    val flood = "the same boilerplate line every time"
    val docs = corpus(7, 6).take(6) ++ (100L to 111L).map(i => (i, flood))
    DedupIndex.build(store, "sx", docs.toDF("doc_id", "text"),
      "doc_id", "text")
    // no sketch before the first ask — an index nobody polls never pays
    assert(!store.exists("sx_hh_sketch"))
    assert(DedupIndex.hhUpperBound(store, "sx").isEmpty)
    // ask 1 (generous budget): exact path declines AND lazily builds the
    // sketch; the bound dominates the true hottest bucket (12)
    val calm = DedupIndex.capIfUnhealthy(store, "sx", hotBucketBudget = 1000)
    assert(!calm.triggered && calm.hotBucketRows === 12L)
    assert(store.exists("sx_hh_sketch"))
    val ub1 = DedupIndex.hhUpperBound(store, "sx")
    assert(ub1.exists(_ >= 12L), s"bound must dominate the hot bucket: $ub1")
    // a committed increment FOLDS into the sketch (stays fresh, no
    // rebuild) — novel docs leave the flood bucket at 12
    DedupIndex.dedupIncrement(store, "sx",
      (500L to 502L).map(i => (i, s"novel doc number $i with words"))
        .toDF("doc_id", "text"), "doc_id", "text", threshold = 0.7).collect()
    assert(DedupIndex.hhUpperBound(store, "sx").exists(_ >= 12L),
      "per-commit fold must keep the sketch fresh across increments")
    // ask 2: the bound proves the decline, so the corpus aggregate is
    // NOT paid — observable through the health cache, which the commit
    // invalidated and only an exact pass would refresh
    val hcBefore = store.read("sx_health_cache").collect().toSeq
    val calm2 = DedupIndex.capIfUnhealthy(store, "sx", hotBucketBudget = 1000)
    assert(!calm2.triggered)
    assert(calm2.hotBucketRows >= 12L,
      s"short-circuited decline reports the upper bound: $calm2")
    assert(store.read("sx_health_cache").collect().toSeq === hcBefore,
      "a sketch-proved decline must not pay the exact aggregate")
    // ask 3 (budget under the flood): the bound cannot prove a decline,
    // the exact pass confirms the ring — hotBucketRows is EXACT, the
    // policy persists, and the health cache shows the exact pass ran
    val ring = DedupIndex.capIfUnhealthy(store, "sx", hotBucketBudget = 10)
    assert(ring.triggered && ring.hotBucketRows === 12L)
    assert(store.read("sx_health_cache").collect().toSeq !== hcBefore)
    // an EXTERNAL mutation the fold never saw (a raw append to the bands
    // table) moves the listing: the sketch reads as absent — the
    // undercount direction is structurally impossible — and the next
    // exact ask re-baselines it
    store.append("sx_bands",
      store.read("sx_bands").limit(1))
    assert(DedupIndex.hhUpperBound(store, "sx").isEmpty,
      "a mutation the fold missed must invalidate the sketch")
    val again = DedupIndex.capIfUnhealthy(store, "sx", hotBucketBudget = 10)
    assert(!again.triggered, s"rearm guard must hold through the rebuild: $again")
    assert(DedupIndex.hhUpperBound(store, "sx").exists(_ >= 12L),
      "the exact ask re-baselines the sketch")
    // agreement under retire: the takedown moves the listing too, so the
    // retire decision always comes from the exact pass — identical to
    // the pre-sketch semantics
    DedupIndex.deleteIds(store, "sx", (102L to 111L).toDF("doc_id"),
      "doc_id")
    val ret = DedupIndex.capIfUnhealthy(store, "sx", hotBucketBudget = 10,
      retireFraction = 0.5)
    assert(!ret.triggered && ret.retired && ret.cap.isEmpty)
    assert(DedupIndex.storedBucketCap(store, "sx").isEmpty)
    // dropIndex tears the sketch down with the index
    DedupIndex.dropIndex(store, "sx")
    assert(!store.exists("sx_hh_sketch"))
  }

  test("capIfUnhealthy hot witness: the standing-policy retire poll declines from the exact lower bound — flat, no corpus aggregate — folds ride commits, a desynced witness pays exact instead of deciding, and true transitions still retire") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_diwit").toString)
    val flood = "the same boilerplate line every time"
    val docs = corpus(7, 6).take(6) ++ (100L to 111L).map(i => (i, flood))
    DedupIndex.build(store, "wt", docs.toDF("doc_id", "text"),
      "doc_id", "text")
    // no witness before a policy exists — nothing would consult it
    val ringless = DedupIndex.capIfUnhealthy(store, "wt",
      hotBucketBudget = 1000, retireFraction = 0.5)
    assert(!ringless.triggered && !store.exists("wt_hh_witness"))
    // a retireFraction > 0 ring's exact pass writes the witness beside
    // the policy: the hottest bucket's key with its EXACT count, from
    // the same health aggregate (rf = 0 keeps none — Bm25Spec pins that)
    val ring = DedupIndex.capIfUnhealthy(store, "wt", hotBucketBudget = 10,
      retireFraction = 0.5)
    assert(ring.triggered && ring.hotBucketRows === 12L)
    assert(store.exists("wt_hh_witness"))
    val w0 = store.read("wt_hh_witness").collect()(0)
    assert(w0.getLong(w0.fieldIndex("cnt")) === 12L)
    // THE CLOSE OF THE r18 HONEST-COST NOTE: a standing-policy ask with
    // retireFraction > 0 used to pay the corpus aggregate every time
    // (the upper bound can never disprove a retire); the witness's
    // lower bound can (12 > 0.5 × 10), so the ask declines FLAT —
    // observable through the health cache staying untouched
    val hcBefore = store.read("wt_health_cache").collect().toSeq
    val hold = DedupIndex.capIfUnhealthy(store, "wt", hotBucketBudget = 10,
      retireFraction = 0.5)
    assert(!hold.triggered && !hold.retired && hold.cap === ring.cap)
    assert(store.read("wt_health_cache").collect().toSeq === hcBefore,
      "a witness-disproved retire must not pay the exact aggregate")
    // the witness FOLDS across commits: two more flood copies land its
    // exact count at 14, still fresh, and the poll still declines flat
    // (14 under the 1.25 × 12 rearm bar, 14 over the retire band)
    DedupIndex.dedupIncrement(store, "wt",
      Seq((300L, flood), (301L, flood)).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.7).collect()
    val w1 = store.read("wt_hh_witness").collect()(0)
    assert(w1.getLong(w1.fieldIndex("cnt")) === 14L,
      "per-commit fold must add the batch's occurrences of the witness key")
    val hold2 = DedupIndex.capIfUnhealthy(store, "wt", hotBucketBudget = 10,
      retireFraction = 0.5)
    assert(!hold2.triggered && !hold2.retired && hold2.cap === ring.cap)
    assert(store.read("wt_health_cache").collect().toSeq === hcBefore,
      "the folded witness must keep the standing-policy poll flat")
    // a witness the fold missed (simulated crashed fold: wrong fp)
    // reads ABSENT — the ask pays exact rather than deciding from it,
    // and the exact pass re-baselines the witness
    store.overwrite("wt_hh_witness",
      Seq(("bogus:key", 99L, "stale-fp")).toDF("k", "cnt", "fp"))
    val hold3 = DedupIndex.capIfUnhealthy(store, "wt", hotBucketBudget = 10,
      retireFraction = 0.5)
    assert(!hold3.triggered && !hold3.retired && hold3.cap === ring.cap)
    assert(store.read("wt_health_cache").collect().toSeq !== hcBefore,
      "a desynced witness must pay the exact aggregate, never decide")
    val w2 = store.read("wt_hh_witness").collect()(0)
    assert(w2.getLong(w2.fieldIndex("cnt")) === 14L &&
      (w2.getString(w2.fieldIndex("k")) != "bogus:key"),
      "the exact pass must re-baseline the witness")
    // a TRUE transition still retires: the takedown moves the listing,
    // the witness reads stale, the exact pass finds the flood gone and
    // clears policy AND witness
    DedupIndex.deleteIds(store, "wt",
      ((102L to 111L) ++ Seq(300L, 301L)).toDF("doc_id"), "doc_id")
    val ret = DedupIndex.capIfUnhealthy(store, "wt", hotBucketBudget = 10,
      retireFraction = 0.5)
    assert(!ret.triggered && ret.retired && ret.cap.isEmpty)
    assert(!store.exists("wt_hh_witness"),
      "a retired policy must drop its witness")
    // manual clearCapPolicy drops the witness with the policy (no
    // policy → no witness, so no dead per-commit fold survives it)
    DedupIndex.capIfUnhealthy(store, "wt", hotBucketBudget = 2,
      retireFraction = 0.5)
    assert(store.exists("wt_hh_witness"))
    assert(DedupIndex.clearCapPolicy(store, "wt"))
    assert(!store.exists("wt_hh_witness"),
      "manual clearCapPolicy must drop the witness with the policy")
    // dropIndex tears the witness down with the index
    DedupIndex.capIfUnhealthy(store, "wt", hotBucketBudget = 2,
      retireFraction = 0.5)
    assert(store.exists("wt_hh_witness"))
    DedupIndex.dropIndex(store, "wt")
    assert(!store.exists("wt_hh_witness"))
  }

  test("capIfUnhealthy retireFraction: the un-ring — a takedown'd flood clears the policy on the hysteresis bar, never mid-flood, and re-arms the bell fresh; clearCapPolicy is the manual form") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_diret").toString)
    val flood = "the same boilerplate line every time"
    val docs = corpus(7, 6).take(6) ++ (100L to 111L).map(i => (i, flood))
    DedupIndex.build(store, "rp", docs.toDF("doc_id", "text"),
      "doc_id", "text")
    def probePairs(cap: Int): Set[(Long, Long)] = {
      val (p, _) = DedupIndex.probeIncrement(store, "rp",
        Seq((500L, flood)).toDF("doc_id", "text"), "doc_id", "text",
        threshold = 0.7, bucketCap = cap)
      pairSet(p)
    }
    // the 12-clone flood rings and persists the cap
    val ring = DedupIndex.capIfUnhealthy(store, "rp", hotBucketBudget = 10)
    assert(ring.triggered && !ring.retired)
    val cap0 = ring.cap.get
    // STILL flooded: the retire leg must never fire while hot is at/over
    // the ring bar — even at retireFraction = 1, where the fraction bar
    // alone (12 ≤ 1 × 10 is false here, but the explicit hot < budget
    // guard covers the hot == budget rearm-declined case) cannot help
    val held = DedupIndex.capIfUnhealthy(store, "rp", hotBucketBudget = 10,
      retireFraction = 1.0)
    assert(!held.triggered && !held.retired && held.cap === Some(cap0))
    assert(DedupIndex.storedBucketCap(store, "rp") === Some(cap0))
    // upstream fix lands: 10 of the 12 flood copies taken down — the
    // flood bucket keeps a 2-row remnant, under the budget
    DedupIndex.deleteIds(store, "rp", (102L to 111L).toDF("doc_id"),
      "doc_id")
    val hAfter = DedupIndex.health(store, "rp").hotBucketRows
    assert(hAfter >= 2 && hAfter < 10, s"fixture drifted: hot $hAfter")
    // ABOVE the hysteresis bar the policy holds: calm, but not calm
    // enough to retire (bar = hAfter - 1 < hot)
    val hold = DedupIndex.capIfUnhealthy(store, "rp", hotBucketBudget = 10,
      retireFraction = (hAfter - 1).toDouble / 10)
    assert(!hold.triggered && !hold.retired && hold.cap === Some(cap0))
    // AT/UNDER the bar it retires: policy cleared, bucketCap = 0 probes
    // go back to the uncapped short-circuit plan
    val ret = DedupIndex.capIfUnhealthy(store, "rp", hotBucketBudget = 10,
      retireFraction = math.min(1.0, (hAfter + 1).toDouble / 10))
    assert(!ret.triggered && ret.retired && ret.cap.isEmpty)
    assert(DedupIndex.storedBucketCap(store, "rp").isEmpty)
    assert(!store.exists("rp_cap_policy"))
    assert(probePairs(0) === probePairs(Int.MaxValue))
    // idempotent: a second calm poll neither retires nor rings
    val calm2 = DedupIndex.capIfUnhealthy(store, "rp", hotBucketBudget = 10,
      retireFraction = 1.0)
    assert(!calm2.triggered && !calm2.retired && calm2.cap.isEmpty)
    // the bell re-armed FRESH: a new 12-copy flood lands the bucket at 14
    // rows — under 1.25 × the OLD 12-row baseline, so a surviving
    // baseline would have declined; the retire dropped it, so it rings
    DedupIndex.dedupIncrement(store, "rp",
      (300L to 311L).map(i => (i, flood)).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.7).collect()
    val re = DedupIndex.capIfUnhealthy(store, "rp", hotBucketBudget = 10)
    assert(re.triggered && re.hotBucketRows >= 14L,
      s"retire left a stale rearm baseline: $re")
    // clearCapPolicy is the manual form: reports whether one existed
    assert(DedupIndex.clearCapPolicy(store, "rp"))
    assert(DedupIndex.storedBucketCap(store, "rp").isEmpty)
    assert(!DedupIndex.clearCapPolicy(store, "rp"))
  }

  test("commitIncrement publishes the probe's own shingle files in two Spark jobs; a spent stage throws before any table moves") {
    val all = corpus(23, 40).toDF("doc_id", "text")
    val isInc = col("doc_id") % 3 === 0
    val tmp = java.nio.file.Files.createTempDirectory("graft_didx_pub").toString
    val store = new graft.tables.TableStore(spark, s"$tmp/store")
    DedupIndex.build(store, "idx", all.filter(!isInc), "doc_id", "text")
    val expected = pairSet(Dedup.minhashDedupIncremental(
      all.filter(!isInc), all.filter(isInc), "doc_id", "text", threshold = 0.7))
    val (pairs, stage) = DedupIndex.probeIncrement(store, "idx", all.filter(isInc),
      "doc_id", "text", threshold = 0.7)
    assert(pairSet(pairs) === expected)
    def dataFileNames(t: String) = graft.tables.Compact.dataFiles(
      new org.apache.hadoop.fs.Path(store.path(t))
        .getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(store.path(t))).map(_._1.getName).toSet
    val staged = stage.shStage.files.map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    assert(staged.nonEmpty && (staged & dataFileNames("idx_shingles")).isEmpty)

    // the band and size appends; the shingle rows move by rename
    assert(jobsDuring(DedupIndex.commitIncrement(store, "idx", stage)) === 2)
    assert(staged.subsetOf(dataFileNames("idx_shingles")))
    // the committed index equals a from-scratch build over base ∪ inc
    val ref = new graft.tables.TableStore(spark, s"$tmp/ref")
    DedupIndex.build(ref, "idx", all, "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(DedupIndex.shinglesOf(store, "idx", "doc_id")) ===
      rows(DedupIndex.shinglesOf(ref, "idx", "doc_id")))
    assert(rows(DedupIndex.bandsOf(store, "idx")) === rows(DedupIndex.bandsOf(ref, "idx")))
    assert(rows(DedupIndex.sizesOf(store, "idx")) === rows(DedupIndex.sizesOf(ref, "idx")))

    // committing the same stage again: nothing to publish, nothing appended
    val counts = Seq("idx_bands", "idx_shingles", "idx_sizes").map(store.read(_).count())
    intercept[java.io.FileNotFoundException](DedupIndex.commitIncrement(store, "idx", stage))
    assert(Seq("idx_bands", "idx_shingles", "idx_sizes").map(store.read(_).count()) === counts)
  }

  test("index persists across runs: run 2's base includes run 1's increment") {
    val all = corpus(12, 40).toDF("doc_id", "text")
    val inc1 = col("doc_id") % 3 === 0
    val inc2 = col("doc_id") % 3 === 1

    val tmp = java.nio.file.Files.createTempDirectory("graft_didx2").toString
    val store = new graft.tables.TableStore(spark, s"$tmp/store")
    DedupIndex.build(store, "idx", all.filter(!inc1 && !inc2), "doc_id", "text")
    DedupIndex.dedupIncrement(store, "idx", all.filter(inc1),
      "doc_id", "text", threshold = 0.7).collect()

    val expected2 = pairSet(Dedup.minhashDedupIncremental(
      all.filter(!inc2), all.filter(inc2), "doc_id", "text", threshold = 0.7))
    val run2 = pairSet(DedupIndex.dedupIncrement(store, "idx", all.filter(inc2),
      "doc_id", "text", threshold = 0.7))
    assert(run2 === expected2)
  }
}
