package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private def run(docs: Seq[(Long, String)], terms: Seq[String]) =
    Bm25.score(docs.toDF("doc_id", "text"), "doc_id", "text", terms, topK = 10)
      .select("doc_id", "score", "rnk").as[(Long, Double, Int)]
      .collect().sortBy(_._3)

  test("higher term frequency outranks lower at equal length") {
    val out = run(Seq(
      (1L, "cat cat cat dog bird fish"),
      (2L, "cat dog bird fish mouse wolf"),
      (3L, "dog bird fish mouse wolf bear")), Seq("cat"))
    assert(out.map(_._1).toSeq === Seq(1L, 2L)) // doc 3 has no match at all
    assert(out(0)._2 > out(1)._2)
  }

  test("length normalization: same tf in a longer document scores lower") {
    val out = run(Seq(
      (1L, "cat dog"),
      (2L, "cat dog bird fish mouse wolf bear lion tiger otter")), Seq("cat"))
    assert(out.map(_._1).toSeq === Seq(1L, 2L))
  }

  test("rational idf: a rarer term outweighs a common one at equal tf") {
    val docs = Seq(
      (1L, "rare filler filler"),
      (2L, "common filler filler"),
      (3L, "common filler filler"),
      (4L, "common filler filler"))
    val out = run(docs, Seq("rare", "common"))
    assert(out.head._1 === 1L, s"rare-term doc should rank first: ${out.toSeq}")
  }

  test("duplicate or empty query vocab rejected") {
    val df = Seq((1L, "a")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] { Bm25.score(df, "doc_id", "text", Nil) }
    intercept[IllegalArgumentException] { Bm25.score(df, "doc_id", "text", Seq("a", "a")) }
  }

  test("health: doc/posting/vocab counts, hot-term fraction, stale-stats flag") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_bm25h").toString)
    val docs = Seq(
      (1L, "spark table merge"),
      (2L, "spark rows"),
      (3L, "spark other words")).toDF("doc_id", "text")
    Bm25.buildIndex(store, "bm", docs, "doc_id", "text")
    val h = Bm25.health(store, "bm")
    assert(h.nDocs === 3L)
    assert(h.nPostings === 8L) // 8 distinct (doc, term) pairs
    assert(h.vocab === 6L)     // spark table merge rows other words
    assert(h.maxTermFrac === 1.0) // 'spark' is in every doc — the skew flag
    assert(!h.staleStats)
    assert(h.postingsFiles >= 1 && h.doclenFiles >= 1)
    // a repeat poll serves from the fingerprint-keyed 1-row cache and
    // must agree exactly
    assert(Bm25.health(store, "bm") === h)
    // simulate the externally-touched-tables case the flag exists for —
    // the external append also moves the fingerprint, so the recomputed
    // nDocs reflects the touched doclen table
    store.append("bm_doclen", Seq((9L, 2L)).toDF("doc_id", "dlen"))
    val hs = Bm25.health(store, "bm")
    assert(hs.staleStats)
    assert(hs.nDocs === 4L)
    Bm25.refreshStats(store, "bm")
    assert(!Bm25.health(store, "bm").staleStats)
  }

  test("dropIndex: full teardown including stats and the health cache; the name is reusable") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_bmdrop").toString)
    val docs = Seq((1L, "spark table"), (2L, "spark rows")).toDF("doc_id", "text")
    Bm25.buildIndex(store, "bm", docs, "doc_id", "text")
    Bm25.health(store, "bm") // materialize the cache
    val tables = Seq("bm_postings", "bm_doclen", "bm_stats", "bm_health_cache")
    assert(tables.forall(store.exists))
    Bm25.dropIndex(store, "bm")
    tables.foreach(t => assert(!store.exists(t), s"$t survived dropIndex"))
    Bm25.buildIndex(store, "bm", docs, "doc_id", "text")
    assert(Bm25.health(store, "bm").nDocs === 2L)
  }

  test("append: increment indexes without re-reading the base; equals a union rebuild exactly") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_bm25idx").toString)
    val tmp = java.nio.file.Files.createTempDirectory("graft_bm25corpus").toString
    val docs = Seq(
      (1L, "spark table merge table"),
      (2L, "merge spark spark"),
      (3L, "table table table noise"),
      (4L, "spark merge table words here"),
      (5L, "unrelated text entirely")).toDF("doc_id", "text")
    val isInc = col("doc_id") >= 4
    docs.filter(!isInc).write.parquet(s"$tmp/base")
    docs.filter(isInc).write.parquet(s"$tmp/inc")

    Bm25.buildIndex(store, "bm", spark.read.parquet(s"$tmp/base"), "doc_id", "text")
    // base corpus DELETED before the append: any plan that re-reads or
    // re-tokenizes base text fails at action time (the AnnIndexSpec pin)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$tmp/base"))
    Bm25.append(store, "bm", spark.read.parquet(s"$tmp/inc"), "doc_id", "text")

    // df of 'spark'/'table' shifts, N 3→5, avgdl shifts — all derived, so
    // the appended index must match a from-scratch union build exactly
    Bm25.buildIndex(store, "bm_union", docs, "doc_id", "text")
    def res(n: String) = Bm25.searchIndex(store, n, "doc_id",
        Seq("spark", "table"), topK = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(res("bm") === res("bm_union"),
      "append must score identically to a union rebuild")
    assert(Bm25.knownIds(store, "bm", "doc_id").as[Long].collect().toSet ===
      Set(1L, 2L, 3L, 4L, 5L))

    // a stream of one-doc appends fragments the tables; maintenance
    // compacts without touching content, and a healthy index is a no-op
    (6L to 12L).foreach { i =>
      Bm25.append(store, "bm", Seq((i, s"spark extra doc$i")).toDF("doc_id", "text"),
        "doc_id", "text")
    }
    val before = res("bm")
    assert(Bm25.maintainIfNeeded(store, "bm", maxFiles = 4).isDefined)
    assert(res("bm") === before)
    assert(Bm25.maintainIfNeeded(store, "bm", maxFiles = 64).isEmpty)
  }

  test("crash residue: a postings append whose doclen half never landed is neutralized on replay — scores equal the clean union rebuild") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_bmres").toString)
    val base = Seq(
      (1L, "spark table merge table"),
      (2L, "merge spark spark"),
      (3L, "table table table noise")).toDF("doc_id", "text")
    val inc = Seq(
      (4L, "spark merge table words here"),
      (5L, "unrelated text entirely")).toDF("doc_id", "text")
    Bm25.buildIndex(store, "rs", base, "doc_id", "text")
    // simulate append() dying between its two appends: the increment's
    // postings rows land, doclen never does — the docs stay absent from
    // knownIds, so a re-delivery guard admits the replayed batch
    val toks = graft.ext.TextAnalysis.wsTokens(col("text"))
    store.append("rs_postings",
      inc.select(col("doc_id"), explode(toks).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tcnt")))
    assert(Bm25.knownIds(store, "rs", "doc_id").as[Long].collect().toSet ===
      Set(1L, 2L, 3L), "half-applied docs must not enter membership")
    // the replay: a full append of the same batch (at-least-once)
    Bm25.append(store, "rs", inc, "doc_id", "text")
    Bm25.buildIndex(store, "rs_clean", base.unionByName(inc),
      "doc_id", "text")
    def res(n: String) = Bm25.searchIndex(store, n, "doc_id",
        Seq("spark", "table"), topK = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(res("rs") === res("rs_clean"),
      "residue postings must not move df or any score")
    // stored-policy ≡ explicit-cap equivalence holds over the residue
    // too: the ring metric is row-counted (spark/table/merge carry 4
    // rows each from the duplicated increment), but the materialized
    // stop list prunes by DISTINCT-doc df (3 < 4 for every term), so
    // the stored path prunes nothing the explicit reference keeps
    val ring = Bm25.capIfUnhealthy(store, "rs", hotTermBudget = 4)
    assert(ring.triggered && ring.hotTermRows === 4L,
      s"row-counted metric must ring at the 4-row residue df: $ring")
    assert(ring.nStopTerms === 0L,
      "the distinct-df stop list must stay empty below the budget")
    def resCap(cap: Long) = Bm25.searchIndex(store, "rs", "doc_id",
        Seq("spark", "table"), topK = 5, termDfCap = cap)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(resCap(0L) === resCap(4L),
      "stored policy and explicit cap must agree over residue")
    assert(resCap(0L) === res("rs_clean"))
  }

  test("append snapshots the tokenized increment exactly ONCE — the caller's frame is evaluated a single time, and the fold adds no second stage") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_bmns").toString)
    def gens(base: String): Int = {
      val p = new org.apache.hadoop.fs.Path(graft.tables.Scratch.root(spark), s".publish/$base")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0
      else fs.listStatus(p).count(_.getPath.getName.matches(".*_g[0-9]+"))
    }
    Bm25.buildIndex(store, "nsc",
      Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text"),
      "doc_id", "text")
    // ONE evaluation of the caller's frame per append — the membership
    // half must commit the same pick as the postings half, so a
    // nondeterministic input cannot half-index a doc. Pinned with a
    // partition-visit accumulator: any second evaluation shows up.
    val acc = spark.sparkContext.longAccumulator("bm25_append_evals")
    val counted = spark.createDataset(Seq((3L, "delta beta"))).coalesce(1)
      .mapPartitions { it => acc.add(1L); it }.toDF("doc_id", "text")
    val t0 = gens("nsc_app_toks")
    Bm25.append(store, "nsc", counted, "doc_id", "text")
    assert(acc.value === 1L,
      s"append must evaluate the caller's frame exactly once, saw ${acc.value}")
    assert(gens("nsc_app_toks") === t0 + 1, "one snapshot per append")
    assert(gens("nsc_app_postings") === 0,
      "the fold's old grouped-postings stage is gone")
    // the first poll lazily builds the sketch; a folding append rides
    // the SAME token snapshot and additionally stages the small grouped
    // rows once, so the fold re-reads them instead of re-aggregating
    val calm = Bm25.capIfUnhealthy(store, "nsc", hotTermBudget = 1000)
    assert(!calm.triggered)
    Bm25.append(store, "nsc",
      Seq((4L, "eps beta")).toDF("doc_id", "text"), "doc_id", "text")
    assert(gens("nsc_app_toks") === t0 + 2,
      "a folding append snapshots the tokens exactly once too")
    assert(gens("nsc_app_postings") === 1,
      "only the folding append stages the grouped rows")
    assert(Bm25.dfUpperBound(store, "nsc").exists(_ >= 4L),
      "the fold must have seen the snapshotted rows (sketch stays fresh)")
  }

  test("capIfUnhealthy: hot term rings and persists the df-cap + stop list, searches resolve it pre-scan, rearm guard declines until measurably worse, rearmFactor=0 escapes") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_bmcap").toString)
    // 'common' in every doc (df = 20, the stopword); every other term
    // doc-local (df = 1)
    val docs = (1L to 20L).map(i => (i, s"uniq$i filler$i common extra$i"))
    Bm25.buildIndex(store, "cp", docs.toDF("doc_id", "text"),
      "doc_id", "text")
    def res(cap: Long) = Bm25.searchIndex(store, "cp", "doc_id",
        Seq("uniq3", "common"), topK = 25, termDfCap = cap)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    // termDfCap = 0 with NO stored policy searches unpruned — identical
    // to the explicit never-prune search
    assert(res(0L) === res(Long.MaxValue))
    assert(res(0L).map(_._1).toSet === (1L to 20L).toSet,
      "'common' matches every doc when unpruned")
    // a generous budget declines: no policy written
    val calm = Bm25.capIfUnhealthy(store, "cp", hotTermBudget = 100)
    assert(!calm.triggered && calm.cap.isEmpty && calm.hotTermRows === 20L)
    assert(Bm25.storedDfCap(store, "cp").isEmpty)
    // budget under the stopword's df rings: cap = the budget itself
    // (Zipf — no mean-multiple), stop list = the one term at/over it
    val ring = Bm25.capIfUnhealthy(store, "cp", hotTermBudget = 10)
    assert(ring.triggered && ring.hotTermRows === 20L)
    assert(ring.cap === Some(10L) && ring.nStopTerms === 1L)
    assert(Bm25.storedDfCap(store, "cp") === Some(10L))
    // termDfCap = 0 now prunes 'common' BEFORE the scan: only the
    // uniq3 doc survives, and the result equals the explicit post-scan
    // df-filter semantics exactly
    assert(res(0L).map(_._1).toSeq === Seq(3L))
    assert(res(0L) === res(10L))
    // the explicit never-prune escape ignores the stored policy
    assert(res(Long.MaxValue).map(_._1).toSet === (1L to 20L).toSet)
    // every query term pruned → empty frame, same columns
    val allPruned = Bm25.searchIndex(store, "cp", "doc_id",
      Seq("common"), topK = 5)
    assert(allPruned.columns.toSeq === Seq("doc_id", "score", "rnk"))
    assert(allPruned.count() === 0L)
    // rearm guard: the same state declines (20 < 1.25 × 20), policy held
    val again = Bm25.capIfUnhealthy(store, "cp", hotTermBudget = 10)
    assert(!again.triggered && again.cap === Some(10L))
    // worsening past the rearm bar (20 → 26 ≥ 25) re-rings
    Bm25.append(store, "cp",
      (100L to 105L).map(i => (i, s"uniq$i common")).toDF("doc_id", "text"),
      "doc_id", "text")
    val worse = Bm25.capIfUnhealthy(store, "cp", hotTermBudget = 10)
    assert(worse.triggered && worse.hotTermRows === 26L)
    // rearmFactor = 0 disables the guard: re-derives at the SAME level
    val esc = Bm25.capIfUnhealthy(store, "cp", hotTermBudget = 10,
      rearmFactor = 0)
    assert(esc.triggered && esc.hotTermRows === 26L)
    // dropIndex tears the policy AND the poll sketch down with the index
    Bm25.dropIndex(store, "cp")
    assert(!store.exists("cp_cap_policy") && !store.exists("cp_cap_stopterms"))
    assert(!store.exists("cp_df_sketch"))
  }

  test("capIfUnhealthy sketch poll: routine asks read the CMS bound, appends fold, desyncs invalidate instead of undercounting, decisions agree with exact") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_bmsk").toString)
    // 'boilerplate' in 12 docs (the hot term); everything else df ≤ 1
    val docs = (1L to 6L).map(i => (i, s"alpha$i beta$i gamma$i")) ++
      (100L to 111L).map(i => (i, s"boilerplate junk$i filler$i"))
    Bm25.buildIndex(store, "sk", docs.toDF("doc_id", "text"),
      "doc_id", "text")
    // no sketch before the first ask — an index nobody polls never pays
    assert(!store.exists("sk_df_sketch"))
    assert(Bm25.dfUpperBound(store, "sk").isEmpty)
    // ask 1 (generous budget): exact path declines AND lazily builds
    val calm = Bm25.capIfUnhealthy(store, "sk", hotTermBudget = 1000)
    assert(!calm.triggered && calm.hotTermRows === 12L)
    assert(Bm25.dfUpperBound(store, "sk").exists(_ >= 12L))
    // an append FOLDS into the sketch (stays fresh, no rebuild)
    Bm25.append(store, "sk",
      (500L to 502L).map(i => (i, s"novel$i words$i here$i"))
        .toDF("doc_id", "text"), "doc_id", "text")
    assert(Bm25.dfUpperBound(store, "sk").exists(_ >= 12L),
      "per-append fold must keep the sketch fresh")
    // ask 2: the bound proves the decline — the corpus aggregate is NOT
    // paid, observable through the health cache the append invalidated
    val hcBefore = store.read("sk_health_cache").collect().toSeq
    val calm2 = Bm25.capIfUnhealthy(store, "sk", hotTermBudget = 1000)
    assert(!calm2.triggered && calm2.hotTermRows >= 12L)
    assert(store.read("sk_health_cache").collect().toSeq === hcBefore,
      "a sketch-proved decline must not pay the exact aggregate")
    // ask 3 (budget under the hot term): exact confirms the ring —
    // hotTermRows exact, stop list persisted, health cache refreshed
    val ring = Bm25.capIfUnhealthy(store, "sk", hotTermBudget = 10)
    assert(ring.triggered && ring.hotTermRows === 12L &&
      ring.nStopTerms === 1L)
    assert(store.read("sk_health_cache").collect().toSeq !== hcBefore)
    // an external mutation the fold never saw invalidates the sketch —
    // the undercount direction is structurally impossible
    store.append("sk_postings", store.read("sk_postings").limit(1))
    assert(Bm25.dfUpperBound(store, "sk").isEmpty)
    val again = Bm25.capIfUnhealthy(store, "sk", hotTermBudget = 10)
    assert(!again.triggered, s"rearm guard must hold through the rebuild: $again")
    assert(Bm25.dfUpperBound(store, "sk").exists(_ >= 12L),
      "the exact ask re-baselines the sketch")
    // takedown + retire always through the exact pass (the delete moved
    // the listing) — identical to pre-sketch semantics
    Bm25.deleteIds(store, "sk", (102L to 111L).toDF("doc_id"), "doc_id")
    val ret = Bm25.capIfUnhealthy(store, "sk", hotTermBudget = 10,
      retireFraction = 0.5)
    assert(!ret.triggered && ret.retired && ret.cap.isEmpty)
  }

  test("capIfUnhealthy hot witness: the standing-policy retire poll declines from the exact lower bound without the vocabulary aggregate; appends fold it; transitions still pay exact and retire") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_bmwit").toString)
    val docs = (1L to 6L).map(i => (i, s"alpha$i beta$i gamma$i")) ++
      (100L to 111L).map(i => (i, s"boilerplate junk$i filler$i"))
    Bm25.buildIndex(store, "wt", docs.toDF("doc_id", "text"),
      "doc_id", "text")
    // default retireFraction = 0: the ring keeps NO witness — nothing
    // would ever consult it, so the default config pays no dead
    // per-append fold
    val ring = Bm25.capIfUnhealthy(store, "wt", hotTermBudget = 10)
    assert(ring.triggered && ring.hotTermRows === 12L)
    assert(!store.exists("wt_df_witness"),
      "retireFraction = 0 must keep no witness")
    // the first retireFraction > 0 ask finds no witness, pays exact,
    // and writes one: hottest term, exact df — key and count from the
    // same health aggregate
    val seed = Bm25.capIfUnhealthy(store, "wt", hotTermBudget = 10,
      retireFraction = 0.5)
    assert(!seed.triggered && !seed.retired && seed.cap === Some(10L))
    val w0 = store.read("wt_df_witness").collect()(0)
    assert(w0.getString(w0.fieldIndex("k")) === "boilerplate" &&
      w0.getLong(w0.fieldIndex("cnt")) === 12L)
    // standing-policy poll with retireFraction > 0: the witness's lower
    // bound (12 > 0.5 × 10) disproves the retire — no postings
    // aggregate, observable through the untouched health cache
    val hcBefore = store.read("wt_health_cache").collect().toSeq
    val hold = Bm25.capIfUnhealthy(store, "wt", hotTermBudget = 10,
      retireFraction = 0.5)
    assert(!hold.triggered && !hold.retired && hold.cap === Some(10L))
    assert(store.read("wt_health_cache").collect().toSeq === hcBefore,
      "a witness-disproved retire must not pay the exact aggregate")
    // appends fold the witness's exact df and the poll stays flat
    Bm25.append(store, "wt",
      Seq((300L, "boilerplate extra300"), (301L, "boilerplate extra301"))
        .toDF("doc_id", "text"), "doc_id", "text")
    val w1 = store.read("wt_df_witness").collect()(0)
    assert(w1.getLong(w1.fieldIndex("cnt")) === 14L,
      "per-append fold must add the batch's occurrences of the witness term")
    val hold2 = Bm25.capIfUnhealthy(store, "wt", hotTermBudget = 10,
      retireFraction = 0.5)
    assert(!hold2.triggered && !hold2.retired && hold2.cap === Some(10L))
    assert(store.read("wt_health_cache").collect().toSeq === hcBefore,
      "the folded witness must keep the standing-policy poll flat")
    // the takedown moves the listing: witness stale → exact → retire →
    // witness dropped with the policy
    Bm25.deleteIds(store, "wt",
      ((102L to 111L) ++ Seq(300L, 301L)).toDF("doc_id"), "doc_id")
    val ret = Bm25.capIfUnhealthy(store, "wt", hotTermBudget = 10,
      retireFraction = 0.5)
    assert(!ret.triggered && ret.retired && ret.cap.isEmpty)
    assert(!store.exists("wt_df_witness"),
      "a retired policy must drop its witness")
    Bm25.dropIndex(store, "wt")
    assert(!store.exists("wt_df_witness"))
  }

  test("capIfUnhealthy retireFraction: a takedown'd flood clears the policy on the hysteresis bar, never mid-flood, and re-arms the bell fresh; clearCapPolicy is the manual form") {
    val store = new graft.tables.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_bmret").toString)
    // organic docs term-disjoint; the 12-doc flood shares 'boilerplate'
    val docs = (1L to 6L).map(i => (i, s"alpha$i beta$i gamma$i")) ++
      (100L to 111L).map(i => (i, s"boilerplate junk$i filler$i"))
    Bm25.buildIndex(store, "rp", docs.toDF("doc_id", "text"),
      "doc_id", "text")
    val ring = Bm25.capIfUnhealthy(store, "rp", hotTermBudget = 10)
    assert(ring.triggered && !ring.retired && ring.hotTermRows === 12L)
    // STILL flooded: retire must never fire at/over the ring bar, even
    // at retireFraction = 1
    val held = Bm25.capIfUnhealthy(store, "rp", hotTermBudget = 10,
      retireFraction = 1.0)
    assert(!held.triggered && !held.retired && held.cap === Some(10L))
    // upstream fix: 10 of the 12 flood docs taken down → hot df 2
    Bm25.deleteIds(store, "rp", (102L to 111L).toDF("doc_id"), "doc_id")
    assert(Bm25.health(store, "rp").hotTermRows === 2L)
    // above the hysteresis bar the policy holds (bar 1 < hot 2)
    val hold = Bm25.capIfUnhealthy(store, "rp", hotTermBudget = 10,
      retireFraction = 0.1)
    assert(!hold.triggered && !hold.retired && hold.cap === Some(10L))
    // at/under the bar it retires: both policy tables cleared, searches
    // go back to unpruned
    val ret = Bm25.capIfUnhealthy(store, "rp", hotTermBudget = 10,
      retireFraction = 0.3)
    assert(!ret.triggered && ret.retired && ret.cap.isEmpty)
    assert(Bm25.storedDfCap(store, "rp").isEmpty)
    assert(!store.exists("rp_cap_policy") && !store.exists("rp_cap_stopterms"))
    def pruned() = Bm25.searchIndex(store, "rp", "doc_id",
      Seq("boilerplate"), topK = 25).count()
    assert(pruned() === 2L, "retired policy must stop pruning")
    // idempotent calm poll
    val calm2 = Bm25.capIfUnhealthy(store, "rp", hotTermBudget = 10,
      retireFraction = 1.0)
    assert(!calm2.triggered && !calm2.retired && calm2.cap.isEmpty)
    // the bell re-armed FRESH: a new 12-doc flood lands hot at 14 —
    // under 1.25 × the OLD 12 baseline, so a surviving baseline would
    // have declined; the retire dropped it, so it rings
    Bm25.append(store, "rp",
      (300L to 311L).map(i => (i, s"boilerplate junk$i")).toDF("doc_id", "text"),
      "doc_id", "text")
    val re = Bm25.capIfUnhealthy(store, "rp", hotTermBudget = 10)
    assert(re.triggered && re.hotTermRows === 14L,
      s"retire left a stale rearm baseline: $re")
    // clearCapPolicy is the manual form: reports whether one existed
    assert(Bm25.clearCapPolicy(store, "rp"))
    assert(Bm25.storedDfCap(store, "rp").isEmpty)
    assert(!Bm25.clearCapPolicy(store, "rp"))
    // an ORPHANED stop list (a crash between the clapper's stop-list
    // write and its policy write) stays inert: pruning is gated on the
    // policy row, so no policy in force means no pruning
    store.overwrite("rp_cap_stopterms",
      Seq(("boilerplate", 14L)).toDF("term", "df"))
    assert(Bm25.searchIndex(store, "rp", "doc_id",
        Seq("boilerplate"), topK = 25).count() === 14L,
      "a stop list without a policy row must not prune")
    // parameter bounds (the shared-validator statement)
    intercept[IllegalArgumentException] {
      Bm25.capIfUnhealthy(store, "rp", hotTermBudget = 0) }
    intercept[IllegalArgumentException] {
      Bm25.capIfUnhealthy(store, "rp", rearmFactor = -0.1) }
    intercept[IllegalArgumentException] {
      Bm25.capIfUnhealthy(store, "rp", retireFraction = 1.5) }
    intercept[IllegalArgumentException] {
      Bm25.searchIndex(store, "rp", "doc_id", Seq("a"), termDfCap = -1) }
  }
}
