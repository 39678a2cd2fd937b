package graft

import org.apache.spark.graft.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType

import graft.ext.{Dedup, Similarity}

/** Empirical scale-stress harness: runs the headline dedup/ANN pipelines on
  * the driver testdata AND on a deterministic `factor`× expansion of it,
  * and reports wall-clock plus total shuffle-write bytes per query — the
  * evidence that the claimed sub-quadratic designs actually scale like the
  * data (time ratio ≈ data ratio), not like its square.
  *
  * Usage: `runMain graft.ScaleStress <sfDir> <workDir> [factor] [reps]
  * [mode] [only=q1,q2] [noinc]` — no mode runs the stress battery below;
  * a mode (see `modes`) runs one battery instead.
  *
  * == Expansion construction (why it is a fair scale-up) ==
  * Each replica `r ∈ [1, factor)` re-emits every row with its id offset by
  * `r·10^8` and its content perturbed so that CROSS-replica pairs are NOT
  * near-duplicates while WITHIN-replica dup structure survives:
  *
  *  - documents: a replica-unique token (`zq<r>x`) is spliced after every
  *    4th word. Word-3-gram shingles ([[Dedup.shingleIndex]]) then put a
  *    replica token inside 3 of every 5 shingles, pinning cross-replica
  *    Jaccard of a doc with its own twin at ≈ 2/8 = 0.25 — far below the
  *    0.8 dedup threshold. Docs inside one replica carry the same splice,
  *    so their mutual overlap is (approximately) preserved.
  *  - embeddings: each element is multiplied by a deterministic ±1 drawn
  *    from murmur3 `hash(r, i)`. A ±1 diagonal is orthogonal: within a
  *    replica every dot product and norm — hence every cosine — is EXACTLY
  *    preserved, while across replicas the signs decorrelate the vectors
  *    (expected cosine ≈ 0). Near-dup structure replicates per replica;
  *    nothing pairs across replicas.
  *
  * The corpus therefore grows `factor`× with per-replica dup statistics
  * matching the original — a genuinely `factor`-times-larger workload, not
  * `factor²` extra pairs from colliding replicas.
  *
  * == What is timed ==
  * The oracle-pinned pipelines exactly as registered (d3/d8/x3/c1 via
  * [[graft.queries.Registry]]), plus the IVF near-dup path twice: once with
  * the cluster count scaled with the data (constant cluster size — the knob
  * a production deployment turns, keeping within-cluster pairing linear)
  * and once with the 1× cluster count held fixed, to show the quadratic
  * trap the knob exists to avoid. Results print as one JSON line per
  * (query, scale) and a final ratio summary.
  */
object ScaleStress {

  /** Replica id offset — far above any testdata id, so replica id spaces
    * are disjoint and `least/greatest` pair ordering stays within-replica
    * meaningful. */
  private val Off = 100000000L

  /** Deterministic factor× expansion of documents + embeddings into
    * `outDir` (see class doc for the construction). Replica 0 is the
    * original rows byte-for-byte. */
  def expand(spark: SparkSession, sfDir: String, outDir: String, factor: Int): Unit = {
    require(factor >= 2, s"factor must be >= 2, got $factor")
    val reps = spark.range(1, factor).select(col("id").cast("int").as("r"))

    val docs = Td(spark, sfDir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val mutDocs = docs.crossJoin(broadcast(reps)).select(
      (col("doc_id") + col("r").cast("long") * Off).as("doc_id"),
      regexp_replace(col("text"), lit("((\\S+\\s+){4})"),
        concat(lit("$1zq"), col("r"), lit("x "))).as("text"),
      col("lang"), col("source"), col("r"))
    docs.unionByName(
        mutDocs.withColumn("n_chars", length(col("text")).cast("long")).drop("r"))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = Td(spark, sfDir, "embeddings").select("vec_id", "embedding", "label")
    val mutEmb = emb.crossJoin(broadcast(reps)).select(
      (col("vec_id") + col("r").cast("long") * Off).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x * when(pmod(hash(col("r"), i), lit(2)) === 0, lit(1.0f)).otherwise(lit(-1.0f)))
          .cast(FloatType)).as("embedding"),
      col("label"))
    emb.unionByName(mutEmb)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // events: replicas offset BOTH ids and user ids, timestamps unchanged —
    // per-user temporal structure (and so the per-key join/session workload)
    // replicates exactly, and nothing joins across replicas: the interval
    // workload grows factor×, not factor²×
    val ev = Td(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val mutEv = ev.crossJoin(broadcast(reps)).select(
      (col("event_id") + col("r").cast("long") * Off).as("event_id"), col("ts"),
      (col("user_id") + col("r").cast("long") * Off).as("user_id"),
      col("event_type"), col("value"), col("props"))
    ev.unionByName(mutEv)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }

  /** The stressed pipelines. d3/d8/x3/c1 run the exact registered
    * oracle-pinned code; the two IVF variants differ only in whether the
    * cluster-count knob follows the data. */
  private def stressQueries(kFor: Int => Int): Seq[(String, (SparkSession, String) => DataFrame)] = {
    def ivf(k: Int)(s: SparkSession, dir: String): DataFrame = {
      val emb = Td(s, dir, "embeddings")
      val cents = Similarity.kmeansTrain(emb, "vec_id", "embedding", k = k, iters = 2)
        .select(col("centroid_id").cast("long").as("vec_id"), col("embedding"))
      Similarity.cosinePairsClustered(emb, cents, "vec_id", "embedding", 0.45)
    }
    val reg = graft.queries.Registry.queryMap
    Seq(
      "d3_minhash" -> reg("d3_dedup_minhash"),
      "d8_incremental" -> reg("d8_dedup_incremental"),
      "x3_groups" -> reg("x3_dedup_groups"),
      "c1_curation" -> reg("c1_curation"),
      "d12_contamination" -> reg("d12_contamination"),
      // sub-document boilerplate: chunk-digest df agg + 1:1 digest join —
      // same scale shape as d12, and the proportional threshold keeps the
      // flagged-set semantics stable as corpus and chunk df grow together
      "d15_paragraph" -> reg("d15_paragraph_dedup"),
      // range shuffle + local windows: time should track rows, and the
      // offset-recomposition rank must stay exact at every factor
      "x13_curriculum" -> reg("x13_curriculum_tiles"),
      // salted two-phase quota: survivors-only second shuffle keeps the
      // second exchange flat while the first tracks the corpus
      "x14_quota" -> reg("x14_domain_quota"),
      // per-user bin equi-join: replicated users, pairs ∝ factor
      "j10_overlap" -> reg("j10_interval_overlap"),
      // window-digest df agg + shared-tail join (the d15 shape on sliding
      // spans); replica-token splice keeps cross-replica windows distinct
      "d20_spans" -> reg("d20_span_dedup"),
      // per-user RANGE-frame window: one user exchange + per-user time
      // sort; replicated users replicate the frame workload, pairs ∝ N
      "e2_rolling" -> reg("e2_rolling_window"),
      // regex-chain map pass riding the scan — must track the scan, ∝ N
      "t13_html" -> reg("t13_html_extract"),
      // composed strip → gate → digest dedup: map passes + one md5 agg
      "c6_crawl" -> reg("c6_crawl_pipeline"),
      // PQ ADC: training is fixed Lloyd passes over the scan, encode a map
      // pass, search a broadcast ranking — every stage ∝ N
      "s5_pq" -> reg("s5_knn_pq"),
      // composed stack: probe-pruned candidate set (nprobe/nlist of N),
      // ranking over codes — the prune keeps search below the corpus growth
      "s6_ivfpq" -> reg("s6_ann_ivfpq"),
      // SemDeDup verdict pass: d6's cluster+pair exchange plus a distinct
      // over loser ids and the verdict left-join — must track d6's curve
      "d21_semdedup" -> reg("d21_semdedup"),
      // BM25: postings ∝ N but filtered to query vocab AT the explode —
      // the scored relation must grow with matching postings, not corpus
      "s9_bm25" -> reg("s9_bm25"),
      // RRF fuses two bounded top-k lists per query — the fusion itself is
      // flat; total time must track its two retrieval legs
      "s10_rrf" -> reg("s10_hybrid_rrf"),
      // anchor df-agg + candidate-bounded stride-1 confirm: candidates are
      // the docs actually sharing content (the query's planted span), so
      // the exact stage grows with THEM, the anchor stage with the corpus
      "d22_span_exact" -> reg("d22_span_exact"),
      // winnowed variant: adds a per-doc sliding-min window to the anchor
      // stage — per-group window work ∝ corpus, confirm stage ∝ candidates
      "d23_span_guaranteed" -> reg("d23_span_guaranteed"),
      // BPE training: K fixed scan+pair-agg rounds — each round ∝ corpus,
      // round count data-independent, so total must track the scan
      "t18_bpe_train" -> reg("t18_bpe_train"),
      // fixed-round PageRank: |E| = 3|V| modular edges, per round one
      // edge-keyed join + agg + node left join — time must track |V|
      "x25_linkrank" -> reg("x25_link_rank"),
      // complete PageRank: x25's rounds + a |V|-row dangling anti-join and
      // a 1-row broadcast aggregate per round — same curve expected
      "x28_linkrank_full" -> reg("x28_link_rank_full"),
      "d6_ivf_scaled_k" -> ((s: SparkSession, dir: String) => ivf(kFor(dirFactor(dir)))(s, dir)),
      // k ∝ √N: the classic IVF balance point — assignment O(N·k) and
      // within-cluster pairing O(N²/k) both grow as N^1.5
      "d6_ivf_sqrt_k" -> ((s: SparkSession, dir: String) =>
        ivf(math.round(kFor(1) * math.sqrt(dirFactor(dir))).toInt)(s, dir)),
      "d6_ivf_fixed_k" -> ((s: SparkSession, dir: String) => ivf(kFor(1))(s, dir)))
  }

  /** Scale factor encoded in the data dir name by `main` (`…/x<factor>`);
    * 1 for the original sf dir. */
  private def dirFactor(dir: String): Int = {
    val m = "x(\\d+)$".r.findFirstMatchIn(dir)
    m.map(_.group(1).toInt).getOrElse(1)
  }

  /** Durable-index incremental tracking ([[graft.ext.DedupIndex]]): the
    * design claim is that a crawl run's cost follows |inc|, not |base| —
    * the increment is shingled and the stored index probed; base text is
    * never re-read. Three measurements pin it empirically, all with
    * increments drawn from the same md5 id-bucketing so absolute sizes are
    * comparable:
    *
    *   - the SAME increment against a 1× and a `factor`× base: `factor`×
    *     more history must not move the probe time (only the narrow
    *     index-side scans grow);
    *   - a `factor`× increment against the `factor`× base: probe time may
    *     grow toward the increment's share, never the corpus's;
    *   - doubling the crawl against the same base: roughly additive in
    *     |inc|.
    *
    * The index BUILD is timed too — it scales with |base| by design (the
    * once-ever cost the incremental path amortizes away).
    */
  private def incTracking(spark: SparkSession, sfDir: String, expDir: String,
      factor: Int, workDir: String): Unit = {
    import graft.ext.DedupIndex
    import graft.tables.TableStore
    val b = Similarity.sampleBucket(col("doc_id")) % 10
    def split(dir: String) = {
      val docs = Td(spark, dir, "documents")
      (docs.filter(b >= 2), docs.filter(b === 0), docs.filter(b <= 1))
    }
    val (baseSmall, inc1Small, _) = split(sfDir)
    val (baseBig, inc1, inc2) = split(expDir) // inc1 ⊂ inc2, same base
    // inc1Small's ids are original-corpus ids with bucket 0 — absent from
    // BOTH bases (b >= 2), so the same increment replays against either
    // last column: idBuckets (0 = flat layout). The bucketed twin of the
    // decisive case — same small increment, factor× history — measures
    // what partition-pruned candidate verification saves when the history
    // dwarfs the crawl (the id-bucketed layout's design point).
    // The layout's FAVORABLE-selectivity point: a ≤8-doc crawl against the
    // factor× history, where the candidates land in ≤8 of 64 buckets and
    // partition pruning skips ≥7/8 of the shingle scan. The ~500-doc
    // increment above covers essentially all buckets (selectivity ≈ 1,
    // measured 2.11× SLOWER in r8) — this pair measures the other end.
    val incTiny = inc1Small.orderBy("doc_id").limit(8)
    val cases = Seq(
      ("small_base", baseSmall, inc1Small, 0),
      ("big_base_same_inc", baseBig, inc1Small, 0),
      ("big_base_same_inc_bkt", baseBig, inc1Small, 64),
      ("big_base_tiny_inc", baseBig, incTiny, 0),
      ("big_base_tiny_inc_bkt", baseBig, incTiny, 64),
      ("big_base", baseBig, inc1, 0),
      ("big_base_2inc", baseBig, inc2, 0))
    val times = cases.map { case (tag, base, inc, idBuckets) =>
      val store = new TableStore(spark, s"$workDir/incstore_$tag")
      val t0 = System.nanoTime()
      DedupIndex.build(store, "idx", base, "doc_id", "text", idBuckets = idBuckets)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val nInc = inc.count()
      val t1 = System.nanoTime()
      DedupIndex.dedupIncrement(store, "idx", inc, "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
      val probeSec = (System.nanoTime() - t1) / 1e9
      println(f"""{"incbench":"$tag","base_docs":${base.count()},"inc_docs":$nInc,"build_sec":$buildSec%.2f,"probe_sec":$probeSec%.2f}""")
      tag -> probeSec
    }.toMap
    println(f"""{"incbench":"summary","same_inc_base_x$factor":${times("big_base_same_inc") / times("small_base")}%.2f,"same_inc_bkt_vs_flat":${times("big_base_same_inc_bkt") / times("big_base_same_inc")}%.2f,"tiny_inc_bkt_vs_flat":${times("big_base_tiny_inc_bkt") / times("big_base_tiny_inc")}%.2f,"incx$factor":${times("big_base") / times("small_base")}%.2f,"inc_x2":${times("big_base_2inc") / times("big_base")}%.2f}""")
  }

  /** Takedown-cascade tracking ([[graft.tables.Deletes]] →
    * [[graft.ext.DedupIndex.deleteIds]]): the claim is that deleting a
    * FIXED-SIZE id batch costs an index-table rewrite, never a re-shingle
    * — the flat layout rewrites the whole (narrow) shingle table, so its
    * delete tracks the INDEX size; the id-bucketed layout rewrites only
    * the ≤|ids| affected bucket directories, so the same batch against a
    * `factor`× history should move far less than `factor`×. Build is
    * untimed (it scales with the corpus by design; incTracking times it).
    */
  private def delTracking(spark: SparkSession, sfDir: String, expDir: String,
      factor: Int, workDir: String): Unit = {
    import graft.ext.DedupIndex
    import graft.tables.TableStore
    // a fixed 8-doc takedown batch present at BOTH scales (expansion
    // preserves original ids)
    val ids = Td(spark, sfDir, "documents").select(col("doc_id"))
      .orderBy(col("doc_id")).limit(8)
    val cases = Seq(
      ("del_flat_x1", sfDir, 0), (s"del_flat_x$factor", expDir, 0),
      ("del_bkt_x1", sfDir, 64), (s"del_bkt_x$factor", expDir, 64))
    val times = cases.map { case (tag, dir, idBuckets) =>
      val store = new TableStore(spark, s"$workDir/delstore_$tag")
      DedupIndex.build(store, "idx", Td(spark, dir, "documents"),
        "doc_id", "text", idBuckets = idBuckets)
      val t0 = System.nanoTime()
      DedupIndex.deleteIds(store, "idx", ids, "doc_id")
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"delbench":"$tag","n_ids":8,"del_sec":$sec%.2f}""")
      tag -> sec
    }.toMap
    println(f"""{"delbench":"summary","flat_x$factor":${
      times(s"del_flat_x$factor") / times("del_flat_x1")}%.2f,"bkt_x$factor":${
      times(s"del_bkt_x$factor") / times("del_bkt_x1")}%.2f,"bkt_vs_flat_x$factor":${
      times(s"del_bkt_x$factor") / times(s"del_flat_x$factor")}%.2f}""")
  }

  /** Durable-ANN tracking ([[graft.ext.AnnIndex]]): the bench entry
    * (s15_ann_search) deliberately times SEARCH against the stored index —
    * so the BUILD cost (coarse training + codebooks + full-corpus encode,
    * the once-ever pass that scales with |corpus|) is kept on the record
    * HERE instead. Search should track the probed clusters' share, not the
    * corpus: a factor× corpus with the same nlist grows each cluster
    * factor×, so search may grow toward factor× of the scanned codes — the
    * honest expectation at fixed geometry (production grows nlist with the
    * corpus to hold cluster size constant).
    */
  private def annTracking(spark: SparkSession, sfDir: String, expDir: String,
      factor: Int, workDir: String): Unit = {
    import graft.ext.AnnIndex
    import graft.tables.TableStore
    // fixed geometry (the quadratic-trap baseline) vs auto nlist=⌈√n⌉
    // (the AnnIndex.build default): with nlist frozen a factor× corpus
    // grows every probed cluster factor×, with √n clusters the per-probe
    // scan grows only √factor× — codes_per_search is the measured proof
    val cases = Seq(
      ("ann_x1", sfDir, 8), (s"ann_x$factor", expDir, 8),
      ("ann_x1_auto", sfDir, 0), (s"ann_x${factor}_auto", expDir, 0))
    val times = cases.map { case (tag, dir, nlist) =>
      val store = new TableStore(spark, s"$workDir/annstore_$tag")
      val emb = Td(spark, dir, "embeddings")
      val t0 = System.nanoTime()
      AnnIndex.build(store, "ann", emb, "vec_id", "embedding",
        dim = 64, nlist = nlist, coarseIters = 2, m = 8, k = 16, pqIters = 2,
        sampleMod = Some(4))
      val buildSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      AnnIndex.search(store, "ann", emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 5, nprobe = 2)
        .write.format("noop").mode("overwrite").save()
      val searchSec = (System.nanoTime() - t1) / 1e9
      val n = emb.count()
      val nl = store.read("ann_centroids").count()
      val codesPerSearch = 2.0 * n / nl // nprobe × avg cluster size
      println(f"""{"annbench":"$tag","n_vecs":$n,"nlist":$nl,"codes_per_search":$codesPerSearch%.0f,"build_sec":$buildSec%.2f,"search_sec":$searchSec%.2f}""")
      tag -> ((buildSec, searchSec, codesPerSearch))
    }.toMap
    println(f"""{"annbench":"summary","build_x$factor":${
      times(s"ann_x$factor")._1 / times("ann_x1")._1}%.2f,"search_x$factor":${
      times(s"ann_x$factor")._2 / times("ann_x1")._2}%.2f,"codes_ratio_fixed":${
      times(s"ann_x$factor")._3 / times("ann_x1")._3}%.2f,"codes_ratio_auto":${
      times(s"ann_x${factor}_auto")._3 / times("ann_x1_auto")._3}%.2f,"search_x${factor}_auto":${
      times(s"ann_x${factor}_auto")._2 / times("ann_x1_auto")._2}%.2f}""")
  }

  /** Semantic-decontamination tracking ([[graft.ext.AnnIndex
    * .decontaminate]] vs [[Similarity.semanticDecontaminate]]): the claim
    * is that routing the eval scrub through the index's coarse quantizer
    * moves the per-train-row cost from |eval| exact dots to the eval
    * vectors probing that row's cluster — expected nprobe/nlist of the
    * exact fan-out. Measured directly, not inferred from wall time: the
    * pruned scrub at threshold −1 turns every candidate into a hit, so
    * `Σ n_eval_hits` IS the count of exact dots the prune admitted; the
    * exact scrub's count is |train|·|eval| by construction. Wall times
    * and retained-hit counts at the real 0.45 bar ride along — retention
    * is the nprobe dial (the c8 scaladoc's measured curve), reported
    * honestly rather than assumed.
    */
  private def deconTracking(spark: SparkSession, sfDir: String, expDir: String,
      factor: Int, workDir: String, nprobe: Int = 4): Unit = {
    import graft.ext.AnnIndex
    import graft.tables.TableStore
    // nlist=8 mirrors the c8 oracle's geometry; the auto rows (nlist=⌈√n⌉,
    // the AnnIndex.build default) show the fan-out fraction FALLING with
    // the corpus — nprobe/√n — which is what finally decouples the
    // per-row cost from |eval| (retention at the 0.45 bar is reported
    // honestly alongside: finer clusters prune harder AND lose more at a
    // fixed nprobe — the dial's two ends on one record)
    val cases = Seq(
      ("decon_x1", sfDir, 8), (s"decon_x$factor", expDir, 8),
      ("decon_x1_auto", sfDir, 0), (s"decon_x${factor}_auto", expDir, 0))
    val rows = cases.map { case (tag, dir, nlist) =>
      val emb = Td(spark, dir, "embeddings")
      val isEval = col("vec_id") % 10 === 0
      val train = emb.filter(!isEval)
      val ev = emb.filter(isEval)
      val store = new TableStore(spark, s"$workDir/deconstore_$tag")
      AnnIndex.build(store, "ann", train, "vec_id", "embedding",
        dim = 64, nlist = nlist, coarseIters = 2, m = 8, k = 16, pqIters = 2,
        sampleMod = Some(4))
      val (nTrain, nEval) = (train.count(), ev.count())
      val t0 = System.nanoTime()
      val exactHits = Similarity.semanticDecontaminate(train, ev,
        "vec_id", "embedding", threshold = 0.45).count()
      val exactSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val prunedHits = AnnIndex.decontaminate(store, "ann", train, ev,
        "vec_id", "embedding", threshold = 0.45, nprobe = nprobe).count()
      val prunedSec = (System.nanoTime() - t1) / 1e9
      val candPairs = AnnIndex.decontaminate(store, "ann", train, ev,
          "vec_id", "embedding", threshold = -1.0, nprobe = nprobe)
        .agg(sum(col("n_eval_hits"))).collect()(0).getLong(0)
      val exactPairs = nTrain * nEval
      val nl = store.read("ann_centroids").count()
      // the measured alternative to the fixed nprobe above: calibrate on
      // a 1/10 md5 slice (the production recipe), recording the probe
      // count the binary search lands on, how many slice replays it paid,
      // and the end-to-end cost including the full pruned scrub it feeds
      val t2 = System.nanoTime()
      val (calScrub, cal) = AnnIndex.decontaminateCalibrated(store, "ann",
        train, ev, "vec_id", "embedding", threshold = 0.45, sampleMod = 10)
      val calHits = calScrub.count()
      val calSec = (System.nanoTime() - t2) / 1e9
      println(f"""{"deconbench":"$tag","n_train":$nTrain,"n_eval":$nEval,"nlist":$nl,"exact_pairs":$exactPairs,"cand_pairs":$candPairs,"cand_frac":${candPairs.toDouble / exactPairs}%.3f,"exact_sec":$exactSec%.2f,"pruned_sec":$prunedSec%.2f,"exact_hit_rows":$exactHits,"pruned_hit_rows":$prunedHits,"cal_nprobe":${cal.nprobe},"cal_checks":${cal.checks},"cal_slice_pairs":${cal.slicePairs},"cal_hit_rows":$calHits,"cal_sec":$calSec%.2f}""")
      tag -> (candPairs.toDouble / exactPairs, exactSec, prunedSec)
    }.toMap
    val (f1, e1, p1) = rows("decon_x1")
    val (fN, eN, pN) = rows(s"decon_x$factor")
    println(f"""{"deconbench":"summary","nprobe_over_nlist":${nprobe / 8.0}%.3f,"cand_frac_x1":$f1%.3f,"cand_frac_x$factor":$fN%.3f,"cand_frac_x${factor}_auto":${rows(s"decon_x${factor}_auto")._1}%.3f,"speedup_x1":${e1 / p1}%.2f,"speedup_x$factor":${eN / pN}%.2f}""")
  }

  /** Streaming retrieval-ingest throughput ([[graft.streaming.Streams
    * .retrievalIngestSink]]): drive the sink through enough micro-batches
    * that per-batch appends fragment the durable ANN + BM25 indexes past
    * `maxIndexFiles` and the post-commit compaction trigger fires,
    * recording per-batch latency and the data-file-count curve of both
    * index tables — the annTracking idiom applied to the streaming path.
    * Each batch is landed as one parquet file and drained by its own
    * AvailableNow pass over a shared checkpoint (exactly how an
    * incremental crawl tick runs), so the recorded latency is the full
    * guard → append → intent → compaction-check cycle; the file-count
    * column shows the sawtooth (fragmentation up, compaction snap-down)
    * that proves the trigger works under load rather than in a spec.
    */
  private def ingestTracking(spark: SparkSession, sfDir: String,
      workDir: String, nBatches: Int = 20, maxIndexFiles: Int = 20,
      gated: Boolean = false, semantic: Boolean = false): Unit = {
    import graft.ext.{AnnIndex, Bm25, DedupIndex}
    import graft.tables.TableStore
    import graft.tables.Compact
    val store = new TableStore(spark, s"$workDir/ingeststore")
    val joined = Td(spark, sfDir, "embeddings")
      .join(Td(spark, sfDir, "documents").select(col("doc_id"), col("text")),
        col("vec_id") === col("doc_id"))
      .select(col("doc_id"), col("text"), col("embedding"))
    // md5-bucket split: ~half builds the indexes, the rest streams in
    val b = Similarity.sampleBucket(col("doc_id")) % 2
    val base = joined.filter(b === 0)
    val stream0 = joined.filter(b === 1).withColumn(
      "bat", pmod(Similarity.sampleBucket(col("doc_id") + 7), lit(nBatches)))
    // gated mode: plant verbatim copies of two base documents' text into
    // ~20% of the streamed docs (deterministic md5 pick) — the gate must
    // drop every one of them (they near-dup INDEXED docs) while novel
    // docs pass untouched; the planted rate shows up as the admitted-id
    // gap in the end-of-run totals line
    val pick = pmod(Similarity.sampleBucket(col("doc_id") + 13), lit(10))
    val stream =
      if (gated) {
        val planted = base.select(col("text"))
          .orderBy(col("doc_id")).limit(2).collect().map(_.getString(0))
        stream0.withColumn("text",
          when(pick === 0, lit(planted(0)))
            .when(pick === 1, lit(planted(1)))
            .otherwise(col("text")))
      } else if (semantic) {
        // the semantic battery plants EMBEDDING copies (text untouched —
        // exactly the paraphrase leak the lexical gate cannot see)
        val planted = base.orderBy(col("doc_id")).limit(2).collect()
          .map(_.getSeq[Float](2).toSeq)
        stream0.withColumn("embedding",
          when(pick === 0, typedLit(planted(0)))
            .when(pick === 1, typedLit(planted(1)))
            .otherwise(col("embedding")))
      } else stream0
    AnnIndex.build(store, "ing_ann", base, "doc_id", "embedding",
      dim = 64, nlist = 8, coarseIters = 2, m = 8, k = 16, pqIters = 2,
      sampleMod = Some(4))
    Bm25.buildIndex(store, "ing_bm", base, "doc_id", "text")
    if (gated) DedupIndex.build(store, "ing_gate", base, "doc_id", "text")
    if (semantic) store.overwrite("ing_corpus", base) // the admitted corpus
    val landing = s"$workDir/ingest_landing"
    val ckpt = s"$workDir/ingest_ckpt"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    def files(t: String): Int = {
      val p = new org.apache.hadoop.fs.Path(store.path(t))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0 else Compact.dataFiles(fs, p).size
    }
    // per-batch Spark JOB count: at steady-state micro-batch sizes every
    // job is scheduling-floor-bound, so the gate's per-batch premium is
    // ≈ Δjobs × floor — the jobs column is what names (or refutes) that
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val jobListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(jobListener)
    // removed in the finally below — a second battery in the same session
    // must not double-count every job through a leaked listener
    try (0 until nBatches).foreach { i =>
      stream.filter(col("bat") === i).drop("bat")
        .coalesce(1).write.mode("append").parquet(landing)
      // JobEnd arrives on the async listener bus: drain it before each
      // snapshot so the landing write's jobs don't smear into this row
      Bus.drain(spark.sparkContext)
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      graft.streaming.Streams.retrievalIngestSink(
        spark.readStream.format("parquet").schema(schema).load(landing),
        store, "doc_id", ckpt,
        annIndex = Some("ing_ann"), bm25Index = Some("ing_bm"),
        maxIndexFiles = maxIndexFiles,
        dedupGate = if (gated) Some("ing_gate") else None,
        gatePairsTable = if (gated) Some("ing_gate_pairs") else None,
        corpusTable = if (semantic) Some("ing_corpus") else None,
        semanticGateThreshold = if (semantic) Some(0.99) else None,
        semanticGatePairsTable = if (semantic) Some("ing_sgate_pairs") else None)
        .awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      Bus.drain(spark.sparkContext) // the last batch's JobEnd tail
      val gateF =
        if (gated) s""","gate_bands_files":${files("ing_gate_bands")}"""
        else if (semantic) s""","corpus_files":${files("ing_corpus")}"""
        else ""
      println(f"""{"ingestbench":$i,"sec":$sec%.2f,"jobs":${jobs.get() - j0},"ann_files":${files("ing_ann_codes")},"bm_postings_files":${files("ing_bm_postings")}$gateF}""")
    } finally spark.sparkContext.removeSparkListener(jobListener)
    if (gated || semantic) {
      // the admitted-vs-seen gap IS the gate's work: ann/bm25 hold base +
      // survivors; the lexical gate index remembers every streamed doc,
      // the semantic corpus only the kept ones
      val nBase = base.count()
      val nStream = stream.select(col("doc_id")).distinct().count()
      val nAnn = AnnIndex.knownIds(store, "ing_ann", "doc_id").count()
      val nMem =
        if (gated) DedupIndex.knownIds(store, "ing_gate", "doc_id").count()
        else store.read("ing_corpus").count()
      val nPairs = store.read(
        if (gated) "ing_gate_pairs" else "ing_sgate_pairs").count()
      println(s"""{"ingestbench":"gate_totals","n_base":$nBase,"n_streamed":$nStream,"ann_ids":$nAnn,"memory_ids":$nMem,"dropped":${nBase + nStream - nAnn},"audit_pairs":$nPairs}""")
    }
  }

  /** Rebuild SAWTOOTH under streaming (r16 verdict queue #7): micro-batches
    * with PROGRESSIVE covariate drift — batch `bat` scales dims 0..31 by
    * (1 + 0.5·bat), concentrating the unit vector ever further into the
    * scaled half, which the codebooks trained on balanced data quantize
    * progressively worse. (Two measured dead ends documented here so the
    * next battery skips them: a uniform scalar SHIFT saturates toward the
    * diagonal after unit normalization and plateaus at 1.6× baseline;
    * ROTATION is distribution-invariant on these i.i.d. synthetic dims —
    * per-subspace codebooks are statistically identical, drift ≈ 0. Also:
    * with `sampleMod` the drift BASELINE is training-set error on the
    * sample — at 50 training rows the m=32 codebooks memorize it and even
    * in-distribution held-out data reads 1.7× "drift"; the battery trains
    * on the full 200-row base so the baseline generalizes.) Flows through
    * [[graft.streaming.Streams.retrievalIngestSink]], and after every
    * batch the documented clapper cadence runs —
    * [[graft.ext.AnnIndex.rebuildIfDrifted]] with the sink's own corpus
    * table as the rebuild source. The row stream shows the tooth:
    * drift_last climbs against the frozen baseline, the bell rings,
    * the rebuild resets the baseline mid-stream, and the NEXT batches
    * append against the fresh artifacts through the unchanged
    * guard/marker machinery until drift accumulates again. One JSON row
    * per batch (drift trend, rebuild flag, geometry).
    */
  private def ingestRebuild(spark: SparkSession, sfDir: String,
      workDir: String): Unit = {
    import graft.ext.AnnIndex
    import graft.tables.TableStore
    val emb = Td(spark, sfDir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val bkt = Similarity.sampleBucket(col("doc_id")) % 10
    val base = emb.filter(bkt === 0)
    val nBatches = 12
    // two drift REGIMES so the record shows the bell RE-ARMING: batches
    // 0-7 drift dims 0..31 (first tooth), batches 8+ flip to dims 32..63
    // — a fresh direction the first rebuild's corpus never saw, so the
    // re-armed bell must ring a second time
    val stream = emb.filter(bkt =!= 0)
      .withColumn("bat", pmod(Similarity.sampleBucket(col("doc_id") + 3),
        lit(nBatches)))
      .withColumn("embedding", transform(col("embedding"),
        (x, i) => when(
          when(col("bat") < 8, i < 32).otherwise(i >= 32),
          x * (lit(1.0f) + lit(0.5f) * col("bat").cast("float")))
          .otherwise(x)))
    val store = new TableStore(spark, s"$workDir/store")
    val landing = s"$workDir/landing"
    val ckpt = s"$workDir/ckpt"
    // auto m (= 32 at dim 64, the r16 measured default): the m=8 codebook
    // quantizes so coarsely (baseline mean_err 0.40 on unit vectors) that
    // NO direction change can double it — the bell can only ring on an
    // index whose baseline error leaves headroom, which a real index has.
    // No sampleMod: see the scaladoc's overfit-baseline note.
    AnnIndex.build(store, "rb_ann", base, "doc_id", "embedding",
      dim = 64, k = 16)
    store.overwrite("rb_corpus", base)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    (0 until nBatches).foreach { i =>
      stream.filter(col("bat") === i).drop("bat")
        .coalesce(1).write.mode("append").parquet(landing)
      val t0 = System.nanoTime()
      graft.streaming.Streams.retrievalIngestSink(
        spark.readStream.format("parquet").schema(schema).load(landing),
        store, "doc_id", ckpt,
        annIndex = Some("rb_ann"), corpusTable = Some("rb_corpus"))
        .awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      val rt0 = System.nanoTime()
      val dec = AnnIndex.rebuildIfDrifted(store, "rb_ann",
        store.read("rb_corpus"), "doc_id", "embedding", dim = 64,
        factor = 2.0)
      val rSec = (System.nanoTime() - rt0) / 1e9
      val h = AnnIndex.health(store, "rb_ann")
      println(f"""{"ingestrebuild":$i,"sec":$sec%.2f,"rebuilt":${dec.triggered},"rebuild_sec":$rSec%.2f,"drift_baseline":${h.driftBaseline}%.5f,"drift_last":${h.driftLast}%.5f,"nclusters":${h.nClusters},"n":${h.nCodes}}""")
    }
  }

  /** One-batch BACKFILL through the semantic ingest gate — the r15
    * verdict's open edge, measured: a fresh checkpoint's AvailableNow
    * drain delivers the whole backlog as a SINGLE batch, so the gate's
    * batch-internal confirm is where a quadratic would live. Four rows:
    * {small, big ≈ 10×} × {exact (cap ∞), LSH (cap 1k)}. The exact
    * column's batch-internal work scales ×100 across the size step by
    * construction (|B|² dots); the LSH column is the bound the sink now
    * enforces by default above `semanticGateExactCap` — its growth must
    * track the batch, not its square. ~20% of the backlog is planted
    * embedding dups (copies of two base vectors, ~10% each), so the gate
    * drops real work on every row: admitted counts print next to
    * wall-clock.
    */
  private def ingestBackfill(spark: SparkSession, expDir: String,
      workDir: String): Unit = {
    import graft.ext.AnnIndex
    import graft.tables.TableStore
    val emb = Td(spark, expDir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val b = Similarity.sampleBucket(col("doc_id")) % 10
    val base = emb.filter(b === 0)
    val planted = base.orderBy(col("doc_id")).limit(2).collect()
      .map(_.getSeq[Float](1).toSeq)
    val pick = pmod(Similarity.sampleBucket(col("doc_id") + 13), lit(10))
    val rest = emb.filter(b =!= 0).withColumn("embedding",
      when(pick === 0, typedLit(planted(0)))
        .when(pick === 1, typedLit(planted(1)))
        .otherwise(col("embedding")))
    val small = rest.filter(
      pmod(Similarity.sampleBucket(col("doc_id") + 3), lit(10)) === 0)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(FloatType))))
    val nBase = base.count()
    // the t07 rows price the τ<0.9 route (batch-trained clustered
    // pairing — r17): at τ=0.7 sign-LSH floors at r=4 (≈50% of pairs
    // admitted, measured no better than exact in r16 §3) and EXACT work
    // is τ-independent (the big_exact row IS the quadratic bar at any
    // τ), so the over-cap low-bar rows run the clustered route, small +
    // big for the growth exponent. (The first cut routed these through
    // the stored-quantizer self-ADC shortlist and measured it SLOWER
    // than exact — 567 s vs 385 s at ×10 — because the backfill runs
    // |B|²·nprobe/nlist ADC rows against the base's stale 8-cluster
    // geometry; batch-fresh centroids scale with the batch instead.)
    // the chunked row prices the OVERSIZED-backfill recipe (bound the
    // batch with maxFilesPerTrigger): same backlog as big_clu_t07 drained
    // in 4 chunks — per-chunk pairing is (|B|/c)^1.5, so the chunked
    // total must land at or under the one-batch row (Σ c·(|B|/c)^1.5 =
    // |B|^1.5/√c) plus per-batch fixed costs; admitted counts may differ
    // by greedy-representative swaps only (the StreamsSpec-pinned
    // composition semantics)
    for ((tag, df, cap, tau, chunks) <- Seq(
        ("small_exact", small, Int.MaxValue, 0.99, 1),
        ("small_lsh", small, 1000, 0.99, 1),
        ("big_exact", rest, Int.MaxValue, 0.99, 1),
        ("big_lsh", rest, 1000, 0.99, 1),
        ("small_exact_t07", small, Int.MaxValue, 0.7, 1),
        ("small_clu_t07", small, 1000, 0.7, 1),
        ("big_clu_t07", rest, 1000, 0.7, 1),
        ("big_clu_t07_chunked", rest, 1000, 0.7, 4))) {
      val store = new TableStore(spark, s"$workDir/bf_$tag")
      AnnIndex.build(store, "bf_ann", base, "doc_id", "embedding",
        dim = 64, m = 8, k = 16, sampleMod = Some(4))
      store.overwrite("bf_corpus", base)
      val landing = s"$workDir/bf_${tag}_landing"
      if (chunks == 1) df.coalesce(1).write.mode("overwrite").parquet(landing)
      else {
        // one file per chunk, written in order (file-source batches
        // follow modification time, so chunk = file here)
        val bat = pmod(Similarity.sampleBucket(col("doc_id") + 29),
          lit(chunks))
        (0 until chunks).foreach { c =>
          df.filter(bat === c).coalesce(1)
            .write.mode(if (c == 0) "overwrite" else "append")
            .parquet(landing)
        }
      }
      val n = df.count()
      val reader = spark.readStream.format("parquet").schema(schema)
      val src = (if (chunks > 1) reader.option("maxFilesPerTrigger", "1")
                 else reader).load(landing)
      val t0 = System.nanoTime()
      graft.streaming.Streams.retrievalIngestSink(
        src, store, "doc_id", s"$workDir/bf_${tag}_ckpt",
        annIndex = Some("bf_ann"),
        corpusTable = Some("bf_corpus"),
        semanticGateThreshold = Some(tau),
        semanticGatePairsTable = Some("bf_pairs"),
        semanticGateExactCap = cap)
        .awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      val admitted = store.read("bf_corpus").count() - nBase
      val pairs =
        if (store.exists("bf_pairs")) store.read("bf_pairs").count() else 0L
      println(f"""{"backfill":"$tag","n_docs":$n,"chunks":$chunks,"sec":$sec%.2f,"sec_per_chunk":${sec / chunks}%.2f,"admitted":$admitted,"audit_pairs":$pairs}""")
    }
  }

  /** Probe latency vs cluster skew — the measurement behind the
    * [[graft.ext.AnnIndex.Health]] `maxClusterFrac` alert threshold
    * (r15 verdict item 6: health reports the fraction but documents no
    * page-worthy level). Plants skew by replacing a fraction of the
    * corpus with copies of ONE vector (the coarse trainer collapses them
    * into a single hot cluster), builds at the auto geometry, then times
    * hot-family searches whose probes must scan that cluster. Per-probe
    * scanned codes ≈ maxClusterFrac·n instead of n/nlist, so the cost
    * multiple over balanced is maxClusterFrac·nlist — the printed rows
    * put numbers on that line so the scaladoc can cite a threshold
    * instead of asserting one.
    */
  private def healthSkew(spark: SparkSession, expDir: String,
      workDir: String): Unit = {
    import graft.ext.AnnIndex
    import graft.tables.TableStore
    val emb = Td(spark, expDir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val hot = emb.orderBy(col("doc_id")).limit(1).collect()(0)
      .getSeq[Float](1).toSeq
    for (fPct <- Seq(0, 10, 40, 80)) {
      val isHot = pmod(Similarity.sampleBucket(col("doc_id") + 5), lit(100)) < fPct
      val skewed = emb.withColumn("embedding",
        when(isHot, typedLit(hot)).otherwise(col("embedding")))
      val store = new TableStore(spark, s"$workDir/skew_$fPct")
      AnnIndex.build(store, "sk_ann", skewed, "doc_id", "embedding",
        dim = 64, m = 8, k = 16, sampleMod = Some(4))
      val h = AnnIndex.health(store, "sk_ann")
      // worst-case queries: the hot family itself (every probe list
      // includes the hot cluster); f=0 keeps the same query COUNT so the
      // row is the balanced baseline
      val qs = (if (fPct == 0) skewed else skewed.filter(isHot)).limit(200)
      val best = Harness.time(2)(
        AnnIndex.search(store, "sk_ann", qs, "doc_id", "embedding", k = 10)
          .count()).get.sec
      println(f"""{"healthskew":$fPct,"n":${h.nCodes},"nlist":${h.nClusters},"max_cluster_frac":${h.maxClusterFrac}%.3f,"cost_multiple":${h.maxClusterFrac * h.nClusters}%.1f,"search_sec":$best%.2f}""")
    }
  }

  /** The budgeted search's RECALL price ([[graft.ext.AnnIndex
    * .searchBudgeted]], r16 verdict queue #2): on the healthskew indexes
    * (0/40/80% one-point floods), sweep `codesBudget` and compare
    * recall@10 / true-NN MRR against FIXED-nprobe search at (as close as
    * the cluster histogram allows) EQUAL mean scanned codes — the
    * question the latency-SLO dial shipped without: does nearest-first
    * degradation actually beat uniform probing under skew? Per row both
    * strategies report their MEASURED mean scanned codes (sum of probed
    * cluster sizes, replayed from the same ranked-prefix rule the search
    * uses), so the comparison is price-per-recall, not dial-vs-dial.
    * Queries are 200 COLD docs (smallest ids the flood left alone): hot-
    * family queries are degenerate — their top-1 probe IS the hot
    * cluster, the top-1 guarantee eats any budget, and their "neighbors"
    * are just flood copies — while a cold query pays the hot cluster
    * only when fixed-nprobe ranks it inside the probe list, which is
    * exactly the waste the budget rule refuses. Both arms run the
    * PRODUCTION two-stage shape (kShort=100 shortlist → exact refine,
    * the r15-measured default) so probe COVERAGE is the axis under test
    * — unrefined ADC rank error (recall ~0.13 flat across budgets at
    * this m=8 geometry, measured in this battery's first cut) would
    * otherwise drown the coverage signal entirely.
    */
  private def budgetRecall(spark: SparkSession, expDir: String,
      workDir: String): Unit = {
    import graft.ext.AnnIndex
    import graft.tables.TableStore
    val emb = Td(spark, expDir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val hot = emb.orderBy(col("doc_id")).limit(1).collect()(0)
      .getSeq[Float](1).toSeq
    for (fPct <- Seq(0, 40, 80)) {
      val isHot = pmod(Similarity.sampleBucket(col("doc_id") + 5), lit(100)) < fPct
      val skewed = graft.tables.Scratch.stage(
        emb.withColumn("embedding",
          when(isHot, typedLit(hot)).otherwise(col("embedding"))),
        s"br_skewed_$fPct")
      val store = new TableStore(spark, s"$workDir/br_$fPct")
      AnnIndex.build(store, "br_ann", skewed, "doc_id", "embedding",
        dim = 64, m = 8, k = 16, sampleMod = Some(4))
      val h = AnnIndex.health(store, "br_ann")
      val qs = graft.tables.Scratch.stage(
        skewed.filter(!isHot).orderBy(col("doc_id")).limit(200),
        s"br_queries_$fPct")
      val exact = Similarity.knnBrute(qs, skewed, "doc_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"), col("rnk"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val top10 = exact.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      val top1 = exact.filter(_._3 == 1).map(r => r._1 -> r._2).toMap
      def score(approx: Array[(Long, Long, Int)]): (Double, Double) = {
        val at10 = approx.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
        val rank = approx.map(r => (r._1, r._2) -> r._3).toMap
        val ks = top10.keys.toSeq
        (ks.map(q => (top10(q) & at10.getOrElse(q, Set.empty)).size / 10.0).sum / ks.size,
          ks.map(q => rank.get((q, top1(q))).map(1.0 / _).getOrElse(0.0)).sum / ks.size)
      }
      // the per-query (ccos DESC, centroid_id) centroid rank with cluster
      // sizes — |Q| × nlist rows, the frame both selection rules replay
      val csz = store.read("br_ann_csizes")
        .select(col("cluster"), col("csize")).collect()
        .map(r => r.getAs[Number](0).longValue() -> r.getAs[Number](1).longValue())
        .toMap
      val cents = store.read("br_ann_centroids")
        .select(col("centroid_id"), col("vec").as("embedding"))
      val qn = Similarity.withNorm(
        qs.select(col("doc_id").as("qid"), col("embedding").as("qv")), "qv", "qn")
      val cn = Similarity.withNorm(
        cents.select(col("centroid_id"), col("embedding").as("cv")), "cv", "cn")
      val rankedByQ = qn.crossJoin(broadcast(cn))
        .select(col("qid"), col("centroid_id"),
          (Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("ccos"))
        .collect().map(r => (r.getLong(0),
          r.getAs[Number](1).longValue(), r.getDouble(2)))
        .groupBy(_._1).map { case (q, rs) =>
          q -> rs.sortBy(t => (-t._3, t._2)).map(t => csz.getOrElse(t._2, 0L)).toSeq
        }
      def meanScannedBudget(b: Long): Double = rankedByQ.values.map { sizes =>
        var cum = 0L
        sizes.zipWithIndex.takeWhile { case (s, i) =>
          cum += s; i == 0 || cum <= b
        }.map(_._1).sum.toDouble
      }.sum / rankedByQ.size
      def meanScannedNprobe(np: Int): Double =
        rankedByQ.values.map(_.take(np).sum.toDouble).sum / rankedByQ.size
      val nlist = h.nClusters
      for (budget <- Seq(250L, 500L, 1000L, 2000L, 4000L)) {
        val sb = meanScannedBudget(budget)
        // the fixed-nprobe column at (nearest achievable) equal price
        val npEq = (1 to nlist).minBy(np => math.abs(meanScannedNprobe(np) - sb))
        val sn = meanScannedNprobe(npEq)
        def run(fn: => org.apache.spark.sql.DataFrame): (Array[(Long, Long, Int)], Double) = {
          val t0 = System.nanoTime()
          val rows = fn.select(col("query_id"), col("neighbor_id"), col("rnk"))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
          (rows, (System.nanoTime() - t0) / 1e9)
        }
        val (ab, tb) = run(Similarity.refineExact(
          AnnIndex.searchBudgeted(store, "br_ann", qs, "doc_id", "embedding",
            k = 100, codesBudget = budget),
          qs, skewed, "doc_id", "embedding", k = 10))
        val (rb, mb) = score(ab)
        val (an, tn) = run(AnnIndex.searchRefined(store, "br_ann", qs,
          skewed, "doc_id", "embedding", k = 10, kShort = 100, nprobe = npEq))
        val (rn, mn) = score(an)
        println(f"""{"budgetrecall":$fPct,"n":${h.nCodes},"nlist":$nlist,"max_cluster_frac":${h.maxClusterFrac}%.3f,"budget":$budget,"scanned_budget":$sb%.0f,"recall_budget":$rb%.3f,"mrr_budget":$mb%.3f,"sec_budget":$tb%.2f,"nprobe_eq":$npEq,"scanned_nprobe":$sn%.0f,"recall_nprobe":$rn%.3f,"mrr_nprobe":$mn%.3f,"sec_nprobe":$tn%.2f}""")
      }
    }
  }

  /** [[healthSkew]]'s BM25 twin: search latency vs a stopword-scale term —
    * the measurement behind `Bm25.Health.maxTermFrac`'s alert level. A
    * token is planted into a fraction of the ×10 documents corpus; the
    * query asks for that term plus a normal one, so the postings read
    * scales with the hot term's df (frac·n rows) while the rest of the
    * pipeline is constant.
    */
  private def bm25Skew(spark: SparkSession, expDir: String,
      workDir: String): Unit = {
    import graft.ext.Bm25
    import graft.tables.TableStore
    val docs = Td(spark, expDir, "documents").select(col("doc_id"), col("text"))
    // ONE timing idiom for every row (plain / clapper / retire legs) —
    // the lexskew rule: a warmup/rep change applies to all rows or the
    // comparison silently skews. termDfCap = Long.MaxValue is the
    // never-prune plan (plain), 0 resolves the stored policy.
    def timedSearch(store: TableStore, cap: Long): (Double, Long) = {
      val t = Harness.time(2)(Bm25.searchIndex(store, "bm", "doc_id",
        Seq("zzcommon", "spark"), topK = 10, termDfCap = cap).count()).get
      (t.sec, t.value)
    }
    for (fPct <- Seq(0, 10, 40, 80)) {
      val isHot = pmod(Similarity.sampleBucket(col("doc_id") + 11), lit(100)) < fPct
      val planted = docs.withColumn("text",
        when(isHot, concat(col("text"), lit(" zzcommon"))).otherwise(col("text")))
      val store = new TableStore(spark, s"$workDir/bmskew_$fPct")
      Bm25.buildIndex(store, "bm", planted, "doc_id", "text")
      val h = Bm25.health(store, "bm")
      val (plainSec, _) = timedSearch(store, Long.MaxValue)
      println(f"""{"bm25skew":$fPct,"mode":"plain","n_docs":${h.nDocs},"max_term_frac":${h.maxTermFrac}%.3f,"search_sec":$plainSec%.2f}""")
      // "clapper": the r19 policy row — capIfUnhealthy at a half-corpus
      // scan budget (a term in half the docs has rational idf ≤ 1/3:
      // marginal contribution, maximal scan), then the SAME search with
      // termDfCap = 0 resolving the persisted stop list. This corpus'
      // NATURAL stopwords (df ≈ 0.79 · n) ring the bell at every flood
      // level — which is the 100 TB story: the clapper's routine value
      // is pruning organic stopword scans, not just planted floods; the
      // planted term joins the stop list once its df crosses the budget
      val dec = Bm25.capIfUnhealthy(store, "bm",
        hotTermBudget = math.max(1L, h.nDocs / 2))
      val (polSec, polRows) = timedSearch(store, 0L)
      println(f"""{"bm25skew":$fPct,"mode":"clapper","rang":${dec.triggered},"hot_df":${dec.hotTermRows},"n_stopterms":${dec.nStopTerms},"search_sec":$polSec%.2f,"rows":$polRows}""")
    }
    // "retire": the un-ring's measured leg, at a budget only a PLANTED
    // flood crosses (1.1 × the natural hot df — organic stopwords stay
    // under it, so the stop list is exactly the flood term): a 90% plant
    // rings, the policy prunes that term's near-full postings read, the
    // takedown removes the planted docs, and the same poll (now with
    // retireFraction) finds the corpus clean, clears the policy, and the
    // search returns to the unpruned plan
    {
      val natHot = Bm25.health(
        new TableStore(spark, s"$workDir/bmskew_0"), "bm").hotTermRows
      val isHot = pmod(Similarity.sampleBucket(col("doc_id") + 11), lit(100)) < 90
      val planted = docs.withColumn("text",
        when(isHot, concat(col("text"), lit(" zzcommon"))).otherwise(col("text")))
      val store = new TableStore(spark, s"$workDir/bmskew_retire")
      Bm25.buildIndex(store, "bm", planted, "doc_id", "text")
      val budget = math.max(1L, (1.1 * natHot).toLong)
      val ring = Bm25.capIfUnhealthy(store, "bm", hotTermBudget = budget)
      val (capSec, _) = timedSearch(store, 0L)
      println(f"""{"bm25skew":90,"mode":"clapper","rang":${ring.triggered},"hot_df":${ring.hotTermRows},"budget":$budget,"n_stopterms":${ring.nStopTerms},"search_sec":$capSec%.2f}""")
      Bm25.deleteIds(store, "bm",
        planted.filter(isHot).select(col("doc_id")), "doc_id")
      val dec = Bm25.capIfUnhealthy(store, "bm", hotTermBudget = budget,
        retireFraction = 0.25)
      val (retSec, _) = timedSearch(store, 0L)
      println(f"""{"bm25skew":90,"mode":"retire","retired":${dec.retired},"hot_df":${dec.hotTermRows},"search_sec":$retSec%.2f,"stored_cap":${Bm25.storedDfCap(store, "bm").getOrElse(0L)}}""")
    }
  }

  /** [[healthSkew]]'s lexical twin: incremental-probe latency vs a
    * verbatim-flood band bucket — the measurement behind
    * `DedupIndex.Health.maxBucketFrac`'s alert level and the
    * `bucketCap` dial. A fraction of the indexed history is verbatim
    * copies of one document; a fresh 200-doc batch (10% of it more
    * copies) probes the index uncapped vs capped — the uncapped probe's
    * candidate fan-out is Σ over probing docs of the hot-bucket size,
    * the capped one star-pairs.
    */
  private def lexSkew(spark: SparkSession, expDir: String,
      workDir: String): Unit = {
    import graft.ext.DedupIndex
    import graft.tables.TableStore
    val docs = Td(spark, expDir, "documents").select(col("doc_id"), col("text"))
    val hotText = docs.orderBy(col("doc_id")).limit(1).collect()(0).getString(1)
    val b = Similarity.sampleBucket(col("doc_id")) % 10
    val baseAll = docs.filter(b =!= 0)
    val batch0 = docs.filter(b === 0).limit(200)
    for (fPct <- Seq(0, 10, 40)) {
      val isHot = pmod(Similarity.sampleBucket(col("doc_id") + 11), lit(100)) < fPct
      val base = baseAll.withColumn("text",
        when(isHot, lit(hotText)).otherwise(col("text")))
      val batch = batch0.withColumn("text",
        when(pmod(Similarity.sampleBucket(col("doc_id") + 13), lit(10)) === 0,
          lit(hotText)).otherwise(col("text")))
      // the uncapped leg stops at 10%: at a 40% flood (18k-doc bucket)
      // the verification join degenerates to a SINGLE-KEY shuffle task
      // (the flood text's shingles each map to 18k docs — no AQE skew
      // split can divide one key) and ran 47 min single-threaded before
      // being killed; that unboundedness is exactly what bucketCap is for.
      // "clapper" is the r18 policy row: capIfUnhealthy at defaults
      // derives/persists the cap (or declines on a clean index), then
      // the probe runs bucketCap = 0 — the composition the sink's
      // GateCapPolicy executes in its default (no static pre-ring
      // bound) configuration; a static gateBucketCap would min-compose
      // on top
      val modes = if (fPct >= 40) Seq(("capped", 64), ("clapper", 0))
        else Seq(("capped", 64), ("uncapped", Int.MaxValue), ("clapper", 0))
      // ONE timing idiom for every row at this flood level (modes + the
      // retire leg below) — a future warmup/rep change applies to all
      // rows or the comparison silently skews
      def timedProbe(store: TableStore, cap: Int): (Double, Long) = {
        val t = Harness.time(2)(DedupIndex.probeIncrement(store, "dx", batch,
          "doc_id", "text", threshold = 0.8, bucketCap = cap)._1.count()).get
        (t.sec, t.value)
      }
      for ((mode, cap) <- modes) {
        val store = new TableStore(spark, s"$workDir/lexskew_${fPct}_$mode")
        DedupIndex.build(store, "dx", base, "doc_id", "text")
        val h = DedupIndex.health(store, "dx")
        val dec = if (mode == "clapper")
          Some(DedupIndex.capIfUnhealthy(store, "dx")) else None
        val (best, pairs) = timedProbe(store, cap)
        val capInfo = dec.map(d =>
          s""","rang":${d.triggered},"hot_rows":${d.hotBucketRows},"derived_cap":${d.cap.getOrElse(0)}""").getOrElse("")
        println(f"""{"lexskew":$fPct,"mode":"$mode","max_bucket_frac":${h.maxBucketFrac}%.3f,"probe_sec":$best%.2f,"pairs":$pairs$capInfo}""")
      }
      // "retire" (10% row only): the un-ring's measured leg. The flood is
      // taken down upstream, the SAME poll (now with retireFraction) finds
      // the hottest bucket at organic levels with a policy in force and
      // clears it, and the bucketCap = 0 probe goes back to the uncapped
      // short-circuit plan — compare probe_sec against the 0%-flood
      // clapper row (the capped-path stats aggregate is the difference)
      if (fPct == 10) {
        val store = new TableStore(spark, s"$workDir/lexskew_${fPct}_clapper")
        DedupIndex.deleteIds(store, "dx",
          base.filter(isHot).select(col("doc_id")), "doc_id")
        val dec = DedupIndex.capIfUnhealthy(store, "dx", retireFraction = 0.25)
        val (best, pairs) = timedProbe(store, 0)
        val h2 = DedupIndex.health(store, "dx")
        println(f"""{"lexskew":$fPct,"mode":"retire","max_bucket_frac":${h2.maxBucketFrac}%.3f,"probe_sec":$best%.2f,"pairs":$pairs,"retired":${dec.retired},"stored_cap":${DedupIndex.storedBucketCap(store, "dx").getOrElse(0)}}""")
      }
    }
  }

  /** The r19 sketch-poll measurement: routine lexical clapper ask cost vs
    * corpus size. Run at two factors (e.g. 2 and 10) and compare rows —
    * `sketch_poll_sec` (the CMS-bounded routine ask, after a commit
    * invalidated the health cache: the state every live-stream poll
    * faces) should stay flat while `exact_poll_sec` (the sketch dropped
    * before each rep, so the ask pays the corpus aggregate + re-baseline
    * — the pre-r19 cost plus the rebuild) grows with the corpus. The
    * budget is set far above any bucket so both paths DECLINE — the
    * routine no-flood state the sketch exists for; ring/retire behavior
    * at flood points is the lexskew battery's job.
    */
  private def lexPoll(spark: SparkSession, expDir: String,
      workDir: String): Unit = {
    import graft.ext.DedupIndex
    import graft.tables.TableStore
    val docs = Td(spark, expDir, "documents").select(col("doc_id"), col("text"))
    val b = Similarity.sampleBucket(col("doc_id")) % 100
    val store = new TableStore(spark, s"$workDir/lexpoll")
    DedupIndex.build(store, "lp", docs.filter(b =!= 0), "doc_id", "text")
    val budget = 1L << 40
    DedupIndex.capIfUnhealthy(store, "lp", hotBucketBudget = budget) // lazy build
    DedupIndex.dedupIncrement(store, "lp",
      docs.filter(b === 0).limit(200), "doc_id", "text").collect()
    // `prep` runs untimed before each of the two timed runs
    def timed(prep: => Unit)(f: => Unit): Double =
      Seq.fill(2) { prep; Harness.time(1)(f).get.sec }.min
    val sketchSec = timed(()) {
      DedupIndex.capIfUnhealthy(store, "lp", hotBucketBudget = budget) }
    // the exact control drops the HEALTH CACHE too: rep 1's exact pass
    // memoizes it, and without the drop rep 2 (which min-of-two always
    // reports) would read one cached row instead of paying the corpus
    // aggregate the column claims to measure
    val exactSec = timed({
      for (t <- Seq("lp_hh_sketch", "lp_health_cache"))
        if (store.exists(t)) store.drop(t) }) {
      DedupIndex.capIfUnhealthy(store, "lp", hotBucketBudget = budget) }
    val h = DedupIndex.health(store, "lp")
    println(f"""{"lexpoll":1,"n_docs":${h.nDocs},"n_band_rows":${h.nBandRows},"sketch_poll_sec":$sketchSec%.2f,"exact_poll_sec":$exactSec%.2f}""")
    // the BM25 twin rows — same protocol over the hot-term sketch
    import graft.ext.Bm25
    Bm25.buildIndex(store, "bp", docs.filter(b =!= 0), "doc_id", "text")
    Bm25.capIfUnhealthy(store, "bp", hotTermBudget = budget) // lazy build
    Bm25.append(store, "bp", docs.filter(b === 0).limit(200),
      "doc_id", "text")
    val bSketchSec = timed(()) {
      Bm25.capIfUnhealthy(store, "bp", hotTermBudget = budget) }
    val bExactSec = timed({
      for (t <- Seq("bp_df_sketch", "bp_health_cache"))
        if (store.exists(t)) store.drop(t) }) {
      Bm25.capIfUnhealthy(store, "bp", hotTermBudget = budget) }
    val bh = Bm25.health(store, "bp")
    println(f"""{"bm25poll":1,"n_docs":${bh.nDocs},"n_postings":${bh.nPostings},"sketch_poll_sec":$bSketchSec%.2f,"exact_poll_sec":$bExactSec%.2f}""")
    // the ANN twin rows — no sketch needed: csizes is O(nlist) rows, so
    // append folds the increment's EXACT cluster counts; the poll column
    // is health() on the fold-kept cache, the exact column drops the
    // cache per rep (the recount every append used to force)
    import graft.ext.AnnIndex
    val emb = Td(spark, expDir, "embeddings")
    val ebk = Similarity.sampleBucket(col("vec_id")) % 100
    AnnIndex.build(store, "ap", emb.filter(ebk =!= 0), "vec_id", "embedding",
      dim = 64)
    AnnIndex.append(store, "ap", emb.filter(ebk === 0), "vec_id", "embedding")
    val aPollSec = timed(()) { AnnIndex.health(store, "ap") }
    val aExactSec = timed({
      if (store.exists("ap_csizes")) store.drop("ap_csizes") }) {
      AnnIndex.health(store, "ap") }
    val ah = AnnIndex.health(store, "ap")
    println(f"""{"annpoll":1,"n_codes":${ah.nCodes},"n_clusters":${ah.nClusters},"poll_sec":$aPollSec%.2f,"recount_sec":$aExactSec%.2f}""")
    // WITNESS rows (the close of the honest-cost note): a STANDING
    // policy with retireFraction > 0 — the state where pre-witness
    // polls paid the corpus aggregate every ask because the upper
    // bound can never disprove a retire. `witness_poll_sec` consults
    // the witness's exact lower bound (flat); `standing_exact_sec`
    // drops the witness per rep (the pre-witness cost, health cache
    // dropped too per the honest-control rule above). Lexical: a
    // 300-copy planted flood makes the hot bucket dominate the CMS
    // collision mass, so the rearm bar is sketch-decidable.
    import spark.implicits._
    val floodDf = (0 until 300).map(i => (10000000L + i,
      "the same boilerplate flood line every single time"))
      .toDF("doc_id", "text")
    DedupIndex.build(store, "lw",
      docs.filter(b =!= 0).unionByName(floodDf), "doc_id", "text")
    // retireFraction at the ring ask too: the witness is kept only for
    // configs that opted into automatic retire (rf = 0 keeps none)
    val lwRing = DedupIndex.capIfUnhealthy(store, "lw", hotBucketBudget = 256,
      retireFraction = 0.25)
    DedupIndex.dedupIncrement(store, "lw", docs.filter(b === 0).limit(20),
      "doc_id", "text").collect() // folds sketch + witness, stales the cache
    val wSec = timed(()) {
      DedupIndex.capIfUnhealthy(store, "lw", hotBucketBudget = 256,
        retireFraction = 0.25) }
    val wExactSec = timed({
      for (t <- Seq("lw_hh_witness", "lw_health_cache"))
        if (store.exists(t)) store.drop(t) }) {
      DedupIndex.capIfUnhealthy(store, "lw", hotBucketBudget = 256,
        retireFraction = 0.25) }
    val wh = DedupIndex.health(store, "lw")
    println(f"""{"lexwit":1,"n_docs":${wh.nDocs},"n_band_rows":${wh.nBandRows},"rang":${lwRing.triggered},"hot_rows":${lwRing.hotBucketRows},"witness_poll_sec":$wSec%.2f,"standing_exact_sec":$wExactSec%.2f}""")
    // BM25 twin, on the ORGANIC regime the note names: natural text's
    // own hottest term rings a 0.8 × df budget, and the policy then
    // never retires — pre-witness, every poll re-paid the postings
    // aggregate forever
    val bBudget = math.max(1L, (bh.hotTermRows * 0.8).toLong)
    val bwRing = Bm25.capIfUnhealthy(store, "bp", hotTermBudget = bBudget,
      retireFraction = 0.25)
    // fresh synthetic ids — everything in `docs` may already be indexed
    Bm25.append(store, "bp",
      (0 until 20).map(i => (20000000L + i,
        s"a new organic document number $i with the usual filler words"))
        .toDF("doc_id", "text"),
      "doc_id", "text")
    val bwSec = timed(()) {
      Bm25.capIfUnhealthy(store, "bp", hotTermBudget = bBudget,
        retireFraction = 0.25) }
    val bwExactSec = timed({
      for (t <- Seq("bp_df_witness", "bp_health_cache"))
        if (store.exists(t)) store.drop(t) }) {
      Bm25.capIfUnhealthy(store, "bp", hotTermBudget = bBudget,
        retireFraction = 0.25) }
    println(f"""{"bm25wit":1,"n_docs":${bh.nDocs},"n_postings":${bh.nPostings},"rang":${bwRing.triggered},"hot_df":${bwRing.hotTermRows},"witness_poll_sec":$bwSec%.2f,"standing_exact_sec":$bwExactSec%.2f}""")
  }

  /** 3-frame 32×24 AVI for the videodecode battery — BI_RGB DIB (byte
    * arithmetic) or MJPEG (real ImageIO JPEG per frame). Rasters are
    * splitmix-mixed PSEUDORANDOM bytes keyed on (seed, x, y, f): gradient
    * fixtures concentrate dhash bits near all-ones (most comparisons
    * increase), which floods the pairing legs' pigeonhole buckets into a
    * quadratic blow-up no real diverse corpus has — uniform hashes keep
    * the measured pairing cost representative. `seed` (not the media id)
    * keys the content, so a twin replays another video's frames exactly.
    */
  private def stressAvi(seed: Long, mjpeg: Boolean): Array[Byte] = {
    val (w, h) = (32, 24)
    def pix(x: Int, y: Int, f: Int): Int = {
      // full splitmix64 finalizer: inputs differing by an additive
      // constant (two seeds at the same pixel) must decorrelate, or the
      // dhash comparison bits repeat across videos and the pairing legs
      // drown in structural collisions (measured: a single
      // multiply-xorshift left ~50k spurious pairs at 11k videos)
      var z = seed * 0x9E3779B97F4A7C15L + x * 0xBF58476D1CE4E5B9L +
        y * 0x94D049BB133111EBL + f * 0x2545F4914F6CDD1DL
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      (z & 0xff).toInt
    }
    def frame(f: Int): Array[Byte] =
      if (mjpeg) {
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        for (y <- 0 until h; x <- 0 until w) {
          val g = pix(x, y, f)
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", bos)
        bos.toByteArray
      } else {
        val rowBytes = w * 3 // 96, already 4-aligned
        val out = new Array[Byte](rowBytes * h)
        var sy = 0
        while (sy < h) {
          val y = h - 1 - sy // bottom-up storage
          var x = 0
          while (x < w) {
            val g = pix(x, y, f).toByte
            val o = sy * rowBytes + x * 3
            out(o) = g; out(o + 1) = g; out(o + 2) = g
            x += 1
          }
          sy += 1
        }
        out
      }
    graft.ext.AviFixture.container(w, h, if (mjpeg) "MJPG" else "DIB ",
      (0 until 3).map(frame))
  }

  /** Video frame-decode throughput + pairing cost — the measurement
    * behind the 100 TB decode story the Multimodal scaladoc argues
    * (CPU-bound, embarrassingly parallel, blobs never shuffle). Fixture
    * AVIs are staged to parquet FIRST, so the timed legs pay decode
    * only, never fixture encode. Every 10th video gets a planted twin
    * (same seed → bit-identical frames), so the pairing legs find real
    * structure. Pairing runs with the scale guards ON (floodCap 8,
    * bucketCap 4096) — the configuration a 100 TB run would use.
    */
  private def videoDecode(spark: SparkSession, sfDir: String,
      expDir: String, factor: Int, workDir: String): Unit = {
    import spark.implicits._
    import graft.ext.Multimodal
    def stage(dir: String, scale: Int, mjpeg: Boolean): (String, Long) = {
      val kind = if (mjpeg) "mjpg" else "dib"
      val path = s"$workDir/media_${kind}_x$scale"
      val ids = Td(spark, dir, "documents").select(col("doc_id")).as[Long]
      val media = ids.flatMap { id =>
        val base = Multimodal.MediaRow(id, "video", stressAvi(id, mjpeg))
        if (id % 10 == 0)
          Seq(base, Multimodal.MediaRow(id + (1L << 40), "video",
            stressAvi(id, mjpeg))) // twin: same seed, distinct media_id
        else Seq(base)
      }
      media.toDF().write.mode("overwrite").parquet(path)
      (path, spark.read.parquet(path).count())
    }
    for (mjpeg <- Seq(false, true); (scale, dir) <- Seq(1 -> sfDir, factor -> expDir)) {
      val (path, nDocs) = stage(dir, scale, mjpeg)
      val media = spark.read.parquet(path).as[Multimodal.MediaRow]
      // one untimed pass first: the x1 leg must not carry the session's
      // JIT/codegen warmup while the x2 leg reads warm
      Multimodal.decodeVideoFrames(media, nFrames = 3).toDF()
        .write.format("noop").mode("overwrite").save()
      val sec = Harness.time(2) {
        Multimodal.decodeVideoFrames(media, nFrames = 3).toDF()
          .write.format("noop").mode("overwrite").save()
      }.get.sec
      val codec = if (mjpeg) "mjpg" else "dib"
      println(f"""{"videodecode":1,"codec":"$codec","scale":$scale,"n_videos":$nDocs,"n_frames":${nDocs * 3},"sec":$sec%.2f,"videos_per_sec":${nDocs / sec}%.0f,"frames_per_sec":${nDocs * 3 / sec}%.0f}""")
    }
    // pairing legs over the big DIB corpus: decode ONCE to parquet (the
    // pipeline shape — hashes persist, blobs never reshuffle), then time
    // positional and unordered pairing over the frame-hash rows
    val media = spark.read.parquet(s"$workDir/media_dib_x$factor")
      .as[Multimodal.MediaRow]
    val framesPath = s"$workDir/frames_x$factor"
    Multimodal.decodeVideoFrames(media, nFrames = 3).toDF()
      .write.mode("overwrite").parquet(framesPath)
    val fr = spark.read.parquet(framesPath).as[Multimodal.VideoFrame]
    val nVideos = fr.select(col("media_id")).distinct().count()
    // count() IS the timed action (full pairing executes either way), so
    // the reported pair counts ride the timed runs instead of paying each
    // expensive pairing job a third time
    val pos = Harness.time(2)(Multimodal.videoNearDupPairs(fr, maxHamming = 3,
      minShared = 2, floodCap = 8).count()).get
    val un = Harness.time(2)(Multimodal.videoNearDupPairsUnordered(fr,
      maxHamming = 3, minContainment = 0.9, floodCap = 8, bucketCap = 4096)
      .count()).get
    println(f"""{"videopair":1,"scale":$factor,"n_videos":$nVideos,"positional_sec":${pos.sec}%.2f,"unordered_sec":${un.sec}%.2f,"positional_pairs":${pos.value},"unordered_pairs":${un.value}""")
  }

  /** The parsed command line: `<sfDir> <workDir> [factor] [reps]`, then
    * flags — at most one mode name, `only=q1,q2` (restricts the stress
    * battery's queries) and `noinc`. Anything else, and any unknown `only=`
    * query, is rejected HERE, before the factor× expansion pays for a
    * typo. */
  private final case class Args(sfDir: String, workDir: String, factor: Int,
      reps: Int, flags: Seq[String]) {
    val expDir = s"$workDir/x$factor"
    val only: Option[Set[String]] = flags.find(_.startsWith("only="))
      .map(_.stripPrefix("only=").split(',').toSet)
    val mode: Option[String] = flags.find(modes.contains)
    private val bad = flags.filterNot(f => modes.contains(f) || f == "noinc" ||
      f.startsWith("only=") || RecallBench.subModes(f))
    require(bad.isEmpty, s"unknown ScaleStress arguments: ${bad.mkString(",")}; " +
      s"modes: ${modes.keys.toSeq.sorted.mkString(",")}; also only=, noinc and " +
      s"recall's ${RecallBench.subModes.toSeq.sorted.mkString(",")}")
    require(flags.count(modes.contains) <= 1,
      s"one mode per run, got ${flags.filter(modes.contains).mkString(",")}")
    private val known = stressQueries(f => 8 * f).map(_._1).toSet
    only.foreach { o =>
      val unknown = o -- known
      require(unknown.isEmpty,
        s"unknown only= queries: ${unknown.mkString(",")}; known: ${known.mkString(",")}")
    }
  }

  /** A battery; `expanded` ones read the factor× corpus, so [[expand]] runs
    * first. */
  private final case class Mode(expanded: Boolean, run: (SparkSession, Args) => Unit)

  private val modes: Map[String, Mode] = Map(
    // streaming retrieval-ingest throughput
    "ingestonly" -> Mode(false, (s, a) => ingestTracking(s, a.sfDir, a.workDir)),
    // same battery with the near-dup gate in front
    "ingestgated" -> Mode(false, (s, a) =>
      ingestTracking(s, a.sfDir, s"${a.workDir}/gated", gated = true)),
    // embedding-dup gate + corpus leg
    "ingestsemantic" -> Mode(false, (s, a) =>
      ingestTracking(s, a.sfDir, s"${a.workDir}/sgated", semantic = true)),
    // drift clapper sawtooth mid-stream
    "ingestrebuild" -> Mode(false, (s, a) =>
      ingestRebuild(s, a.sfDir, s"${a.workDir}/rebuild")),
    // one-batch backfill through the semantic gate
    "ingestbackfill" -> Mode(true, (s, a) =>
      ingestBackfill(s, a.expDir, s"${a.workDir}/backfill")),
    // probe latency vs cluster-skew fraction
    "healthskew" -> Mode(true, (s, a) =>
      healthSkew(s, a.expDir, s"${a.workDir}/healthskew")),
    // recall price of the scanned-codes budget
    "budgetrecall" -> Mode(true, (s, a) =>
      budgetRecall(s, a.expDir, s"${a.workDir}/budgetrecall")),
    // search latency vs stopword-scale term
    "bm25skew" -> Mode(true, (s, a) => bm25Skew(s, a.expDir, s"${a.workDir}/bm25skew")),
    // routine clapper ask vs corpus size
    "lexpoll" -> Mode(true, (s, a) => lexPoll(s, a.expDir, s"${a.workDir}/lexpoll")),
    // frame-decode throughput + pairing
    "videodecode" -> Mode(true, (s, a) =>
      videoDecode(s, a.sfDir, a.expDir, a.factor, s"${a.workDir}/videodecode")),
    // probe latency vs verbatim-flood bucket
    "lexskew" -> Mode(true, (s, a) => lexSkew(s, a.expDir, s"${a.workDir}/lexskew")),
    // the durable-index trackers of the stress battery, one at a time
    "inconly" -> Mode(true, (s, a) => incTracking(s, a.sfDir, a.expDir, a.factor, a.workDir)),
    "delonly" -> Mode(true, (s, a) => delTracking(s, a.sfDir, a.expDir, a.factor, a.workDir)),
    "annonly" -> Mode(true, (s, a) => annTracking(s, a.sfDir, a.expDir, a.factor, a.workDir)),
    "decononly" -> Mode(true, (s, a) =>
      deconTracking(s, a.sfDir, a.expDir, a.factor, a.workDir)),
    // ANN recall/latency battery ([[RecallBench]])
    "recall" -> Mode(true, (s, a) => RecallBench.run(s, a.sfDir, a.expDir, a.factor,
      s"${a.workDir}/recall", a.reps, a.flags.toSet)))

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(1).getOrElse("/tmp/graft_scale_stress")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val nReps = args.lift(3).map(_.toInt).getOrElse(2)
    val a = Args(sfDir, workDir, factor, nReps, args.toSeq.drop(4))
    val mode = a.mode.map(modes).getOrElse(Mode(true, stress))
    val spark = Harness.session("32")
    if (mode.expanded) expand(spark, a.sfDir, a.expDir, a.factor)
    mode.run(spark, a)
    graft.tables.Scratch.cleanup(spark)
    spark.stop()
  }

  /** The stress battery: every stressed query at 1× and factor× (time and
    * shuffle-write ratios), then — unless `noinc` — the durable-index
    * trackers. */
  private def stress(spark: SparkSession, a: Args): Unit = {
    import a.{factor, sfDir, expDir, workDir}
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })
    val scales = Seq(1 -> sfDir, factor -> expDir)
    // warmup: parquet footers + codegen for both scales
    scales.foreach { case (_, dir) =>
      Harness.warm(spark, dir, Seq("documents", "embeddings")) }

    val selected = stressQueries(f => 8 * f)
      .filter { case (name, _) => a.only.forall(_.contains(name)) }

    // avg cluster size held constant: k grows with the data
    val results = selected.flatMap { case (name, fn) =>
      scales.map { case (f, dir) =>
        val t = Harness.time(a.reps) {
          val b0 = shuffleBytes.get()
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          Bus.drain(spark.sparkContext) // count every task-end of this run
          shuffleBytes.get() - b0
        }.get
        println(f"""{"query":"$name","scale":$f,"sec":${t.sec}%.2f,"shuffle_mb":${t.value / 1e6}%.1f}""")
        (name, f, t.sec, t.value)
      }
    }
    results.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (name, rs) =>
      val base = rs.find(_._2 == 1).get
      val big = rs.find(_._2 == factor).get
      println(f"""{"query":"$name","data_ratio":$factor,"time_ratio":${big._3 / base._3}%.2f,"shuffle_ratio":${big._4.toDouble / math.max(base._4, 1)}%.2f}""")
    }
    // `noinc` skips the durable-index tracking battery — targeted `only=`
    // datapoint runs shouldn't pay its ~10 min unless they're about it
    if (!a.flags.contains("noinc")) {
      incTracking(spark, sfDir, expDir, factor, workDir)
      delTracking(spark, sfDir, expDir, factor, workDir)
      annTracking(spark, sfDir, expDir, factor, workDir)
      deconTracking(spark, sfDir, expDir, factor, workDir)
    }
  }
}
