package graft.ext

import graft.tables.{Deletes, TableStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Durable residual-IVF+PQ ANN index — [[DedupIndex]]'s contract for the
  * embedding side: the trained artifacts and the coded corpus persist as
  * [[TableStore]] tables, so a daily crawl APPENDS its vectors against the
  * stored quantizers instead of re-running k-means + codebook training +
  * full-corpus encode per run (exactly the cost class the durable text
  * index amortizes away).
  *
  * Four tables per index:
  *   - `{name}_centroids` (centroid_id, vec)    — coarse quantizer
  *   - `{name}_centers`   (cluster, center)     — residual centers
  *   - `{name}_books`     (sub, cid, cw, cc)    — PQ codebooks (+‖cw‖²)
  *   - `{name}_codes`     (id, cluster, codes)  — the coded corpus,
  *     hive-partitioned on `cluster` for the probe-time partition prune
  *
  * Semantics of the trained artifacts: FROZEN at [[build]] time. An
  * [[append]] assigns and encodes new vectors with the stored quantizers —
  * identical, by construction, to having encoded them in the build batch
  * (the s14 oracle pins that hash-exactly), so incremental ingest never
  * changes existing rows and search results are append-order-independent.
  * Retraining on a drifted corpus is an explicit new [[build]] (new name or
  * overwrite), never an implicit side effect. Takedown is [[deleteIds]] —
  * the [[graft.tables.Deletes]] partition-scoped leg over the codes table:
  * only the clusters holding deleted ids rewrite, survivors are never
  * re-encoded (they have no vectors here to re-encode FROM — the index
  * stores codes, not floats).
  *
  * Scale shape: build pays coarse training (sampleable), centers, codebook
  * training (sampleable) and one encode pass; append pays one map-only
  * encode of the increment plus partition-local appends; search is
  * [[Similarity.ivfPqResidualSearch]] verbatim — probed-cluster partition
  * prune, 8 B/vector codes, float-free.
  */
object AnnIndex {

  private def centroidsT(name: String) = s"${name}_centroids"
  private def centersT(name: String) = s"${name}_centers"
  private def booksT(name: String) = s"${name}_books"
  private def codesT(name: String) = s"${name}_codes"
  private def driftT(name: String) = s"${name}_drift"
  private def csizesT(name: String) = s"${name}_csizes"

  /** Train the quantizer stack on `df` and write all four tables.
    * `sampleMod` routes coarse and codebook training onto the
    * deterministic md5-bucket sample (the 100 TB knob); centers, like
    * assignment, always run over the full build corpus — they are one
    * aggregation, not a training loop.
    *
    * `nlist = 0` (the default) AUTO-SCALES the coarse cluster count to
    * ⌈√n⌉ from one cheap count of the build corpus (parquet-metadata
    * cheap on a table scan) — the classic IVF balance point where
    * per-probe cluster size and cluster count grow together as √n, so a
    * 100× corpus probes 10×-bigger clusters instead of 100×-bigger ones
    * (ScaleStress.annTracking measures exactly that trap at fixed
    * geometry). Callers with a tuned geometry pass nlist explicitly;
    * whatever was used is readable back as the centroids-table row count.
    *
    * `m = 0` (the default) picks the largest divisor of `dim` at most
    * dim/2 — 2-wide subspaces, ½ byte of code per dimension at k = 16.
    * Measured (RecallBench m-sweep, BENCH_LOCAL_r16.md §1, dim 64, ×10
    * corpus, refined search): m 16 → 32 lifts recall@10 0.767 → 0.987
    * and true-NN MRR 0.865 → 0.995 at FLAT wall-clock — the refined
    * recall ceiling was codebook capacity, not the corpus — for 2× the
    * code bytes (16 B/vector at dim 64, still 16× under float32). Pass
    * m explicitly when the index must stay smaller than dim/2 bytes.
    */
  def build(store: TableStore, name: String, df: DataFrame,
      idCol: String, vecCol: String, dim: Int, nlist: Int = 0,
      coarseIters: Int = 2, m: Int = 0, k: Int = 16, pqIters: Int = 2,
      sampleMod: Option[Int] = None): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    require(nlist >= 0, s"nlist must be >= 0 (0 = auto sqrt(n)), got $nlist")
    require(m >= 0, s"m must be >= 0 (0 = auto dim/2), got $m")
    val nl =
      if (nlist > 0) nlist
      else math.max(1, math.ceil(math.sqrt(df.count().toDouble)).toInt)
    val mm =
      if (m > 0) m
      else (dim / 2 to 1 by -1).find(dim % _ == 0).getOrElse(1)
    val centroids = Similarity
      .kmeansTrain(df, idCol, vecCol, nl, coarseIters, sampleMod)
      .select(col("centroid_id").cast("long").as(idCol), col(vecCol))
    val centers = Similarity.residualCenters(df, centroids, idCol, vecCol)
    val books = Similarity.pqTrainResidual(df, idCol, vecCol, centroids,
      centers, dim, mm, k, pqIters, sampleMod)
    store.overwrite(centroidsT(name), centroids
      .select(col(idCol).as("centroid_id"), col(vecCol).cast("array<double>").as("vec")))
    store.overwrite(centersT(name), centers.zipWithIndex
      .map { case (c, i) => (i + 1, c) }.toDF("cluster", "center"))
    // build_m/build_k persist the CONFIGURED code geometry next to the
    // codebooks: pqLloyd seeds only min(k, distinct-points) codewords, so
    // inferring k back from the stored rows under-reads it on tiny or
    // templated corpora — exactly the zero-baseline case a drift rebuild
    // targets — and the rebuild would silently shrink the codebook
    store.overwrite(booksT(name), books.zipWithIndex
      .flatMap { case (cws, sub) => cws.map { case (cid, cw, cc) => (sub, cid, cw, cc) } }
      .toDF("sub", "cid", "cw", "cc")
      .withColumn("build_m", lit(mm)).withColumn("build_k", lit(k)))
    store.overwrite(codesT(name),
      Similarity.pqEncodeResidual(df, centroids, centers, idCol, vecCol, books),
      partitionBy = Seq("cluster"))
    // drift baseline: the build corpus's mean quantization error under the
    // just-frozen quantizers, measured on the same deterministic sample
    // the trainers used (corpus statistics, not the corpus — the 100 TB
    // knob applies to measurement too)
    val src = sampleMod.fold(df)(s =>
      df.filter(Similarity.sampleBucket(col(idCol)) % s === 0))
    val (n, err) = Similarity.encodeErrorResidual(src, centroids, centers,
      idCol, vecCol, books)
    store.overwrite(driftT(name),
      Seq((0L, "build", n, err)).toDF("seq", "phase", "n_rows", "mean_err"))
    // warm the cluster-size cache while the build is already paying
    // full-corpus passes — the first health()/searchBudgeted after a
    // build then reads nlist rows instead of recounting
    refreshClusterSizes(store, name)
    ()
  }

  /** The stored quantizer stack, in the shapes the Similarity APIs take.
    * Three tiny scans (k + k + m·k rows — bounded by geometry); the codes
    * table is NOT touched.
    */
  private def artifacts(store: TableStore, name: String, idCol: String,
      vecCol: String): (DataFrame, Similarity.ResidualCenters, Similarity.PqBooks) = {
    val centroids = store.read(centroidsT(name))
      .select(col("centroid_id").as(idCol), col("vec").as(vecCol))
    val centers = store.read(centersT(name))
      .collect().map(r => (r.getAs[Number]("cluster").intValue(),
        r.getSeq[Double](r.fieldIndex("center")).toSeq))
      .sortBy(_._1).map(_._2).toSeq
    val books: Similarity.PqBooks = store.read(booksT(name))
      .collect().map(r => (r.getAs[Number]("sub").intValue(),
        r.getAs[Number]("cid").intValue(),
        r.getSeq[Double](r.fieldIndex("cw")).toSeq,
        r.getAs[Double]("cc")))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(t => (t._2, t._3, t._4)).toSeq }
    (centroids, centers, books)
  }

  /** Encode `inc` against the STORED quantizers and append into the
    * cluster partitions — the daily-crawl path. No training, no read of
    * previously indexed vectors (AnnIndexSpec pins it by deleting the
    * build corpus first); byte-identical to having encoded `inc` in the
    * build batch.
    */
  def append(store: TableStore, name: String, inc: DataFrame,
      idCol: String, vecCol: String): Unit = {
    val spark = inc.sparkSession
    import spark.implicits._
    val (centroids, centers, books) = artifacts(store, name, idCol, vecCol)
    // csizes-fold bookkeeping (see the fold below): the pre-append
    // freshness read + file listing are driver-side metadata, paid only
    // to decide whether an exact O(batch) fold can keep the cache fresh
    val sizes = IndexState.read(store, csizesT(name),
      IndexState.key(store, codesT(name)))(identity)
    val codesPath = new org.apache.hadoop.fs.Path(store.path(codesT(name)))
    val fs = codesPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val filesBefore: Set[String] =
      if (sizes.nonEmpty)
        graft.tables.Compact.dataFiles(fs, codesPath).map(_._1.toString).toSet
      else Set.empty
    store.append(codesT(name),
      Similarity.pqEncodeResidual(inc, centroids, centers, idCol, vecCol, books),
      partitionBy = Seq("cluster"))
    // EXACT per-cluster size fold — the ANN twin of the r19 sketch work,
    // except no sketch is needed: csizes is O(nlist) rows by design, so
    // the increment's exact cluster counts merge in O(batch + nlist)
    // where the key-checked recount pays a full codes-table pass
    // (the measured 0.33-0.49 s/batch silent-clapper cadence, O(corpus
    // codes rows) at scale). The increment's rows are read back from
    // exactly the part files this append created (listing diff +
    // basePath, reconstructing the hive `cluster` column) — never from a
    // re-evaluation of the caller's frame, which need not be
    // deterministic (the Bm25.append staging lesson). Crash-safe by the
    // same memo contract as the recount: a fold that never ran, failed,
    // or raced leaves a stale stamp the next ask detects and recounts —
    // a lost fold costs one recount, never a wrong count. An empty
    // increment (no new part file) just re-stamps. deleteIds stays
    // recount-only (its rewrite moves the key).
    sizes.foreach { cur =>
      IndexState.write(store, csizesT(name), IndexState.key(store, codesT(name))) {
        val newFiles = graft.tables.Compact.dataFiles(fs, codesPath)
          .map(_._1.toString).filterNot(filesBefore)
        if (newFiles.isEmpty) cur
        else cur.unionByName(spark.read
            .option("basePath", codesPath.toString)
            .parquet(newFiles: _*)
            .groupBy(col("cluster")).agg(count(lit(1)).as("csize")))
          .groupBy(col("cluster")).agg(sum(col("csize")).as("csize"))
      }
    }
    // drift signal: this increment's mean quantization error under the
    // FROZEN quantizers, appended next to the build baseline — the
    // measurement that turns "retrain is an explicit new build" from a
    // policy into a triggerable decision (a rising mean_err trend against
    // seq 0 is the retrain bell; RecallBench correlates it with recall
    // decay). One batch-sized aggregate per append; indexes that predate
    // the drift table just start their record at this append.
    val (n, err) = Similarity.encodeErrorResidual(inc, centroids, centers,
      idCol, vecCol, books)
    val seq =
      if (store.exists(driftT(name)))
        store.read(driftT(name)).agg(max(col("seq"))).collect()(0).getLong(0) + 1L
      else 0L
    store.append(driftT(name),
      Seq((seq, "append", n, err)).toDF("seq", "phase", "n_rows", "mean_err"))
  }

  /** The index's drift record — one row per build/append with the mean
    * quantization error of that batch under the frozen quantizers,
    * ordered by `seq` (0 = the build baseline). The retrain trigger is a
    * caller policy over this table (e.g. alert when the trailing appends'
    * mean_err exceeds the baseline by a factor); the index never retrains
    * implicitly.
    */
  def drift(store: TableStore, name: String): DataFrame =
    store.read(driftT(name)).orderBy(col("seq"))

  /** Takedown: remove `ids` from the codes table — the
    * [[graft.tables.Deletes.deleteRows]] partition-scoped leg, so only
    * the clusters holding deleted ids rewrite and an emptied cluster
    * directory disappears outright. Artifacts stay frozen (a takedown
    * must not silently retrain the quantizers the corpus was coded with).
    */
  def deleteIds(store: TableStore, name: String, ids: DataFrame, idCol: String): Unit =
    Deletes.deleteRows(store, codesT(name), idCol, ids, Some("cluster"))

  /** Ids currently indexed — narrow column-pruned scan of the codes table
    * (the [[DedupIndex.knownIds]] re-delivery guard, embedding side). */
  def knownIds(store: TableStore, name: String, idCol: String): DataFrame =
    store.read(codesT(name)).select(col(idCol))

  /** Full teardown of a stored index — every table [[build]] and the
    * maintenance surface own (codes, quantizer artifacts, drift trend,
    * size cache, geometry baseline), so an operator retiring an index
    * does not need to know its seven-table layout. Row-level removal is
    * [[deleteIds]]; this is the index-wide DROP TABLE.
    */
  def dropIndex(store: TableStore, name: String): Unit =
    Seq(codesT(name), centroidsT(name), centersT(name), booksT(name),
      driftT(name), csizesT(name), geomBaseT(name))
      .foreach(t => if (store.exists(t)) store.drop(t))

  /** The auto-nprobe rule paired with the auto-nlist build default:
    * max(2, ⌈√nlist⌉) probes. Rationale: with nlist itself at ⌈√n⌉, a
    * FIXED probe count scans a falling fraction of the corpus as it
    * grows (nprobe/√n) — recall silently collapses (measured: nprobe=2
    * at nlist=142 lands recall@10 at 0.30 where probing all clusters
    * gives 0.72, BENCH_LOCAL_r15.md §10). √nlist probes hold scanned
    * codes at n/√nlist (= n^¾ at auto geometry — still sublinear) and
    * land mid-curve on the measured recall-vs-probes trade; callers
    * with a recall target pick an explicit nprobe from that curve, or
    * calibrate ([[decontaminateCalibrated]] for the scrub).
    */
  private def autoNprobe(nlist: Long): Int =
    math.max(2, math.ceil(math.sqrt(nlist.toDouble)).toInt)

  /** Top-k search over the stored index:
    * [[Similarity.ivfPqResidualSearch]] verbatim against the codes table —
    * probed-cluster partition prune, float-free ranking. `nprobe = 0`
    * (the default) auto-scales to max(2, ⌈√nlist⌉) of the STORED
    * geometry — see [[autoNprobe]]; explicit values win.
    *
    * The pruned plan collects |Q|×nprobe probe rows CARRYING QUERY
    * VECTORS to the driver (the static partition prune needs the probed
    * cluster ids there) — driver-bounded only while |Q| is
    * interactive-sized. Above `maxPrunedQueries` rows the search routes
    * to [[Similarity.ivfPqResidualSearchJoin]]: same results, probes
    * stay distributed, the scan reads all cluster partitions once
    * instead of pruning — the right trade at a backfill-sized query
    * set, where the collect is gigabytes and most clusters are probed
    * by someone anyway. The row count comes from a LIMIT-bounded count
    * (one job scanning at most maxPrunedQueries+1 rows) — NOT plan-stats
    * bytes, which for a filtered parquet scan report the whole file and
    * would silently unprune a 5-query search the moment the corpus file
    * outgrew a byte bound. Pass `Int.MaxValue` to pin the pruned plan,
    * `0` to pin the join plan.
    */
  def search(store: TableStore, name: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int = 5, nprobe: Int = 0,
      maxPrunedQueries: Int = 4096): DataFrame = {
    require(nprobe >= 0, s"nprobe must be >= 0 (0 = auto sqrt(nlist)), got $nprobe")
    require(maxPrunedQueries >= 0,
      s"maxPrunedQueries must be >= 0 (0 = always join path), got $maxPrunedQueries")
    val (centroids, centers, books) = artifacts(store, name, idCol, vecCol)
    val np = if (nprobe > 0) nprobe else autoNprobe(centroids.count())
    val small = maxPrunedQueries == Int.MaxValue ||
      (maxPrunedQueries > 0 &&
        queries.limit(maxPrunedQueries + 1).count() <= maxPrunedQueries)
    if (small)
      Similarity.ivfPqResidualSearch(queries, store.read(codesT(name)),
        centroids, centers, idCol, vecCol, books, k, np)
    else
      Similarity.ivfPqResidualSearchJoin(queries, store.read(codesT(name)),
        centroids, centers, idCol, vecCol, books, k, np)
  }

  /** Bring the per-cluster size table `{name}_csizes` up to date with the
    * codes table, returning whether a recompute ran. The cache is an
    * [[IndexState]] memo of the codes table, so it is crash-safe by
    * construction — any mutation path that died between the codes write
    * and this refresh just leaves a stale stamp that the next caller
    * detects and recomputes (one narrow map-side-combined count; never
    * eager bookkeeping that a replay could double-apply). [[build]]
    * warms it (the build already pays full-corpus passes); [[health]] and
    * [[searchBudgeted]] validate it, so after an append the FIRST health
    * check of the sink's per-batch cadence pays the recount and every
    * budgeted search after that reads nlist rows.
    */
  def refreshClusterSizes(store: TableStore, name: String): Boolean =
    clusterSizes(store, name, IndexState.key(store, codesT(name)))._2

  /** The per-cluster sizes at `key` as a frame, and whether a recount
    * ran. Cache-backed but ALWAYS correct: the cached rows come back
    * collected (nlist rows, a broadcastable local relation, so the lazily
    * consumed plan can never race a concurrent refresh's swap); if the
    * cache is stale even after the recount's best-effort write (a
    * concurrent poller won the write race, or the write was lost), the
    * direct map-side-combined count is served instead — a lazy plan over
    * the codes table, which only the single mutator moves.
    */
  private def clusterSizes(store: TableStore, name: String,
      key: IndexState.Key): (DataFrame, Boolean) =
    IndexState.read(store, csizesT(name), key)(identity) match {
      case Some(cached) => (cached, false)
      case None =>
        val counted = store.read(codesT(name))
          .groupBy(col("cluster")).agg(count(lit(1)).as("csize"))
        IndexState.write(store, csizesT(name), key)(counted)
        (IndexState.read(store, csizesT(name), key)(identity).getOrElse(counted),
          true)
    }

  /** [[search]] with a SCANNED-CODES BUDGET instead of a probe count —
    * [[Similarity.ivfPqResidualSearchBudgeted]] against the stored
    * tables: per query the cosine-ranked centroid PREFIX whose
    * cumulative cluster size stays ≤ `codesBudget` is probed (top-1
    * always), so the per-query scan bound holds even when
    * [[Health.maxClusterFrac]] says a hot cluster broke the ~n/nlist
    * assumption fixed-nprobe budgets on — the latency-SLO dial for
    * skewed indexes (the healthskew battery's +46% at ×34 skew is
    * exactly what this caps).
    *
    * RECALL PRICE, measured (ScaleStress budgetrecall, 20k codes,
    * two-stage kShort=100 refined, 200 cold queries, recall@10 vs
    * fixed-nprobe at ~equal MEAN scanned codes — BENCH_LOCAL_r17.md §2):
    * on a balanced index the prefix rule IS top-nprobe, recall
    * identical at every price point (0.247/0.311/0.361/0.399/0.427
    * from 144 to 3.9k codes, both arms). Under skew the budget is
    * strictly BETTER per scanned code, because fixed-nprobe burns scan
    * on the hot cluster's flood copies while the prefix rule stops
    * before it: at maxClusterFrac 0.47, 0.359 vs 0.324 at ~1.7k codes;
    * at 0.85, 0.327 vs 0.269 with the budget scanning FEWER codes
    * (1645 vs 2246). Nearest-first degradation beats uniform probing
    * under skew — the dial has no recall downside at equal price.
    *
    * `codesBudget = 0` (the default) auto-derives ⌈nCodes/√nlist⌉ from
    * the stored tables — the mean scan the [[autoNprobe]] rule would
    * pay on a BALANCED index (√nlist probes × n/nlist codes each), so
    * the auto pair (search's auto-nprobe, this auto-budget) price the
    * same scan and differ only in allocation, which is what the curve
    * above prices. Cluster sizes come from the [[refreshClusterSizes]]
    * cache (nlist rows) — a steady-state call never aggregates the
    * codes table, only validates the cache's file fingerprint;
    * interactive query sets only (collect-and-prune tail).
    */
  def searchBudgeted(store: TableStore, name: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int = 5,
      codesBudget: Long = 0): DataFrame = {
    require(codesBudget >= 0,
      s"codesBudget must be >= 0 (0 = auto n/sqrt(nlist)), got $codesBudget")
    val (centroids, centers, books) = artifacts(store, name, idCol, vecCol)
    val sizes = clusterSizes(store, name,
      IndexState.key(store, codesT(name)))._1
    val budget =
      if (codesBudget > 0) codesBudget
      else {
        // nlist = the STORED geometry (centroids table), NOT the count of
        // nonempty clusters: on a collapsed index (the healthskew 142→20)
        // the nonempty count would inflate the auto budget toward a
        // full-corpus scan — exactly where the dial must hold its price —
        // and autoNprobe prices √(centroids.count()) too, so the auto
        // pair stays parity-priced
        val t = sizes.agg(sum(col("csize")).as("n")).collect()(0)
        val n = if (t.isNullAt(0)) 0L else t.getLong(0)
        val nl = math.max(1L, centroids.count())
        math.max(1L, math.ceil(n / math.sqrt(nl.toDouble)).toLong)
      }
    Similarity.ivfPqResidualSearchBudgeted(queries, store.read(codesT(name)),
      centroids, centers, idCol, vecCol, books, k, budget, sizes)
  }

  /** ALL-PAIRS cosine matches WITHIN `df` (id_a < id_b, cos ≥ threshold),
    * shortlisted through the index's FROZEN quantizers — the batch
    * self-pairing that stays sub-quadratic at ANY threshold. Sign-LSH
    * (the other training-free route) cannot prune hard below τ ≈ 0.9:
    * [[Similarity.lshRowsPerBand]] floors at r = 4 there, admitting
    * bands·2⁻⁴ of ALL pairs, so a backfill-sized batch at a
    * SemDeDup-like 0.6–0.8 bar pays near-|B|² anyway. This route
    * instead encodes `df` map-only against the stored quantizers (one
    * pass — the same encode an [[append]] would run), proposes each
    * row's `kShort` nearest batch-mates by float-free ADC over the
    * batch's OWN codes ([[Similarity.ivfPqResidualSearchJoin]] with the
    * batch as both sides — nothing driver-side depends on |df|), and
    * exact-confirms only those |df|×kShort candidate pairs
    * ([[Similarity.refineExact]], no broadcast hints — data-sized
    * contract). The EXACT-CONFIRM set is bounded by kShort regardless
    * of τ — what the LSH route cannot offer at low bars. The ADC
    * SCORING stage upstream of the rank cut is honest arithmetic, not
    * magic: each row scores against batch-mates sharing a probed
    * cluster, ≈ |df|²·nprobe/nlist rows — so this route requires the
    * STORED GEOMETRY TO BE ADEQUATE FOR THE BATCH (nlist² ≳ |df|, the
    * regime where the scoring set stays ≪ |df|²). MEASURED FAILURE
    * outside that regime (ScaleStress ingestbackfill, first cut,
    * BENCH_LOCAL_r17.md §3): an 18k-doc backfill against an index built
    * on a 2k-doc base (nlist = 8) ran 567 s vs 385 s EXACT — the
    * 0.375·|df|² ADC rows plus the rank-window shuffle ate the
    * per-row cheapness entirely. For a batch that dwarfs the index,
    * pair through batch-fresh centroids instead
    * ([[Similarity.cosinePairsClusteredMultiProbe]] at ⌈√|df|⌉
    * clusters — |df|^1.5 regardless of the index's age; what
    * [[graft.streaming.Streams.retrievalIngestSink]] routes to), or
    * rebuild the index first — [[rebuildIfUnhealthy]]'s collapse bell
    * fires on exactly this outgrown-geometry condition.
    *
    * Recall is shortlist-bounded, two-sided: a pair survives when
    * EITHER end shortlists the other (the union of both orientations,
    * deduped — symmetric exact cosine makes the duplicates
    * bit-identical). Verbatim floods drop whole AT ANY kShort by a
    * separate guarantee, not by ADC rank: identical vectors encode to
    * identical (cluster, codes) under the frozen quantizers, so
    * code-identical groups STAR-PAIR with their min-id member directly
    * (one map-side-combined group over the batch codes) and those pairs
    * ride the same exact-cosine confirm. The ADC shortlist alone could
    * not promise this — L2-nearest codewords do not maximize inner
    * product, so a batch can hold ≥ kShort non-copies whose ADC
    * out-scores a copy's own code and starves copy pairs out of the
    * rank cut. `df` is scanned several times (encode, probes, both
    * refine sides) — pass a materialized frame, not an expensive plan.
    */
  def selfPairs(store: TableStore, name: String, df: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      kShort: Int = 100, nprobe: Int = 0): DataFrame = {
    require(nprobe >= 0, s"nprobe must be >= 0 (0 = auto sqrt(nlist)), got $nprobe")
    require(kShort >= 1, s"kShort must be >= 1, got $kShort")
    val (centroids, centers, books) = artifacts(store, name, idCol, vecCol)
    val np = if (nprobe > 0) nprobe else autoNprobe(centroids.count())
    val codes = Similarity.pqEncodeResidual(df, centroids, centers,
      idCol, vecCol, books)
    val shortlist = Similarity.ivfPqResidualSearchJoin(df, codes, centroids,
      centers, idCol, vecCol, books, kShort, np)
    val adcPairs = Similarity.refineExact(shortlist, df, df, idCol, vecCol,
        k = kShort, broadcastHints = false)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
    // the verbatim-flood star leg (see scaladoc): code-identical groups
    // pair min-id → member, exact cosine computed with the identical
    // expression refineExact uses, so a pair found by both legs carries
    // a bit-identical cos and the dedup below is orientation-safe
    val reps = codes.groupBy(col("cluster"), col("codes"))
      .agg(min(col(idCol)).as("_rep"), count(lit(1)).as("_n"))
      .filter(col("_n") > 1)
    val starCand = codes.join(reps, Seq("cluster", "codes"))
      .filter(col(idCol) =!= col("_rep"))
      .select(col("_rep").as("query_id"), col(idCol).as("neighbor_id"))
    val q = Similarity.withNorm(
      df.select(col(idCol).as("query_id"), col(vecCol).as("_qv")), "_qv", "_qn")
    val c = Similarity.withNorm(
      df.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv")), "_cv", "_cn")
    val starPairs = starCand.join(q, Seq("query_id")).join(c, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (Similarity.dot(col("_qv"), col("_cv")) / (col("_qn") * col("_cn")))
          .as("cos"))
    adcPairs.unionByName(starPairs)
      .filter(col("cos") >= threshold)
      .select(least(col("query_id"), col("neighbor_id")).as("id_a"),
        greatest(col("query_id"), col("neighbor_id")).as("id_b"), col("cos"))
      .dropDuplicates("id_a", "id_b")
  }

  /** [[DedupIndex.maintainIfNeeded]]'s embedding twin: compact the codes
    * table once a long-lived append stream ([[graft.streaming.Streams
    * .retrievalIngestSink]]) has fragmented it past `maxFiles` data
    * files. The cluster partitioning is restated so the probe-prune
    * layout survives the rewrite; the quantizer artifacts never need
    * maintenance (geometry-bounded, written once at build). The health
    * check is one driver-side directory listing — run it after every
    * batch. Compaction is content-neutral, so a cluster-size cache that
    * was FRESH going in is re-stamped to the post-compaction fingerprint
    * without a recount (a stale one is left stale — re-stamping it would
    * freeze wrong sizes; the next health/searchBudgeted recounts as
    * usual).
    */
  def maintainIfNeeded(store: TableStore, name: String, maxFiles: Int = 64,
      targetBytes: Long = 128L << 20): Option[graft.tables.Compact.Stats] =
    IndexState.compactIfFragmented(store, Seq(codesT(name)),
      Seq(IndexState.Memo(csizesT(name), Seq(codesT(name)))), maxFiles,
      targetBytes, _ => Seq("cluster")).map(_(codesT(name)))

  /** Two-stage search (IVFADC+R): [[search]] proposes a `kShort`
    * shortlist from the stored codes, [[Similarity.refineExact]] re-ranks
    * those rows by exact cosine against `corpus` — the ORIGINAL vector
    * table, passed by the caller because the index deliberately stores
    * only 8 B codes, never floats (the whole point of PQ at 100 TB is
    * that the raw vectors live once, in the corpus, not twice). Refine
    * cost is one broadcast-pruned map pass over the corpus scan;
    * everything else is bounded by |Q|×kShort.
    *
    * Default kShort = 100 per the measured r15 sweep (RecallBench
    * refined_k25..200, BENCH_LOCAL_r15.md): recall@10 climbs
    * 0.33 → 0.47 → 0.63 → 0.77 (×10 corpus) as kShort goes 25→200 while
    * query wall-clock stays flat — the refine stage's |Q|×kShort exact
    * dots are noise next to the ADC scan, so a small shortlist buys
    * nothing. Callers tune down only when |Q| is huge enough that the
    * broadcast candidate set itself matters.
    */
  def searchRefined(store: TableStore, name: String, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 5, kShort: Int = 100, nprobe: Int = 0): DataFrame =
    Similarity.refineExact(
      search(store, name, queries, idCol, vecCol, kShort, nprobe),
      queries, corpus, idCol, vecCol, k)

  /** Two-stage BUDGETED search (IVFADC+R on the latency-SLO dial):
    * [[searchBudgeted]] proposes the `kShort` shortlist under the
    * scanned-codes bound, [[Similarity.refineExact]] re-ranks those rows
    * by exact cosine against `corpus` — the production shape the
    * budgetrecall battery measured (BENCH_LOCAL_r17.md §2: refined and
    * at equal scanned codes, the budget arm matches fixed-nprobe on a
    * balanced index and strictly beats it under skew). Same kShort
    * default, refine cost shape, and output-⊆-shortlist contract as
    * [[searchRefined]]; the scan bound applies to the ADC stage — refine
    * adds |Q|×kShort exact dots, never a corpus scan.
    */
  def searchBudgetedRefined(store: TableStore, name: String,
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 5, kShort: Int = 100, codesBudget: Long = 0): DataFrame =
    Similarity.refineExact(
      searchBudgeted(store, name, queries, idCol, vecCol, kShort, codesBudget),
      queries, corpus, idCol, vecCol, k)

  /** Semantic decontamination routed through the index's FROZEN coarse
    * quantizer ([[Similarity.semanticDecontaminatePruned]]): the eval
    * suite probes its `nprobe` nearest stored centroids, train rows
    * assign map-only to the same centroids, and only pairs meeting in a
    * probed cluster pay the exact-cosine confirm. This is the scrub an
    * indexed corpus runs on every pass — per-train-row cost tracks
    * nlist + |eval|·nprobe/nlist, not |eval|, and the emitted audit rows
    * are exact-cosine values (the prune is invisible in the result
    * whenever nprobe retains the contaminated pairs — the c8 oracle pins
    * that against the exact scrub). Only the centroids table is read
    * (k geometry-bounded rows); codes stay untouched.
    */
  def decontaminate(store: TableStore, name: String, train: DataFrame,
      evalSet: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.8, nprobe: Int = 0): DataFrame = {
    require(nprobe >= 0, s"nprobe must be >= 0 (0 = auto sqrt(nlist)), got $nprobe")
    val centroids = store.read(centroidsT(name))
      .select(col("centroid_id").as(idCol), col("vec").as(vecCol))
    val np = if (nprobe > 0) nprobe else autoNprobe(centroids.count())
    Similarity.semanticDecontaminatePruned(train, evalSet, centroids,
      idCol, vecCol, threshold, np)
  }

  /** One-call operational report over a stored index — the numbers an
    * operator pages on, see [[health]]. `maxClusterFrac` is the IVF skew
    * signal: the probe-prune cost model assumes ~n/nlist codes per
    * cluster, and a hot cluster (frac ≫ 1/nlist) makes every query that
    * probes it scan far more than its budget — the fix is a rebuild
    * (possibly with larger nlist), same as drift.
    *
    * PAGE-WORTHY LEVEL, measured (ScaleStress healthskew, 20k codes at
    * auto geometry, hot-family queries — BENCH_LOCAL_r16.md §4): the
    * cost multiple over a balanced probe is `maxClusterFrac × nClusters`.
    * At ×14.8 (frac 0.121) search latency moved +3% — noise; at ×34
    * (frac 0.472) it was +46%, at frac 0.848 +60%. **Alert at
    * maxClusterFrac ≥ 16 / nClusters** (cost multiple ≥ ~16); page
    * unconditionally when `nClusters` itself lands far below the ⌈√n⌉
    * the auto build would pick — heavy skew COLLAPSES the trained
    * geometry (142 → 20 clusters at an 80% one-point flood in the same
    * battery), which both fattens every probe and starves the probe
    * budget, a sharper signal than the fraction alone.
    *
    * `driftLast/driftBaseline`
    * operationalizes the drift table's retrain bell: a magnitude jump is
    * the signal, a wiggle is not (AnnIndexSpec pins both regimes); the
    * clapper is [[rebuildIfDrifted]].
    *
    * `autoNlist` is ⌈√nCodes⌉ — the cluster count [[build]] would pick
    * for TODAY's corpus. `nClusters` far below it means either the
    * corpus outgrew the build (appends never add clusters) or the coarse
    * trainer collapsed under skew (healthskew measured 142 → 20 at an
    * 80% one-point flood) — both rebuild signals, and the collapse one
    * fires even when maxClusterFrac alone looks survivable.
    */
  final case class Health(
      nCodes: Long, nClusters: Int, maxClusterFrac: Double,
      codesFiles: Int, driftBaseline: Double, driftLast: Double,
      autoNlist: Int)

  /** Compute [[Health]] from the stored tables: the cluster histogram
    * reads the [[refreshClusterSizes]] cache (nlist rows; the narrow
    * cluster-grouped count over the codes table runs only when the cache
    * is stale — so the sink's health-after-every-batch cadence pays ONE
    * recount per mutation and every other health call is
    * geometry-bounded), one driver-side file listing, two rows of the
    * drift table.
    */
  def health(store: TableStore, name: String): Health = {
    // one listing serves both the cache validation and codesFiles — two
    // recursive LIST sweeps per health call would double the object-store
    // round trips of the sink's per-batch cadence
    val key = IndexState.key(store, codesT(name))
    val byCluster = clusterSizes(store, name, key)._1
      .agg(sum(col("csize")).as("total"), max(col("csize")).as("hot"),
        count(lit(1)).as("k"))
      .collect()(0)
    // zero clusters (full takedown) leaves null sum/max — the Bm25.health
    // null-guard pattern, not primitive getters on null
    val (total, hot, k) =
      if (byCluster.isNullAt(0)) (0L, 0L, 0L)
      else (byCluster.getLong(0), byCluster.getLong(1), byCluster.getLong(2))
    // first/last of the trend only — the drift table grows one row per
    // append, so a long-lived stream must not collect it whole
    val (baseline, last) =
      if (!store.exists(driftT(name))) (Double.NaN, Double.NaN)
      else {
        val d = store.read(driftT(name)).agg(
          min_by(col("mean_err"), col("seq")).as("base"),
          max_by(col("mean_err"), col("seq")).as("last")).collect()(0)
        if (d.isNullAt(0)) (Double.NaN, Double.NaN)
        else (d.getDouble(0), d.getDouble(1))
      }
    Health(total, k.toInt, if (total == 0) 0.0 else hot.toDouble / total,
      key.files(0), baseline, last,
      // max(1, ...): what build(nlist = 0) would actually pick, empty
      // corpus included — the field IS that comparison
      autoNlist = math.max(1, math.ceil(math.sqrt(total.toDouble)).toInt))
  }

  /** What [[decontaminateCalibrated]] measured while picking its probe
    * count: the chosen `nprobe` (margin included), the index's `nlist`,
    * the exact hit-pair count on the calibration slice, and how many
    * pruned replays the binary search paid. `slicePairs == 0` means the
    * slice saw no contamination at all — the calibration then proved
    * nothing (any nprobe is "parity" with an empty hit set) and the
    * caller should widen the slice (`sampleMod` → 1) or treat the run as
    * uncalibrated rather than trust `nprobe`.
    */
  final case class DeconCalibration(
      nprobe: Int, nlist: Int, slicePairs: Long, checks: Int)

  /** [[decontaminate]] with `nprobe` MEASURED instead of guessed — the
    * "replay a sampled slice against the exact scrub and widen nprobe
    * until the audit records match" recipe from
    * [[Similarity.semanticDecontaminatePruned]]'s scaladoc, promoted from
    * folklore to a function (BENCH_LOCAL_r15.md §2 measured why guessing
    * is hostile at low thresholds: borderline-pair cosines dwarf coarse
    * assignment cosines, so the needed probe rank is corpus-specific).
    *
    * Mechanics: a deterministic md5-bucket slice of `train` (~1/sampleMod
    * of the corpus, engine-independent — the same knob the index trainers
    * use) is scrubbed EXACTLY once, then the smallest `nprobe` whose
    * pruned scrub of the slice retains every exact hit is found by BINARY
    * search over [1, nlist]. Two structural facts make the parity test
    * one cheap aggregate per probe-count tried: the pruned hit set is a
    * SUBSET of the exact hit set (every survivor is exact-cosine
    * confirmed, each pair counted at most once in both), so set equality
    * collapses to Σn_eval_hits equality; and top-nprobe probe lists are
    * PREFIXES of each other, so parity is monotone in nprobe and binary
    * search is sound — ⌈log₂ nlist⌉ slice replays instead of nlist. At
    * `nprobe = nlist` every pair is a candidate (exact semantics by
    * construction), so the search always terminates at true parity.
    *
    * `margin` extra probes (default 1) absorb what the slice cannot see:
    * a sampled slice proves retention for ITS pairs; borderline pairs
    * outside the slice may need one more probe rank. `sampleMod = 1`
    * calibrates on the full corpus — the returned nprobe is then
    * PROVABLY exact-retaining for this train/eval pair (margin adds
    * nothing but cost), which is how the c9 oracle query pins this
    * function against c7's exact SQL.
    *
    * Cost shape at 100 TB: calibration pays the exact scrub on
    * train/sampleMod plus ~log₂(nlist) pruned slice replays (each
    * cheaper than the exact slice scrub), then the full corpus pays the
    * pruned scrub at the calibrated nprobe — the slice is staged once to
    * scratch parquet so no replay re-evaluates the train source plan.
    */
  def decontaminateCalibrated(store: TableStore, name: String,
      train: DataFrame, evalSet: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.8, sampleMod: Int = 10,
      margin: Int = 1): (DataFrame, DeconCalibration) = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    require(margin >= 0, s"margin must be >= 0, got $margin")
    val centroids = store.read(centroidsT(name))
      .select(col("centroid_id").as(idCol), col("vec").as(vecCol))
    val nlist = centroids.count().toInt
    val slice0 =
      if (sampleMod == 1) train
      else train.filter(Similarity.sampleBucket(col(idCol)) % sampleMod === 0)
    val slice = graft.tables.Scratch.stage(
      slice0.select(col(idCol), col(vecCol)), s"${name}_cal_tr")
    val ev = graft.tables.Scratch.stage(
      evalSet.select(col(idCol), col(vecCol)), s"${name}_cal_ev")
    def pairsOf(audit: DataFrame): Long = audit
      .agg(coalesce(sum(col("n_eval_hits")), lit(0L)).as("p"))
      .collect()(0).getAs[Number]("p").longValue()
    val exactPairs = pairsOf(
      Similarity.semanticDecontaminate(slice, ev, idCol, vecCol, threshold))
    var checks = 0
    def parityAt(np: Int): Boolean = {
      checks += 1
      pairsOf(Similarity.semanticDecontaminatePruned(
        slice, ev, centroids, idCol, vecCol, threshold, np)) == exactPairs
    }
    var lo = 1
    var hi = nlist
    while (lo < hi) {
      val mid = lo + (hi - lo) / 2
      if (parityAt(mid)) hi = mid else lo = mid + 1
    }
    val chosen = math.min(nlist, lo + margin)
    val cal = DeconCalibration(chosen, nlist, exactPairs, checks)
    (Similarity.semanticDecontaminatePruned(train, evalSet, centroids,
      idCol, vecCol, threshold, chosen), cal)
  }

  /** What the scrub should re-measure after a drift-triggered rebuild:
    * the [[decontaminateCalibrated]] inputs, bundled so
    * [[rebuildIfDrifted]] can re-run the calibration against the FRESH
    * quantizers in the same transaction of intent (BENCH_LOCAL_r15.md §6
    * measured the coupling this closes: drift alone widened the
    * exact-parity nprobe 6→8 on an unchanged index — stale calibration
    * under drift silently under-probes).
    */
  final case class RecalSpec(train: DataFrame, evalSet: DataFrame,
      threshold: Double = 0.8, sampleMod: Int = 10, margin: Int = 1) {
    // validated at CONSTRUCTION: a RecalSpec rides inside RebuildPolicy /
    // rebuildIfUnhealthy and is only consumed by a FIRED rebuild — a bad
    // value surfacing there (decontaminateCalibrated's requires) would
    // crash mid-stream, post-marker, instead of where the spec was written
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    require(margin >= 0, s"margin must be >= 0, got $margin")
  }

  /** The stored code geometry `(m, k)` a rebuild must preserve. Indexes
    * written since build_m/build_k were persisted read the CONFIGURED
    * values back; older books tables fall back to inference — max(sub)+1
    * is always exact (every sub holds rows for every vector), max(cid)
    * recovers the SEEDED k (cids are 1..k from seeding), which matches
    * the configured k except on corpora smaller than k.
    */
  private def storedGeometry(store: TableStore, name: String): (Int, Int) = {
    val books = store.read(booksT(name))
    if (books.columns.contains("build_m")) {
      val r = books.select(col("build_m"), col("build_k")).limit(1).collect()(0)
      (r.getInt(0), r.getInt(1))
    } else {
      val r = books.agg(max(col("sub")).as("m"), max(col("cid")).as("k"))
        .collect()(0)
      (r.getAs[Number](0).intValue() + 1, r.getAs[Number](1).intValue())
    }
  }

  /** The retrain decision taken (or declined) by [[rebuildIfDrifted]]:
    * the drift trend it judged, the factor bar it judged against, and —
    * when a rebuild fired with a [[RecalSpec]] — the fresh calibration.
    */
  final case class RebuildDecision(
      triggered: Boolean, driftBaseline: Double, driftLast: Double,
      factor: Double, recalibration: Option[DeconCalibration])

  /** The drift bell's clapper — the retrain policy promoted from scaladoc
    * folklore ("a rising mean_err trend against seq 0 is the retrain
    * bell") to a library function, the same promotion
    * `compactTakedownLog` got in r15. Reads [[health]]'s drift trend;
    * when the last batch's mean quantization error reaches `factor` ×
    * the build baseline, rebuilds the index from `corpus` (fresh
    * centroids, residual centers, codebooks, codes — and a fresh drift
    * BASELINE, so the bell re-arms instead of ringing forever), then, if
    * `recal` is given, re-runs [[decontaminateCalibrated]] against the
    * fresh quantizers — a calibrated nprobe is a property of the trained
    * geometry and expires with it. No drift record (pre-drift index,
    * empty trend) or an in-bar trend returns `triggered = false` and
    * touches nothing. A ZERO baseline (codebooks that reproduced the
    * build corpus exactly — small or templated corpora) with any
    * positive driftLast triggers: every finite factor bar is exceeded,
    * and treating it like a missing trend would disarm the bell forever
    * on exactly the indexes that drift most visibly. The caller owns
    * WHEN to ask (e.g. per ingest batch, the indexedNearDupSink health
    * cadence) and what `corpus` is (typically the sink's corpus table —
    * the admitted set the index must mirror).
    *
    * Geometry on rebuild: `nlist = 0` re-derives ⌈√n⌉ from TODAY's
    * corpus (cluster count is a corpus property — rescaling it is the
    * point of the rebuild), but `m = 0` / `k = 0` default to the STORED
    * code geometry (read from the books table), NOT the build auto
    * default — code width is a storage contract, and a drift rebuild
    * must not silently 4× the index bytes of an index built with an
    * explicit m.
    */
  def rebuildIfDrifted(store: TableStore, name: String, corpus: DataFrame,
      idCol: String, vecCol: String, dim: Int, factor: Double = 2.0,
      nlist: Int = 0, coarseIters: Int = 2, m: Int = 0, k: Int = 0,
      pqIters: Int = 2, sampleMod: Option[Int] = None,
      recal: Option[RecalSpec] = None): RebuildDecision = {
    require(factor > 0, s"factor must be > 0, got $factor")
    val h = health(store, name)
    if (!driftTriggered(h, factor))
      RebuildDecision(triggered = false, h.driftBaseline, h.driftLast,
        factor, None)
    else {
      val cal = rebuildNow(store, name, corpus, idCol, vecCol, dim, nlist,
        coarseIters, m, k, pqIters, sampleMod, recal)
      RebuildDecision(triggered = true, h.driftBaseline, h.driftLast,
        factor, cal)
    }
  }

  private def driftTriggered(h: Health, factor: Double): Boolean =
    !h.driftBaseline.isNaN && !h.driftLast.isNaN &&
      (if (h.driftBaseline > 0.0) h.driftLast >= factor * h.driftBaseline
       else h.driftLast > 0.0)

  /** The shared rebuild action: stored code geometry preserved unless
    * overridden, fresh quantizers + codes + drift baseline, then the
    * optional recalibration against the fresh geometry.
    */
  private def rebuildNow(store: TableStore, name: String, corpus: DataFrame,
      idCol: String, vecCol: String, dim: Int, nlist: Int, coarseIters: Int,
      m: Int, k: Int, pqIters: Int, sampleMod: Option[Int],
      recal: Option[RecalSpec]): Option[DeconCalibration] = {
    val (sm, sk) = storedGeometry(store, name)
    val mm = if (m > 0) m else sm
    val kk = if (k > 0) k else sk
    build(store, name, corpus, idCol, vecCol, dim, nlist, coarseIters,
      mm, kk, pqIters, sampleMod)
    recal.map { r =>
      decontaminateCalibrated(store, name, r.train, r.evalSet, idCol,
        vecCol, r.threshold, r.sampleMod, r.margin)._2
    }
  }

  /** The full retrain decision of [[rebuildIfUnhealthy]]: which of the
    * three measured bells rang (any one triggers the rebuild), the
    * numbers each was judged against, the FRESH index's health when a
    * rebuild ran (`post` — how the caller sees whether the rebuild
    * actually cleared the bell or the corpus itself is the problem),
    * and — when a rebuild fired with a [[RecalSpec]] — the fresh
    * calibration.
    */
  final case class UnhealthyDecision(
      triggered: Boolean, driftTriggered: Boolean, skewTriggered: Boolean,
      collapseTriggered: Boolean, driftBaseline: Double, driftLast: Double,
      maxClusterFrac: Double, nClusters: Int, autoNlist: Int,
      recalibration: Option[DeconCalibration],
      post: Option[Health] = None)

  /** The ONE statement of [[rebuildIfUnhealthy]]'s parameter bounds —
    * including the build params a FIRED rebuild forwards (nlist/m/k/
    * iters/sampleMod, with `pqTrainResidual`'s m-divides-dim rule
    * mirrored so an explicit non-divisor m fails before any work).
    * The function itself validates through this, and
    * [[graft.streaming.Streams.RebuildPolicy]] calls it at CONSTRUCTION,
    * so the sink-policy mirror can never drift from the callee chain.
    */
  private[graft] def requireRebuildParams(driftFactor: Double,
      skewCostMultiple: Double, collapseFactor: Double, rearmFactor: Double,
      dim: Int, nlist: Int, coarseIters: Int, m: Int, k: Int, pqIters: Int,
      sampleMod: Option[Int]): Unit = {
    require(driftFactor > 0, s"driftFactor must be > 0, got $driftFactor")
    require(skewCostMultiple > 1,
      s"skewCostMultiple must be > 1, got $skewCostMultiple")
    require(collapseFactor > 1,
      s"collapseFactor must be > 1, got $collapseFactor")
    Clapper.requireRearm(rearmFactor)
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(nlist >= 0, s"nlist must be >= 0 (0 = auto sqrt(n)), got $nlist")
    require(m >= 0, s"m must be >= 0 (0 = auto dim/2), got $m")
    require(m == 0 || dim % m == 0,
      s"dim $dim must divide into m=$m subspaces (pqTrainResidual's rule)")
    require(k >= 0, s"k must be >= 0 (0 = stored geometry), got $k")
    require(coarseIters >= 0,
      s"coarseIters must be >= 0 (0 = seeds only), got $coarseIters")
    require(pqIters >= 0,
      s"pqIters must be >= 0 (0 = seeds only), got $pqIters")
    sampleMod.foreach(sm =>
      require(sm >= 1, s"sampleMod must be >= 1, got $sm"))
  }

  /** [[rebuildIfDrifted]] widened to ALL of [[health]]'s measured alert
    * levels — the r16 verdict's open edge was that the geometry-collapse
    * bell (`autoNlist` ≫ `nClusters`) had no clapper: a collapsed or
    * outgrown geometry silently turns every probe into a near-full scan
    * even with ZERO drift, because appends never add clusters. Three
    * triggers, any one rebuilds (measured in BENCH_LOCAL_r16.md §4,
    * 20k-code healthskew battery):
    *
    *   - DRIFT: `driftLast ≥ driftFactor × driftBaseline` (zero-baseline
    *     positive-drift included) — [[rebuildIfDrifted]]'s bell verbatim.
    *   - SKEW: `maxClusterFrac × nClusters ≥ skewCostMultiple` — the hot
    *     probe scans that multiple of a balanced probe's share. Default
    *     16: ×14.8 measured +3% latency (noise), ×34 measured +46%.
    *   - COLLAPSE: `autoNlist ≥ collapseFactor × nClusters` — today's
    *     ⌈√n⌉ build target vs the stored cluster count. Default 2:
    *     ratio 1.16 measured +3% (no page); the 80% flood collapsed
    *     142 → 20 (ratio 7.1, +60%), and a corpus grown 4× past its
    *     build reaches 2 by pure append growth — both are exactly "the
    *     geometry no longer matches the corpus".
    *
    * The rebuild is [[rebuildIfDrifted]]'s action verbatim: fresh
    * quantizers from `corpus` at today's auto nlist (explicit nlist
    * wins), STORED code geometry preserved (m/k are a storage contract),
    * fresh drift baseline, optional recalibration. Re-arming caveat the
    * flood battery makes explicit: the collapse was CAUSED by duplicate
    * vectors merging k-means centroids, so a rebuild from a still-flooded
    * corpus re-collapses — the fix for a flood is upstream dedup (the
    * ingest gates / [[Similarity.semDedup]]), and this clapper is the
    * signal that it was skipped; after the dedup, rebuild from the
    * CLEANED corpus restores ⌈√n⌉ geometry (AnnIndexSpec pins exactly
    * that sequence).
    *
    * THRASH GUARD (the drift bell's baseline-reset idea, applied to
    * geometry): a rebuild the corpus itself defeats must not re-fire on
    * every ask of a per-batch cadence — that would multiply ingest cost
    * by the build cost forever. After any rebuild here, the FRESH
    * index's skew cost-multiple and collapse ratio are persisted as the
    * geometry baseline (`{name}_geom_base`), and the skew/collapse bells
    * additionally require their signal to exceed `rearmFactor` × that
    * baseline (default 1.25 — re-ring only when things got measurably
    * WORSE than the best a rebuild could do). A rebuild that fixed the
    * geometry writes a low baseline, so the bell re-arms fully; a futile
    * one writes ≈ the ringing value, disarming the repeat. Inspect
    * `post` to see which happened. `rearmFactor = 0` disables the gate
    * (absolute bars only — the escape hatch for "I cleaned the corpus,
    * rebuild NOW"). Drift keeps its own baseline-reset re-arming and
    * ignores this gate. An empty index (nCodes = 0) never triggers on
    * skew/collapse — there is no geometry to judge.
    */
  def rebuildIfUnhealthy(store: TableStore, name: String, corpus: DataFrame,
      idCol: String, vecCol: String, dim: Int, driftFactor: Double = 2.0,
      skewCostMultiple: Double = 16.0, collapseFactor: Double = 2.0,
      rearmFactor: Double = 1.25,
      nlist: Int = 0, coarseIters: Int = 2, m: Int = 0, k: Int = 0,
      pqIters: Int = 2, sampleMod: Option[Int] = None,
      recal: Option[RecalSpec] = None): UnhealthyDecision = {
    requireRebuildParams(driftFactor, skewCostMultiple, collapseFactor,
      rearmFactor, dim, nlist, coarseIters, m, k, pqIters, sampleMod)
    val spark = corpus.sparkSession
    import spark.implicits._
    val h = health(store, name)
    val costNow = h.maxClusterFrac * h.nClusters
    val ratioNow =
      if (h.nClusters == 0) 0.0 else h.autoNlist.toDouble / h.nClusters
    val base: Option[(Double, Double)] =
      if (rearmFactor == 0 || !store.exists(geomBaseT(name))) None
      else {
        val r = store.read(geomBaseT(name)).collect()(0)
        Some((r.getDouble(r.fieldIndex("cost_multiple")),
          r.getDouble(r.fieldIndex("collapse_ratio"))))
      }
    val drift = driftTriggered(h, driftFactor)
    val skew = Clapper.rings(costNow, skewCostMultiple, base.map(_._1),
      rearmFactor, live = h.nCodes > 0)
    val collapse = Clapper.rings(ratioNow, collapseFactor, base.map(_._2),
      rearmFactor, live = h.nCodes > 0)
    val any = drift || skew || collapse
    if (!any)
      UnhealthyDecision(triggered = false, drift, skew, collapse,
        h.driftBaseline, h.driftLast, h.maxClusterFrac, h.nClusters,
        h.autoNlist, None)
    else {
      val cal = rebuildNow(store, name, corpus, idCol, vecCol, dim, nlist,
        coarseIters, m, k, pqIters, sampleMod, recal)
      val h2 = health(store, name)
      store.overwrite(geomBaseT(name),
        Seq((h2.maxClusterFrac * h2.nClusters,
          if (h2.nClusters == 0) 0.0 else h2.autoNlist.toDouble / h2.nClusters))
          .toDF("cost_multiple", "collapse_ratio"))
      UnhealthyDecision(triggered = true, drift, skew, collapse,
        h.driftBaseline, h.driftLast, h.maxClusterFrac, h.nClusters,
        h.autoNlist, cal, post = Some(h2))
    }
  }
  private def geomBaseT(name: String) = s"${name}_geom_base"
}
