package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** ANN quality/latency harness (BENCH_LOCAL datapoints, not the driver
  * bench): PQ recall@10 and true-NN MRR at m ∈ {8, 16} on the original
  * embeddings AND on the ±1-diagonal replicated corpus
  * ([[ScaleStress.expand]]). The replication preserves every within-replica
  * cosine EXACTLY while decorrelating replicas, so the big corpus carries
  * the same neighbor geometry per replica — recall measured there separates
  * "the corpus is diffuse" (every PQ cell is full of near-ties, any
  * codebook ranks noise) from "the implementation loses neighbors": the
  * planted near-dup pairs replicate per replica and their cosines dominate
  * the bulk, so a correct ADC ranking must surface them.
  *
  * Metrics are computed driver-side over the collected top-10 lists of 50
  * queries (500 rows — bounded by construction); wall time covers
  * train+encode+search end-to-end, min of `reps` passes.
  *
  * Runs as ScaleStress's `recall` mode:
  * `runMain graft.ScaleStress <sfDir> <workDir> [factor] [reps] recall
  * [driftonly|nprobeonly|m32only]`.
  */
object RecallBench {

  /** Flags that narrow the battery to one block. */
  val subModes: Set[String] = Set(
    "driftonly", // re-run just the §drift block
    "nprobeonly", // just the auto-geometry nprobe sweep
    "m32only") // just the codebook-capacity m-sweep

  /** `(query_id, neighbor_id, rnk)` of a search result, collected. */
  private def ranked(df: DataFrame): Array[(Long, Long, Int)] =
    df.select(col("query_id"), col("neighbor_id"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

  /** The battery over the original corpus in `sfDir` and its `factor`×
    * expansion in `expDir` ([[ScaleStress.expand]]); the drift index lives
    * in `workDir`. */
  def run(spark: SparkSession, sfDir: String, expDir: String, factor: Int,
      workDir: String, reps: Int, flags: Set[String]): Unit = {
    val driftOnly = flags("driftonly")
    val npOnly = flags("nprobeonly")
    val m32Only = flags("m32only")
    def timed(body: => Array[(Long, Long, Int)]) = Harness.time(reps)(body).get

    // third leg: the x1 corpus per-dimension STANDARDIZED (x31's transform)
    // — measures whether whitening-lite moves retrieval quality on this
    // corpus (ground truth recomputed in the standardized geometry, so the
    // leg is self-consistent)
    def standardized(dir: String) =
      graft.ext.Similarity.standardize(Td(spark, dir, "embeddings"), "embedding")
        .select(col("vec_id"), col("embedding_std").as("embedding"))
    for ((tag, embIn) <- (
        if (driftOnly) Seq.empty
        else if (m32Only) Seq(s"x$factor" -> Td(spark, expDir, "embeddings"))
        else Seq(
          "x1" -> Td(spark, sfDir, "embeddings"),
          s"x$factor" -> Td(spark, expDir, "embeddings"),
          "x1std" -> standardized(sfDir)))) {
      val emb = embIn
      emb.count() // warm footers
      val queries = emb.filter(col("vec_id") < 200)
      // ground truth once per corpus: exact cosine top-10 (with the cosine,
      // so the STRUCTURED subset — neighbors above the 0.45 near-dup bar —
      // can be scored separately from the diffuse tail)
      val exact = Similarity.knnBrute(queries, emb, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"), col("rnk"), col("cos"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      val exactTop10 = exact.groupBy(_._1).map { case (q, rs) =>
        q -> rs.map(_._2).toSet
      }
      val exactTop1 = exact.filter(_._3 == 1).map(r => r._1 -> r._2).toMap
      // (query, neighbor) pairs with real geometry: cosine ≥ 0.45 — the
      // planted near-dup structure a retrieval deployment must not lose.
      // On the expanded corpus the decorrelated replicas still produce
      // chance ≥0.45 cosines in the 3.6σ tail (dim 64 → σ ≈ 1/8, and the
      // top-10 of 200 queries samples 10M pairs), so the WITHIN-replica
      // subset (neighbor in the query's own replica, id < the replica
      // offset) is the real planted structure; the full set includes the
      // chance tail.
      val structured = exact.filter(_._4 >= 0.45).map(r => (r._1, r._2))
      val structuredWithin = structured.filter(_._2 < 100000000L)

      def report(variant: String, m: Int, k: Int,
          t: Harness.Timed[Array[(Long, Long, Int)]], bytes: Long = -1L): Unit = {
        val (approx, best) = (t.value, t.sec)
        val approxTop10 = approx.groupBy(_._1).map { case (q, rs) =>
          q -> rs.map(_._2).toSet
        }
        val approxRank = approx.map(r => (r._1, r._2) -> r._3).toMap
        val qs = exactTop10.keys.toSeq.sorted
        val recall = qs.map { q =>
          (exactTop10(q) & approxTop10.getOrElse(q, Set.empty)).size / 10.0
        }.sum / qs.size
        val mrr = qs.map { q =>
          approxRank.get((q, exactTop1(q))).map(1.0 / _).getOrElse(0.0)
        }.sum / qs.size
        def hitRate(ps: Array[(Long, Long)]): Double =
          if (ps.isEmpty) -1.0
          else ps.count(p => approxRank.contains(p)).toDouble / ps.length
        val bytesF = if (bytes >= 0) s""","index_bytes":$bytes""" else ""
        println(f"""{"recallbench":"$tag","variant":"$variant","m":$m,"k":$k,"queries":${qs.size},"recall_at_10":$recall%.3f,"true_nn_mrr":$mrr%.3f,"n_struct":${structured.length},"struct_recall":${hitRate(structured)}%.3f,"n_struct_within":${structuredWithin.length},"struct_within_recall":${hitRate(structuredWithin)}%.3f,"sec":$best%.2f$bytesF}""")
      }

      // (m, k) grid: m spans subspace count, k codebook resolution — the
      // registered s11/s12 point is (16, 16); (16, 64) asks whether lost
      // structure at scale is a RESOLUTION knob (log2(k) bits/subspace) or
      // an implementation defect
      if (!npOnly && !m32Only) for ((m, k) <- Seq((8, 16), (16, 16), (16, 64))) {
        report("unit", m, k, timed {
          val books = Similarity.pqTrain(emb, "vec_id", "embedding",
            dim = 64, m = m, k = k, iters = 2, sampleMod = Some(4))
          ranked(Similarity.pqSearch(queries, emb, "vec_id", "embedding", books, k = 10))
        })
      }

      // residual variant at the registered (16,16) point — same
      // bits/vector, codebooks trained on coarse-centroid residuals; all
      // 8 clusters probed so the comparison isolates codebook resolution
      // (no IVF recall loss in either column)
      if (!npOnly && !m32Only) {
        val (m, k) = (16, 16)
        report("residual", m, k, timed {
          val centroids = Similarity.kmeansTrain(emb, "vec_id", "embedding",
              k = 8, iters = 2)
            .select(col("centroid_id").cast("long").as("vec_id"), col("embedding"))
          val centers = Similarity.residualCenters(emb, centroids,
            "vec_id", "embedding")
          val books = Similarity.pqTrainResidual(emb, "vec_id", "embedding",
            centroids, centers, dim = 64, m = m, k = k, iters = 2, sampleMod = Some(4))
          val index = Similarity.pqEncodeResidual(emb, centroids, centers,
            "vec_id", "embedding", books)
          ranked(Similarity.ivfPqResidualSearch(queries, index, centroids,
            centers, "vec_id", "embedding", books, k = 10, nprobe = 8))
        })
      }

      // refined variant (IVFADC+R): the SAME residual pipeline, but the
      // ADC stage only proposes a kShort=50 shortlist and the top-10 comes
      // from refineExact's exact-cosine re-rank of those rows. Isolates
      // what the two-stage production shape buys: ADC error only has to
      // keep true neighbors in the top-50, not rank them — recall/MRR
      // should close most of the gap to exact at a per-query cost of 50
      // exact dots. Time covers train+encode+shortlist+refine (comparable
      // to the residual row).
      if (!npOnly && !m32Only) {
        val (m, k) = (16, 16)
        report("refined", m, k, timed {
          val centroids = Similarity.kmeansTrain(emb, "vec_id", "embedding",
              k = 8, iters = 2)
            .select(col("centroid_id").cast("long").as("vec_id"), col("embedding"))
          val centers = Similarity.residualCenters(emb, centroids,
            "vec_id", "embedding")
          val books = Similarity.pqTrainResidual(emb, "vec_id", "embedding",
            centroids, centers, dim = 64, m = m, k = k, iters = 2, sampleMod = Some(4))
          val index = Similarity.pqEncodeResidual(emb, centroids, centers,
            "vec_id", "embedding", books)
          val shortlist = Similarity.ivfPqResidualSearch(queries, index, centroids,
            centers, "vec_id", "embedding", books, k = 50, nprobe = 8)
          ranked(Similarity.refineExact(shortlist, queries, emb,
            "vec_id", "embedding", k = 10))
        })
      }

      // kShort sweep (r14 verdict item 3): the refined searcher's recall
      // dial is the shortlist size — how much recall each step of exact-
      // dot budget buys. Train+encode ONCE (staged, so the sweep never
      // re-encodes), then time ONLY shortlist+refine per kShort: the
      // reported sec is the query-time cost axis of the curve (per-query
      // exact dots = kShort by construction), recall the quality axis.
      if (!npOnly && !m32Only) {
        val (m, k) = (16, 16)
        val centroids = Similarity.kmeansTrain(emb, "vec_id", "embedding",
            k = 8, iters = 2)
          .select(col("centroid_id").cast("long").as("vec_id"), col("embedding"))
        val centers = Similarity.residualCenters(emb, centroids,
          "vec_id", "embedding")
        val books = Similarity.pqTrainResidual(emb, "vec_id", "embedding",
          centroids, centers, dim = 64, m = m, k = k, iters = 2, sampleMod = Some(4))
        val index = graft.tables.Scratch.stage(
          Similarity.pqEncodeResidual(emb, centroids, centers,
            "vec_id", "embedding", books), s"rb_idx_$tag")
        for (kShort <- Seq(25, 50, 100, 200)) {
          report(s"refined_k$kShort", m, k, timed {
            val shortlist = Similarity.ivfPqResidualSearch(queries, index,
              centroids, centers, "vec_id", "embedding", books,
              k = kShort, nprobe = 8)
            ranked(Similarity.refineExact(shortlist, queries, emb,
              "vec_id", "embedding", k = 10))
          })
        }
      }

      // CODEBOOK-CAPACITY m-sweep (r15 verdict item 2): the kShort curve
      // flattens at 0.767 (x10, kShort=200) — is the ceiling quantization
      // error (then doubling m, i.e. halving subspace width 64/m → 64/2m
      // dims at double the code bytes, should lift it) or the fixture's
      // diffuse cosine geometry (then m=32 recall stays put and the
      // ceiling is intrinsic)? Same residual+refine production shape as
      // the kShort sweep; index_bytes = n·m·log₂(k)/8 logical code bytes
      // so the capacity axis is in the row. Train+encode once per m.
      if (m32Only) {
        val n = emb.count()
        for (m <- Seq(16, 32)) {
          val k = 16
          val centroids = Similarity.kmeansTrain(emb, "vec_id", "embedding",
              k = 8, iters = 2)
            .select(col("centroid_id").cast("long").as("vec_id"), col("embedding"))
          val centers = Similarity.residualCenters(emb, centroids,
            "vec_id", "embedding")
          val books = Similarity.pqTrainResidual(emb, "vec_id", "embedding",
            centroids, centers, dim = 64, m = m, k = k, iters = 2,
            sampleMod = Some(4))
          val index = graft.tables.Scratch.stage(
            Similarity.pqEncodeResidual(emb, centroids, centers,
              "vec_id", "embedding", books), s"rb_m${m}_$tag")
          val bytes = n * m * 4 / 8 // log2(16) = 4 bits per code
          for (kShort <- Seq(100, 200)) {
            report(s"m${m}_k$kShort", m, k, timed {
              val shortlist = Similarity.ivfPqResidualSearch(queries, index,
                centroids, centers, "vec_id", "embedding", books,
                k = kShort, nprobe = 8)
              ranked(Similarity.refineExact(shortlist, queries, emb,
                "vec_id", "embedding", k = 10))
            }, bytes)
          }
        }
      }

      // AUTO-GEOMETRY nprobe sweep: AnnIndex.build's auto default (nlist =
      // ⌈√n⌉) shrinks clusters as the corpus grows, so a FIXED nprobe
      // probes a falling fraction of the corpus — the flip side of the
      // √n codes-per-search win the annonly battery measures. This sweeps
      // nprobe at the auto geometry (refined search, kShort = the
      // measured default 100) so the recall cost of each probed fraction
      // is a recorded curve, not a surprise: per-query scanned codes =
      // nprobe·n/nlist ≈ nprobe·√n by construction. m = 16 is the r15
      // curve (kept label-compatible); m = 32 re-measures it at the NEW
      // auto build default (dim/2) — the recall the auto defaults
      // actually deliver per probed fraction.
      if (!m32Only) for (m <- Seq(16, 32)) {
        val k = 16
        val nlist = math.max(1,
          math.ceil(math.sqrt(emb.count().toDouble)).toInt)
        val centroids = Similarity.kmeansTrain(emb, "vec_id", "embedding",
            k = nlist, iters = 2, sampleMod = Some(4))
          .select(col("centroid_id").cast("long").as("vec_id"), col("embedding"))
        val centers = Similarity.residualCenters(emb, centroids,
          "vec_id", "embedding")
        val books = Similarity.pqTrainResidual(emb, "vec_id", "embedding",
          centroids, centers, dim = 64, m = m, k = k, iters = 2, sampleMod = Some(4))
        val index = graft.tables.Scratch.stage(
          Similarity.pqEncodeResidual(emb, centroids, centers,
            "vec_id", "embedding", books), s"rb_anp_m${m}_$tag")
        for (nprobe <- (Seq(2, 4, 8, 16, 32).filter(_ < nlist) :+ nlist)) {
          val label = if (m == 16) s"auto_nl${nlist}_np$nprobe"
            else s"auto_m32_nl${nlist}_np$nprobe"
          report(label, m, k, timed {
            val shortlist = Similarity.ivfPqResidualSearch(queries, index,
              centroids, centers, "vec_id", "embedding", books,
              k = 100, nprobe = nprobe)
            ranked(Similarity.refineExact(shortlist, queries, emb,
              "vec_id", "embedding", k = 10))
          })
        }
      }
    }

    // Drift-metric ↔ recall correlation (r14 verdict item 7): the
    // AnnIndex drift record claims a mean_err magnitude jump is the
    // retrain bell — this measures the thing the bell warns about. Build
    // the durable index on the ORIGINAL corpus, append replica 1 of the
    // ScaleStress expansion (the ±1-diagonal decorrelates it from
    // everything the quantizers trained on — a maximal distribution
    // drift with EXACTLY preserved within-replica neighbor geometry),
    // then search with nprobe = nlist so probe loss is zero and any
    // recall gap is pure quantization error. Expected and measured: the
    // drifted append's mean_err lands far above the build baseline, and
    // recall@10 for drifted-slice queries lands far below in-distribution
    // queries on the same index — the metric moves when and only when
    // the quality does.
    if (!npOnly && !m32Only) {
      import graft.ext.AnnIndex
      import graft.tables.TableStore
      val Off = 100000000L // ScaleStress replica id offset
      val store = new TableStore(spark, s"$workDir/driftstore")
      val x1 = Td(spark, sfDir, "embeddings")
      // mild drift: the ±1-diagonal replica — decorrelated from the
      // trained centroids, but this corpus is mostly isotropic already,
      // so a rotation barely changes the residual statistics (measured
      // +12% mean_err). Strong drift: the STANDARDIZED geometry (per-dim
      // rescale amplifies low-variance dims — a genuinely different
      // residual distribution), ids offset to 2·Off.
      val rep1 = Td(spark, expDir, "embeddings")
        .filter(col("vec_id") >= Off && col("vec_id") < 2L * Off)
        .select(col("vec_id"), col("embedding"))
      val std = standardized(sfDir)
        .select((col("vec_id") + 2L * Off).as("vec_id"), col("embedding"))
      AnnIndex.build(store, "drift_ann", x1, "vec_id", "embedding",
        dim = 64, nlist = 8, coarseIters = 2, m = 16, k = 16, pqIters = 2,
        sampleMod = Some(4))
      AnnIndex.append(store, "drift_ann", rep1, "vec_id", "embedding")
      AnnIndex.append(store, "drift_ann", std, "vec_id", "embedding")
      val d = AnnIndex.drift(store, "drift_ann")
        .select(col("seq"), col("mean_err")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val union = x1.select(col("vec_id"), col("embedding"))
        .unionByName(rep1).unionByName(std)
      val slices = Seq(
        "in_dist" -> x1.filter(col("vec_id") < 100),
        "drifted" -> rep1.filter(col("vec_id") - Off < 100),
        "drifted_std" -> std.filter(col("vec_id") - 2L * Off < 100))
      val recalls = slices.map { case (qtag, qs) =>
        val exact = Similarity.knnBrute(qs, union, "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("neighbor_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
        val approx = AnnIndex.search(store, "drift_ann", qs,
            "vec_id", "embedding", k = 10, nprobe = 8)
          .select(col("query_id"), col("neighbor_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
        val qids = exact.keys.toSeq.sorted
        val rec = qids.map(q =>
          (exact(q) & approx.getOrElse(q, Set.empty)).size / 10.0).sum / qids.size
        qtag -> rec
      }.toMap
      println(f"""{"driftbench":"correlation","build_err":${d(0L)}%.6f,"append_err_mild":${d(1L)}%.6f,"append_err_strong":${d(2L)}%.6f,"recall_in_dist":${recalls("in_dist")}%.3f,"recall_drifted_mild":${recalls("drifted")}%.3f,"recall_drifted_strong":${recalls("drifted_std")}%.3f}""")
      // drift ↔ calibration coupling: the scrub's calibrated nprobe over
      // the SAME frozen quantizers, measured on the pre-drift corpus vs
      // the corpus with both drifted appends — does quantizer-corpus
      // mismatch widen the probe count the exact-parity scrub needs?
      // (full-slice calibration, so each chosen nprobe is provably
      // minimal for its corpus, not sampling noise)
      val evalQ = x1.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"), col("embedding"))
      def calOn(train: org.apache.spark.sql.DataFrame, tag: String): Unit = {
        val (scrub, cal) = AnnIndex.decontaminateCalibrated(store, "drift_ann",
          train.filter(!(col("vec_id") % 10 === 0)), evalQ,
          "vec_id", "embedding", threshold = 0.45, sampleMod = 1, margin = 0)
        val hits = scrub.count()
        println(s"""{"driftbench":"cal_$tag","nprobe":${cal.nprobe},"nlist":${cal.nlist},"checks":${cal.checks},"pairs":${cal.slicePairs},"hit_rows":$hits}""")
      }
      calOn(x1.select(col("vec_id"), col("embedding")), "in_dist")
      calOn(union, "drifted")
    }
  }
}
