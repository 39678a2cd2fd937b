package graft.ext

import graft.tables.Scratch
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash. (Embedding-cosine near-dup lives in
  * [[Similarity]] — it shares the vector machinery.)
  *
  * Scale design (the point at 100 TB):
  *   - exact dedup: one hash-shuffle on a 32-byte digest, never on the text.
  *   - pairwise Jaccard is O(n²) in documents — NEVER all-pairs at scale.
  *     The shingle inverted index (`shingleIndex` self-join) only pairs
  *     documents sharing ≥1 shingle; MinHash+LSH (`minhashCandidates`)
  *     reduces that further to band-bucket collisions: cost ~
  *     O(docs × bands), the standard sub-quadratic route (Broder '97,
  *     Leskovec MMDS ch.3).
  *   - SimHash: near-dup via Hamming distance on a 64-bit sketch; the
  *     4-chunk pigeonhole bucket join finds all pairs with Hamming ≤ 3
  *     without an all-pairs pass (Manku et al., WWW'07).
  *   - hot buckets (m near-identical docs — boilerplate, the normal case at
  *     corpus scale) are capped: over `bucketCap` members, star-pair with
  *     the min-id representative — O(m) pairs, group stays connected.
  *
  * Everything is Column-expression work + hash-partitioned joins/aggs — no
  * UDFs, no driver-side loops; md5 is used as the shared hash so the DuckDB
  * oracle reproduces results bit-for-bit.
  */
object Dedup {

  /** Exact duplicate groups keyed by content digest: keep-id = min doc id.
    * The groupBy shuffles 32-byte digests + ids only — at 100 TB the text
    * column is pruned from the exchange.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct word n-gram shingles of `textCol`, one row per (id, shingle).
    * Shingling is the unit for both Jaccard and MinHash.
    */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    // native one-pass expression; ≡ array_distinct(transform(sequence(…),
    // i -> array_join(slice(toks, i, n), " "))) with whole-text fallback,
    // minus the interpreted per-element lambda chain
    val sh = org.apache.spark.sql.graft.WordShingles.shingles(
      TextAnalysis.wsTokens(col(textCol)), n)
    // NOT fanned here ([[Fan]]): the md5-heavy consumers fan their OWN
    // input by id (minhashSignature*, simhash) — which both parallelizes
    // the hash work and pre-satisfies their groupBy(id) distribution —
    // while shingle-keyed consumers (contamination, df-caps, jaccard
    // self-joins) reshuffle by shingle anyway, where a text-level fan
    // measured as a pure extra exchange (c4 2.87 → 3.45 s)
    df.select(col(idCol), explode(sh).as("shingle"))
  }

  /** Distinct character q-gram shingles — the shingling unit for content
    * without meaningful whitespace tokens: source code, URLs, DNA-ish
    * strings, CJK text. Same (id, shingle) contract as [[shingleIndex]],
    * so every consumer composes unchanged: [[jaccardPairs]],
    * [[minhashSignature]]/[[minhashCandidates]] (the LSH scale path), and
    * [[contamination]]-style inverted-index joins. Texts shorter than `q`
    * fall back to one whole-text shingle, mirroring [[shingleIndex]]'s
    * short-doc fallback. Both engines slice characters (`substr` is
    * char-based in Spark and DuckDB alike), so the oracle twin is exact
    * without an encoding assumption. This is also the shingle domain where
    * [[DedupIndex]]'s digest storage mode pays on SIZE: long/high-entropy
    * q-grams compress poorly as raw strings, while digests stay 16 bytes.
    */
  def charShingleIndex(df: DataFrame, idCol: String, textCol: String,
      q: Int = 12): DataFrame = {
    require(q >= 1, s"char shingle width must be >= 1, got $q")
    // native one-pass expression; ≡ array_distinct(transform(sequence(1,
    // greatest(length(text)-q+1, 1)), i -> substr(text, i, q))) — minus the
    // interpreted lambda chain whose captured substr re-walks the string's
    // UTF-8 bytes from offset 0 per element (O(len²) per document)
    val sh = org.apache.spark.sql.graft.CharShingles.shingles(col(textCol), q)
    // not fanned — same placement rationale as [[shingleIndex]]
    df.select(col(idCol), explode(sh).as("shingle"))
  }

  /** Pairwise n-gram Jaccard over an inverted shingle index: documents
    * sharing ≥1 shingle are paired (a<b), |∩| counted, sizes joined back.
    * Output: id_a, id_b, jaccard — filter at the caller's threshold.
    *
    * `maxDf` caps document frequency: shingles occurring in more than
    * `maxDf` docs (boilerplate, templates — the normal case in web-scale
    * corpora) are dropped from BOTH the intersection and the set sizes, so
    * jaccard stays a true set similarity over the retained shingles. Without
    * the cap a single hot shingle turns the self-join into O(df²) pairs on
    * one skewed key.
    */
  /** Shingle rows whose shingle's document frequency IN `dfSource` is ≤
    * `maxDf` — the ONE df-capping definition ([[jaccardPairs]] caps a
    * self-joined index against itself; [[contamination]] caps both sides
    * against the train index). The df-filter rides the same hash
    * partitioning on `shingle` the downstream join needs — one extra agg,
    * no extra exchange pattern.
    */
  private def dfCapped(sh: DataFrame, dfSource: DataFrame, maxDf: Int): DataFrame =
    if (maxDf == Int.MaxValue) sh
    else sh.join( // anti against the HOT list (not semi against the rare
      // list): rows whose shingle is absent from dfSource — e.g. eval-only
      // n-grams in [[contamination]] — must survive the cap
      dfSource.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
        .filter(col("_df") > maxDf).select("shingle"),
      Seq("shingle"), "left_anti")

  def jaccardPairs(shingles: DataFrame, idCol: String, maxDf: Int = Int.MaxValue): DataFrame = {
    val sh = dfCapped(shingles, shingles, maxDf)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    jaccardPairsWithSizes(sh, sizes, idCol)
  }

  /** [[jaccardPairs]] with precomputed per-doc distinct-shingle counts
    * (schema: idCol, n_sh) — e.g. the durable index's sizes table
    * ([[DedupIndex]]), saving the count-agg over the shingle rows. The
    * sizes frame must cover every doc in `sh` and count the SAME retained
    * shingle set (df-capping must be applied to both or neither).
    */
  def jaccardPairsWithSizes(sh: DataFrame, sizes: DataFrame, idCol: String): DataFrame =
    overlapCounts(sh, sizes, idCol)
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double")).as("jaccard"))

  /** Containment near-dup pairs: |A∩B| / min(|A|, |B|) ≥ threshold (the
    * containment coefficient / overlap coefficient) — catches SUBSET
    * duplication Jaccard misses: a short doc fully embedded in a longer one
    * (article + prepended boilerplate, excerpt + source, truncated
    * re-crawl) has containment 1.0 but Jaccard |A|/|B|, arbitrarily low as
    * the host grows. Same df-capped inverted-index join as [[jaccardPairs]]
    * — only the final normalization differs (min instead of union), and the
    * raw n_inter/n_a/n_b ride along so callers can re-threshold without
    * re-joining. Scale note: MinHash-LSH under-recalls containment (its
    * signature estimates Jaccard, and a small-in-big pair's Jaccard is
    * low), so the df-capped index join IS the scale path for this
    * predicate, exactly as for [[contamination]].
    */
  def containmentPairs(shingles: DataFrame, idCol: String,
      maxDf: Int = Int.MaxValue): DataFrame = {
    val sh = dfCapped(shingles, shingles, maxDf)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    overlapCounts(sh, sizes, idCol)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"), col("n_b"),
        (col("n_inter").cast("double") /
          least(col("n_a"), col("n_b")).cast("double")).as("containment"))
  }

  /** The shared inverted-index overlap core both normalizations select
    * from: (id_a < id_b, n_inter, n_a, n_b) — shingle equi-join, pair agg,
    * two size joins. [[jaccardPairsWithSizes]] divides by the union,
    * [[containmentPairs]] by the min; a skew hint or join-shape fix lands
    * here once for both.
    */
  private def overlapCounts(sh: DataFrame, sizes: DataFrame, idCol: String): DataFrame = {
    val a = sh.select(col(idCol).as("id_a"), col("shingle"))
    val b = sh.select(col(idCol).as("id_b"), col("shingle"))
    a.join(b, Seq("shingle")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col(idCol).as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
  }

  /** MinHash signature: sig_i = min over shingles of md5(i + ":" + shingle),
    * i ∈ [0, k). One hash-agg over the shingle index; k column-parallel mins
    * ride a single shuffle.
    */
  /** The k per-band MinHash aggregate columns — the ONE definition of the
    * hash family, shared by [[minhashSignature]] and
    * [[bandSignatureWithSize]] so the two can never drift.
    */
  private def sigAggCols(k: Int): Seq[Column] =
    (0 until k).map(i =>
      min(md5(concat(lit(s"$i:"), col("shingle")))).as(s"h$i"))

  /** [[Fan]] the shingle rows by id before the signature aggregation: a
    * one-split upstream would run all k·|shingle rows| md5s on one core
    * (measured 1.58 s → 0.4 s at sf0.1 on 32 cores), and because the fan's
    * hash partitioning IS the groupBy's required distribution, the agg
    * needs no second exchange — the md5s evaluate post-shuffle across the
    * full core count. Size-gated no-op at scale.
    */
  def minhashSignature(shingles: DataFrame, idCol: String, k: Int = 12): DataFrame =
    Fan.out(shingles, col(idCol)).groupBy(col(idCol))
      .agg(sigAggCols(k).head, sigAggCols(k).tail: _*)

  /** [[minhashSignature]] PLUS the per-doc distinct-shingle count, from the
    * SAME aggregation, narrowed to what a durable index keeps: (id, n_sh,
    * bucket_0..bucket_{bands-1}), each band's k/bands minima folded into
    * its bucket md5 inside the aggregation's output projection. A
    * durable-index build/probe needs both the size table and the band rows
    * — computing them as two aggregations scans the shingle rows twice and
    * runs two shuffle jobs for what one hash-agg produces in one pass
    * (guide §2.4: two operations keyed the same way share one exchange) —
    * and neither reads the minima themselves, so a stage of this frame is
    * a third of the full signature's width at 12 hashes in 3 bands. The
    * band and size rows are projections of it ([[bandRows]], `select(id,
    * n_sh)`).
    */
  private[ext] def bandSignatureWithSize(shingles: DataFrame, idCol: String,
      k: Int, bands: Int): DataFrame =
    // no Fan here: both callers ([[DedupIndex.build]]/[[DedupIndex
    // .probeIncrement]]) fan their shingle PLAN's input by the same id, and
    // that partitioning flows through the explode to satisfy this groupBy —
    // a second fan would be an extra back-to-back exchange the optimizer
    // cannot collapse across the Generate (measured: it inverted d10's win
    // into a loss)
    shingles.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_sh"), sigAggCols(k): _*)
      .select(col(idCol) +: col("n_sh") +: (0 until bands).map(b =>
        bucketOf(b, k / bands).as(s"bucket_$b")): _*)

  /** The (id, band, bucket) rows of a [[bandSignatureWithSize]] frame —
    * exactly [[bandBuckets]] of the full signature. */
  private[ext] def bandRows(bandSig: DataFrame, idCol: String, bands: Int): DataFrame =
    explodeBands(bandSig, idCol, (0 until bands).map(b => col(s"bucket_$b")))

  /** LSH candidate pairs: signatures split into `bands` bands of `rows`
    * hashes; docs sharing any band bucket become candidates (a<b, distinct).
    *
    * `bucketCap` bounds the quadratic blowup on hot buckets: a bucket of m
    * near-identical docs (boilerplate) would emit m(m−1)/2 pairs on ONE
    * skewed key on ONE executor. Buckets over the cap instead star-pair
    * every member with the bucket representative (min id) — O(m) pairs that
    * keep the duplicate group connected for the usual connected-components
    * consumption. The cost is recall on non-rep cross pairs: a downstream
    * verify (e.g. [[minhashDedup]]'s jaccard threshold) sees only
    * (rep, member) pairs from a hot bucket, so two docs similar to each
    * other but not to the rep can drop out. Size the cap above legitimate
    * duplicate-group sizes; `Int.MaxValue` disables the tradeoff.
    */
  /** Explode a signature table into (id, band, bucket): bucket = md5 of the
    * band's concatenated hash slots.
    */
  private[ext] def bandBuckets(sig: DataFrame, idCol: String, bands: Int, rows: Int): DataFrame =
    explodeBands(sig, idCol, (0 until bands).map(b => bucketOf(b, rows)))

  /** Band `b`'s bucket: md5 of its `rows` concatenated hash slots. */
  private def bucketOf(b: Int, rows: Int): Column =
    md5(concat_ws("|", (0 until rows).map(r => col(s"h${b * rows + r}")): _*))

  /** One (id, band, bucket) row per band of each doc, bucket `b` being
    * `buckets(b)`. */
  private def explodeBands(df: DataFrame, idCol: String, buckets: Seq[Column]): DataFrame = {
    val bandCols = buckets.zipWithIndex.map { case (bk, b) =>
      struct(lit(b).as("band"), bk.as("bucket"))
    }
    df.select(col(idCol), explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"))
  }

  def minhashCandidates(sig: DataFrame, idCol: String, bands: Int = 3, rows: Int = 4,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    // the capped path references the exploded index several times (hot
    // detection, small self-join, star pairs) and Spark re-evaluates a
    // shared subtree per reference — stage the per-doc signature table
    // (one narrow row per doc) so each pass scans cheap parquet instead of
    // recomputing shingles + k MinHash aggs (the c1 stage-table pattern)
    val sigS = if (bucketCap == Int.MaxValue) sig else Scratch.stage(sig, "mh_sig_stage")
    val exploded = bandBuckets(sigS, idCol, bands, rows)
    cappedPairs(exploded, idCol, Seq("band", "bucket"), bucketCap, Nil)
      .select("id_a", "id_b").distinct()
  }

  /** Duplicate-group formation: connected components over an undirected
    * near-dup pair set (the standard consumption of [[minhashDedup]] /
    * [[simhashPairs]] output — group duplicates, keep one canonical doc).
    *
    * Fixed-iteration min-label propagation: every node starts labeled with
    * its own id; each round takes the min over its own and its neighbors'
    * labels. After `iters` rounds every component of diameter ≤ `iters`
    * is uniformly labeled with its min member id. Iterations are exact
    * integer min-aggregations — deterministic, engine-independent, and
    * replayable as unrolled SQL CTEs (the oracle runs the identical
    * rounds, converged or not).
    *
    * Scale: each round is one shuffle on the node id (edges pre-projected
    * both directions); near-dup components are boilerplate clusters with
    * tiny diameters, so a handful of rounds suffices — the giant-diameter
    * adversary (a long chain) needs the large-star/small-star family
    * instead, which trades determinism for O(log n) rounds. The pair set
    * is staged once so each round scans parquet, not the dedup pipeline.
    */
  def components(pairs: DataFrame, iters: Int = 8): DataFrame = {
    val p = Scratch.stage(pairs.select(col("id_a"), col("id_b")), "cc_pairs_stage")
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    val nodes = edges.select(col("src").as("id")).distinct()
    var labels = nodes.select(col("id"), col("id").as("label"))
    for (i <- 1 to iters) {
      val viaNbr = edges
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .select(col("src").as("id"), col("label"))
      labels = labels.union(viaNbr)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
      // stage every other round: keeps the lineage (and its re-execution
      // cost under Spark's per-reference recompute) from growing
      // geometrically with the iteration count
      if (i % 2 == 0 && i < iters) labels = Scratch.stage(labels, "cc_labels_stage")
    }
    labels
  }

  /** Connected components to convergence — the adversarial-diameter variant
    * of [[components]] (same input/output contract: pairs in, (id, label =
    * component min id) out). Each round does min-label propagation over the
    * edges PLUS a pointer jump (label := the label's own label — labels are
    * node ids, so the self-join always resolves). The jump halves the
    * remaining label-chain length every round, so a path graph of n nodes
    * converges in O(log n) rounds instead of n — the large-star/small-star
    * complexity class (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) with the same per-round shape this file already
    * uses: hash-shuffled joins and min-aggs, no driver-side graph.
    *
    * Convergence is detected exactly: labels only ever decrease, so the
    * exact decimal SUM of labels strictly decreases until the fixpoint —
    * equal consecutive sums ⇔ converged. That probe is one action per
    * round (each round is staged anyway, keeping lineage flat), which makes
    * this variant driver-interactive rather than single-plan — use
    * [[components]] when the result must be replayable as unrolled SQL; use
    * this when the graph's diameter is unknown.
    */
  def componentsConverged(pairs: DataFrame, maxRounds: Int = 30): DataFrame = {
    val p = Scratch.stage(pairs.select(col("id_a"), col("id_b")), "ccs_pairs_stage")
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    val nodes = edges.select(col("src").as("id")).distinct()
    var labels = Scratch.stage(nodes.select(col("id"), col("id").as("label")), "ccs_labels_stage")
    var prevSum: Option[java.math.BigDecimal] = None
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val viaNbr = edges
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .select(col("src").as("id"), col("label"))
      val prop = labels.union(viaNbr)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
      val jumped = prop.alias("a")
        .join(prop.select(col("id").as("_lid"), col("label").as("_llabel")),
          col("a.label") === col("_lid"), "left")
        .select(col("a.id").as("id"),
          least(col("a.label"), coalesce(col("_llabel"), col("a.label"))).as("label"))
      labels = Scratch.stage(jumped, "ccs_labels_stage")
      val s = labels.agg(sum(col("label").cast("decimal(38,0)")).as("s")).head.getDecimal(0)
      converged = prevSum.contains(s)
      prevSum = Some(s)
      round += 1
    }
    // "to convergence" is the contract: exhausting maxRounds without the
    // label-sum fixpoint means the returned labels may still be coarse
    if (!converged) throw new IllegalStateException(
      s"componentsConverged: label fixpoint not reached after $maxRounds rounds " +
        "(pointer-jumped diameter exceeds 2^maxRounds); raise maxRounds")
    labels
  }

  /** Bucket-join pairing with a hot-bucket cap: buckets of size ≤ cap emit
    * all (a<b) pairs via self-join; larger buckets emit only (rep, member)
    * star pairs, rep = min id.
    *
    * Hot buckets are found with a partial-aggregated groupBy (map-side
    * combine) and joined back, so the common no-hot-bucket case pays one
    * cheap agg and an anti-join instead of a full window sort over the
    * exploded index. The hot list is usually tiny (AQE picks a broadcast
    * join at runtime) but is NOT hint-broadcast: in a boilerplate-heavy
    * corpus it can reach n/cap buckets, where a forced broadcast would
    * OOM and the shuffled anti-join rides the self-join's partitioning
    * anyway. `carry` maps payload columns to per-side output names
    * (e.g. "simhash" → ("sh_a","sh_b")).
    */
  private def cappedPairs(ex: DataFrame, idCol: String, keys: Seq[String], cap: Int,
      carry: Seq[(String, (String, String))],
      emitKeys: Seq[String] = Nil): DataFrame = {
    def aSideOf(df: DataFrame) = df.select((col(idCol).as("id_a") +: keys.map(col)) ++
      carry.map { case (c, (an, _)) => col(c).as(an) }: _*)
    def bSideOf(df: DataFrame) = df.select((col(idCol).as("id_b") +: keys.map(col)) ++
      carry.map { case (c, (_, bn)) => col(c).as(bn) }: _*)
    // emitKeys (a subset of the join keys, equal on both sides by
    // construction) pass through under their own names — the one-sided
    // form a scoped caller needs, with no duplicate carry
    val outCols = Seq("id_a", "id_b") ++ emitKeys ++
      carry.flatMap { case (_, (an, bn)) => Seq(an, bn) }
    if (cap == Int.MaxValue)
      aSideOf(ex).join(bSideOf(ex), keys).filter(col("id_a") < col("id_b"))
        .select(outCols.map(col): _*)
    else {
      val hot = ex.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("_sz"), min(col(idCol)).as("_rep"))
        .filter(col("_sz") > cap)
        .select(keys.map(col) :+ col("_rep"): _*)
      val small = ex.join(hot.select(keys.map(col): _*), keys, "left_anti")
      val smallPairs = aSideOf(small).join(bSideOf(small), keys)
        .filter(col("id_a") < col("id_b"))
        .select(outCols.map(col): _*)
      // hot buckets: (rep, member) star pairs; the rep's carried payload
      // comes from its own exploded row (tiny — one per hot bucket)
      val members = ex.join(hot, keys).filter(col(idCol) =!= col("_rep"))
      val bigPairs =
        if (carry.isEmpty)
          members.select(col("_rep").as("id_a") +: col(idCol).as("id_b") +:
              keys.map(col): _*)
            .select(outCols.map(col): _*)
        else {
          val repPayload = ex.join(hot, keys)
            .filter(col(idCol) === col("_rep"))
            .select((keys.map(col) :+ col(idCol).as("id_a")) ++
              carry.map { case (c, (an, _)) => col(c).as(an) }: _*)
            .dropDuplicates(keys :+ "id_a")
          members.select((col("_rep").as("id_a") +: col(idCol).as("id_b") +: keys.map(col)) ++
              carry.map { case (c, (_, bn)) => col(c).as(bn) }: _*)
            .join(repPayload, keys :+ "id_a")
            .select(outCols.map(col): _*)
        }
      smallPairs.union(bigPairs)
    }
  }

  /** Probe-vs-index capped candidate pairs — the probe-side analog of
    * [[cappedPairs]]. Each probe band row joins its index bucket; buckets
    * over `cap` members instead pair the probe with the bucket
    * representative only (min id): O(1) fan-out per probe row on a hot
    * bucket, where the uncapped join emits one candidate per member — the
    * unbounded |inc|×m blow-up an incremental run hits when the stored
    * corpus carries a boilerplate flood. Connectivity contract (weaker than
    * [[cappedPairs]]'s, be precise): each PROBE is linked to the hot
    * bucket's rep — stored members beyond the rep get no pair from THIS
    * run. That suffices in the incremental steady state, where every stored
    * member was once an increment and earned its own (member, rep) link in
    * its own run; on a freshly built index whose history must also be
    * retired, run the batch [[minhashDedup]] with its cap once instead.
    * The bucket stats come from one partial-aggregated pass over the
    * narrow index (at scale, maintain them incrementally next to the
    * index itself). Output: distinct (id_a < id_b).
    */
  /** `distinctStats = true` counts each doc ONCE per bucket in the cap
    * stats — required when `index` can carry duplicate band rows (the
    * durable index after a crashed-and-replayed commit: residue rows would
    * otherwise inflate `_sz` past the cap at the edge, flipping a bucket to
    * rep-star pairing and silently dropping true pairs). Self-join paths
    * whose index is freshly computed can keep the cheaper plain count.
    */
  private[ext] def probeCappedPairs(probe: DataFrame, index: DataFrame,
      idCol: String, cap: Int, distinctStats: Boolean = false): DataFrame = {
    val keys = Seq("band", "bucket")
    val p = probe.select(col(idCol).as("_x"), col("band"), col("bucket"))
    val ix = index.select(col(idCol).as("_y"), col("band"), col("bucket"))
    val pairs =
      if (cap == Int.MaxValue) p.join(ix, keys)
      else {
        val sz = if (distinctStats) countDistinct(col(idCol)) else count(lit(1))
        val stats = index.groupBy(keys.map(col): _*)
          .agg(sz.as("_sz"), min(col(idCol)).as("_rep"))
        val pj = p.join(stats, keys) // one row per probe band row
        pj.filter(col("_sz") <= cap).select(col("_x"), col("band"), col("bucket"))
          .join(ix, keys)
          .select("_x", "_y")
          .union(pj.filter(col("_sz") > cap).select(col("_x"), col("_rep").as("_y")))
      }
    pairs.filter(col("_x") =!= col("_y"))
      .select(least(col("_x"), col("_y")).as("id_a"),
        greatest(col("_x"), col("_y")).as("id_b"))
      .distinct()
  }

  /** MinHash-LSH near-dup pairs, verified: candidates from band collisions,
    * then exact Jaccard computed ONLY for candidate pairs — the shingle
    * index is first semi-join-pruned to candidate docs, so the verify
    * join touches a vanishing fraction of the corpus (this restriction is
    * the entire point of LSH at scale; verifying all co-shingle pairs would
    * re-introduce the quadratic cost LSH exists to avoid).
    */
  def minhashDedup(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 12, bands: Int = 3, threshold: Double = 0.8,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    // deliberately recomputed per reference: the shingle index is cheap
    // per-row map work (native WordShingles). Block-manager caching LOSES
    // (11.6s vs 8.6s at sf0.1 — row serialization of text beats recompute)
    // and a parquet scratch stage measured neutral-to-worse too (write
    // cost ≈ three recomputes) — unlike the regex-heavy c1 intermediate,
    // where staging wins.
    val sh = shingleIndex(df, idCol, textCol, n)
    // candidate pairs are referenced three times (both candDocs
    // projections + the final verify semi-join) and the candidate-pruned
    // shingle table three more inside jaccardPairs (sizes + both join
    // sides) — stage both: they are tiny (candidates only), so one small
    // write replaces repeated recomputes of the LSH band join and of the
    // full shingle index + semi-join
    val cands = Scratch.stage(
      minhashCandidates(minhashSignature(sh, idCol, k), idCol, bands, k / bands, bucketCap),
      "mh_cands_stage")
    val candDocs = cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol))).distinct()
    val shCand = Scratch.stage(sh.join(broadcast(candDocs), Seq(idCol), "left_semi"),
      "mh_shcand_stage")
    jaccardPairs(shCand, idCol)
      .join(cands, Seq("id_a", "id_b"), "left_semi")
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental MinHash-LSH dedup: verified near-dup pairs TOUCHING the
    * increment — new docs against the existing corpus and against each
    * other — without re-pairing the base corpus with itself. This is the
    * daily-crawl-against-history shape: the band-bucket index over
    * base ∪ increment is the reusable artifact (staged here; at scale it
    * persists across runs and the base share is append-only), and
    * candidate generation joins only the increment's bucket rows against
    * it — cost O(|inc| × bands) bucket probes, independent of |base|²
    * (pairing the whole corpus per crawl is exactly what an incremental
    * pipeline exists to avoid). Verification then prices only candidate
    * docs, as in [[minhashDedup]].
    *
    * Output: (id_a < id_b, jaccard ≥ threshold) where at least one side is
    * an increment doc — the base-base pair space is deliberately untouched.
    */
  def minhashDedupIncremental(
      base: DataFrame, inc: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 12, bands: Int = 3, threshold: Double = 0.8,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    val union = base.unionByName(inc)
    val sh = shingleIndex(union, idCol, textCol, n)
    val sig = minhashSignature(sh, idCol, k)
    // the index artifact: one narrow (id, band, bucket) table
    val eb = Scratch.stage(bandBuckets(sig, idCol, bands, k / bands), "mh_inc_eb_stage")
    val ebInc = eb.join(inc.select(col(idCol)), Seq(idCol), "left_semi")
    val cands = Scratch.stage(probeCappedPairs(ebInc, eb, idCol, bucketCap),
      "mh_inc_cands_stage")
    val candDocs = cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol))).distinct()
    val shCand = Scratch.stage(sh.join(broadcast(candDocs), Seq(idCol), "left_semi"),
      "mh_inc_shcand_stage")
    jaccardPairs(shCand, idCol)
      .join(cands, Seq("id_a", "id_b"), "left_semi")
      .filter(col("jaccard") >= threshold)
  }

  /** Train/eval contamination detection — the decontamination step of a
    * training-data pipeline: find (train doc, eval doc) pairs sharing at
    * least `minShared` distinct word n-grams, with the shared fraction of
    * the eval doc's n-grams. Eval-set leakage into a 100 TB crawl is found
    * exactly this way (long-n-gram overlap against the benchmark suite).
    *
    * Shape: two shingle indexes, an inner join on the shingle, one
    * count per pair — the inverted-index form, never eval×train text
    * comparison. The join key is the n-gram itself, so cost is
    * Σ_shingle df_train(s)·df_eval(s): `maxDf` caps by TRAIN-side document
    * frequency (a boilerplate n-gram in millions of train docs would fan
    * every eval doc containing it into millions of pairs), and the cap is
    * applied to BOTH sides — numerator and the eval-size denominator count
    * the same retained-shingle universe, [[jaccardPairs]]'s contract, so a
    * verbatim copy still scores overlap_frac 1.0 under a cap. With a
    * typical small eval suite, broadcast the eval index side by sizing
    * autoBroadcastJoinThreshold — the train corpus then never shuffles.
    *
    * The cap DEFAULTS ON ([[ContaminationMaxDf]] = 10,000): an n-gram in
    * more than 10k training documents is template boilerplate, not leak
    * evidence — a real leak is flagged by its rare n-grams regardless —
    * and one such shingle would otherwise flood the join with
    * df_train × df_eval rows on a single hot key. Pass
    * `maxDf = Int.MaxValue` to explicitly opt into the uncapped join.
    */
  val ContaminationMaxDf = 10000

  def contamination(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 5, minShared: Int = 1,
      maxDf: Int = ContaminationMaxDf,
      trainPrefilter: Option[Column => Column] = None): DataFrame =
    contaminationFromShingles(
      shingleIndex(train, idCol, textCol, n).withColumnRenamed(idCol, "train_id"),
      shingleIndex(eval, idCol, textCol, n).withColumnRenamed(idCol, "eval_id"),
      minShared, maxDf, trainPrefilter)

  /** [[contamination]] over PRE-BUILT shingle indexes (`shTAll`: (train_id,
    * shingle); `shEAll`: (eval_id, shingle), both distinct-per-doc as
    * [[shingleIndex]] emits) — the staged-eval path: a caller that also
    * needs the eval shingles for a [[Bloom]] build stages them once and
    * passes the staged frame here instead of re-shingling the eval corpus
    * per consumer (the [[jaccardPairsWithSizes]] precedent).
    */
  def contaminationFromShingles(shTAll: DataFrame, shEAll: DataFrame,
      minShared: Int, maxDf: Int,
      trainPrefilter: Option[Column => Column]): DataFrame = {
    // optional result-preserving pre-filter on the train shingles (e.g. a
    // [[Bloom]] membership test over the eval side): a dropped shingle
    // cannot pair — it is absent from eval modulo false positives, which
    // the exact join below removes — so the output is unchanged while the
    // big side's join shuffle shrinks to probable hits. Applied AFTER the
    // df-cap so the hot-shingle exclusion set stays bloom-independent.
    val shT = trainPrefilter.foldLeft(dfCapped(shTAll, shTAll, maxDf)) {
      (sh, f) => sh.filter(f(col("shingle")))
    }
    val shE = dfCapped(shEAll, shTAll, maxDf)
    val sizesE = shE.groupBy(col("eval_id")).agg(count(lit(1)).as("n_ev"))
    shT.join(shE, Seq("shingle"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizesE, Seq("eval_id"))
      .select(col("train_id"), col("eval_id"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_ev").cast("double"))
          .as("overlap_frac"))
  }

  /** 64-bit SimHash over distinct shingles: bit b of md5's first 16 hex
    * chars votes ±1; simhash bit = sign of the vote sum. Returns
    * (id, simhash). 64 bits (vs 32) keeps the sketch discriminative on
    * corpus-scale document counts where 32-bit sketches saturate
    * (collision probability grows with n²/2^bits).
    */
  def simhash(shingles: DataFrame, idCol: String): DataFrame = {
    val nib = "0123456789abcdef"
    // md5 once per shingle row, then each of the 16 hex nibbles decoded
    // ONCE into a projected column (16 substr+instr per row, not 64).
    // NOT fanned ([[Fan]]): the aggregation alone measured 2× faster
    // fanned (1.10 → 0.55 s noop), but END-TO-END d4 measured SLOWER with
    // the fan under the adopted parallelism-first config (min-of-4 A/B:
    // 3.73 s off vs 6.63 s on) — the fanned stage write fragments the
    // staged sketch table and every downstream pairing pass multiplies
    // the extra scheduling, eating the agg win with interest
    val hashed = shingles
      .withColumn("_gm_hh", md5(col("shingle")))
      .select(col(idCol) +: (0 until 16).map(j =>
        expr(s"instr('$nib', substr(_gm_hh, ${j + 1}, 1)) - 1").cast("bigint").as(s"_nv$j")): _*)
    // Lane-packed vote counting: bits (2j, 2j+1) of the sketch ride one
    // long in two 32-bit lanes, so 32 packed SUMs replace 64 per-bit SUMs.
    // Lanes can't interfere: each accumulates a set-bit count ≤ #distinct
    // shingles per doc, and a 32-bit lane holds counts to 2^31 — no
    // realistic document overflows it (16-bit lanes would corrupt the
    // neighbor bit at 65536 shingles ≈ a 65k-word page, which web corpora
    // do contain). Exact integer math — bit-identical to per-bit sums, so
    // the DuckDB oracle keeps its straightforward 64-sum form.
    val packed = (0 until 32).map { j =>
      val n = col(s"_nv${j / 2}")
      // pair (k0, k0+1) of nibble j/2: k = 2*(j%2) selects which half
      val k0 = 2 * (j % 2)
      sum((0 until 2).map(i =>
          shiftleft(shiftright(n, 3 - (k0 + i)).bitwiseAND(1L), i * 32))
        .reduce(_ + _)).as(s"p$j")
    }
    val counts = hashed.groupBy(col(idCol))
      .agg(count(lit(1)).as("_n"), packed: _*)
    // vote for bit b (packed col j = b/2, lane i = b%2): 2*lane − n > 0
    counts.select(col(idCol),
      (0 until 64).map { b =>
        val lane = shiftright(col(s"p${b / 2}"), (b % 2) * 32).bitwiseAND(0xffffffffL)
        // b = 63 ⇒ 1L << 63 = Long.MinValue: the sign bit in two's
        // complement, added like any other term
        when(lane * 2 - col("_n") > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _).as("simhash"))
  }

  /** Near-dup pairs with Hamming(simhash) ≤ `maxHamming` (< 4): pigeonhole
    * over 4 16-bit chunks — any pair within Hamming 3 agrees on ≥1 chunk, so
    * a bucket join on (chunk_idx, chunk_value) finds all of them without an
    * all-pairs comparison (Manku et al., WWW'07).
    *
    * `bucketCap` guards hot chunk buckets the same way
    * [[minhashCandidates]] does: oversized buckets star-pair against the
    * min-id representative instead of emitting O(m²) pairs on one skewed
    * key. PRECISE GUARANTEE: pigeonhole completeness holds while every
    * agreeing chunk bucket is ≤ cap. A pair whose ONLY agreeing chunk is a
    * hot bucket of mutually-near docs still connects through the rep
    * (hamming(rep, x) ≤ hamming(a, b) bounds don't hold in general, but
    * identical-sketch floods — the case caps exist for — have hamming 0 to
    * the rep); a hot bucket of UNRELATED sketches (e.g. many short docs
    * sharing chunk 0) can hide a genuine pair whose star pairs fail the
    * Hamming filter. Size the cap above any legitimate duplicate-group
    * size, or pass `Int.MaxValue` to restore the unconditional guarantee.
    *
    * `scopeCols` (appended-last, default none — the existing call shape
    * is unchanged) SCOPE the pairing: the pigeonhole buckets key on
    * (scope, chunk) and only same-scope rows pair — the positional
    * variant one 64-bit sketch per (entity, position) needs, e.g. video
    * near-dup over per-frame dHashes where frame i compares against
    * frame i ([[Multimodal.videoNearDupPairs]]). Scope columns pass
    * through to the output (equal on both sides by construction), and
    * the hot-bucket cap applies per (scope, chunk) bucket.
    */
  def simhashPairs(sh: DataFrame, idCol: String, maxHamming: Int = 3,
      bucketCap: Int = Int.MaxValue,
      scopeCols: Seq[String] = Nil): DataFrame = {
    require(maxHamming < 4, "4-chunk pigeonhole covers Hamming <= 3")
    require(bucketCap >= 1, s"bucketCap must be >= 1, got $bucketCap")
    simhashCandidatePairs(sh, idCol, bucketCap, scopeCols)
      .select(Seq(col("id_a"), col("id_b")) ++ scopeCols.map(col) :+
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"): _*)
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** [[simhashPairs]] keeping the matched SKETCH pair itself: one row per
    * distinct (id_a, id_b, scope…, sh_a, sh_b) with Hamming ≤ `maxHamming`
    * — for entities carrying MANY sketches per id (e.g. a video's
    * per-frame dHashes, [[Multimodal.videoNearDupPairsUnordered]]), where
    * the pair-level question is a set-overlap aggregate over the matched
    * hashes and [[simhashPairs]]' distinct-on-hamming output would
    * collapse distinct matched hash pairs that happen to share a Hamming
    * distance. With one sketch per id the two are the same pairing.
    *
    * `bucketCap` here DROPS over-cap pigeonhole buckets instead of
    * star-pairing them, deliberately: downstream consumers COUNT matched
    * hashes per pair, and a star's (rep, member) rows would corrupt the
    * count exactly as the m7 floodCap rationale argues — worse, with
    * many sketches per id the star rep's carried hash is one arbitrary
    * row of the rep (dropDuplicates), making the output nondeterministic.
    * The completeness trade is d4's, stated: a pair whose ONLY agreeing
    * chunk sits in a hot bucket is lost — size the cap above legitimate
    * duplicate-group × sketches-per-entity, or leave it unbounded.
    */
  def simhashMatchPairs(sh: DataFrame, idCol: String, maxHamming: Int = 3,
      bucketCap: Int = Int.MaxValue,
      scopeCols: Seq[String] = Nil): DataFrame = {
    require(maxHamming < 4, "4-chunk pigeonhole covers Hamming <= 3")
    // >= 1: under drop semantics a 0 cap would silently classify EVERY
    // bucket hot and return an empty pair set (0 is not a sentinel here)
    require(bucketCap >= 1, s"bucketCap must be >= 1, got $bucketCap")
    simhashCandidatePairs(sh, idCol, bucketCap, scopeCols, dropHot = true)
      .select(Seq(col("id_a"), col("id_b")) ++ scopeCols.map(col) ++
        Seq(col("sh_a"), col("sh_b")): _*)
      .distinct()
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
  }

  /** Unordered tolerant-SET containment pairing over (entity, sketch)
    * rows — the shared core behind
    * [[Multimodal.videoNearDupPairsUnordered]] (per-frame dHashes) and
    * [[Multimodal.audioNearDupPairsUnordered]] (per-window energy
    * hashes), and directly usable for any entity carrying a SET of
    * 64-bit Hamming-proximity sketches. Input: `rows` with `idCol` and a
    * `simhash` column (one row per (entity, sketch) occurrence —
    * duplicates collapse here, set semantics). Two sketches match within
    * `maxHamming` through the [[simhashMatchPairs]] pigeonhole (no
    * all-pairs comparison), and a pair survives when the matched
    * fraction of EITHER side's set reaches `minContainment`:
    *
    *   `containment = greatest(m_a / n_a, m_b / n_b)`
    *
    * — under exact matching exactly the [[containmentPairs]] coefficient
    * |A∩B| / min(|A|, |B|), so SUBSET duplication (a trimmed twin fully
    * contained in its source) scores 1.0 while its Jaccard is
    * arbitrarily poor. `floodCap` DROPS sketches shared by more than
    * floodCap entities before pairing (df-cap semantics — a corpus-wide
    * boilerplate sketch pairs everything with everything here);
    * `bucketCap` DROPS hot pigeonhole buckets underneath
    * ([[simhashMatchPairs]]'s counting contract). Output: (id_a, id_b,
    * n_a, n_b, n_matched_a, n_matched_b, containment).
    *
    * Materialization: the call EAGERLY snapshots the distinct rows
    * through [[graft.tables.Scratch]] (the flood aggregate, its
    * anti-join, the sizes aggregate, and both self-join sides must not
    * each re-run a potentially expensive upstream — a blob decode,
    * canonically), so the returned frame reads a stage that
    * [[graft.tables.TableStore.stage]] sweeps `keepLast` (default 16)
    * further calls later: consume it before then, or raise
    * `graft.scratch.keepLast`.
    */
  def sketchSetPairs(rows: DataFrame, idCol: String, maxHamming: Int = 3,
      minContainment: Double = 0.75, floodCap: Int = Int.MaxValue,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    require(minContainment > 0 && minContainment <= 1,
      s"minContainment must be in (0, 1], got $minContainment")
    require(floodCap >= 1, s"floodCap must be >= 1, got $floodCap")
    // bucketCap >= 1 is validated by simhashMatchPairs (the ONE owner
    // of the drop-semantics rule), before any action runs in this call
    val hs = Scratch.stage(
      rows.select(col(idCol), col("simhash")).distinct(), "sketchset_hs")
    val kept =
      if (floodCap == Int.MaxValue) hs
      else {
        val hot = hs.groupBy(col("simhash"))
          .agg(count(lit(1)).as("_n")).filter(col("_n") > floodCap)
          .select(col("simhash"))
        hs.join(hot, Seq("simhash"), "left_anti")
      }
    val sizes = kept.groupBy(col(idCol)).agg(count(lit(1)).as("n_h"))
    val matched = simhashMatchPairs(kept, idCol, maxHamming, bucketCap)
      .groupBy(col("id_a"), col("id_b"))
      .agg(countDistinct(col("sh_a")).as("n_matched_a"),
        countDistinct(col("sh_b")).as("n_matched_b"))
    matched
      .join(sizes.select(col(idCol).as("id_a"), col("n_h").as("n_a")),
        Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("n_h").as("n_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        col("n_matched_a"), col("n_matched_b"),
        greatest(
          col("n_matched_a").cast("double") / col("n_a").cast("double"),
          col("n_matched_b").cast("double") / col("n_b").cast("double"))
          .as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** The shared candidate core of [[simhashPairs]] /
    * [[simhashMatchPairs]]: the Manku 4×16-bit pigeonhole bucket join
    * (scoped, hot-bucket-capped), emitting (id_a, id_b, scope…, sh_a,
    * sh_b) BEFORE the Hamming filter. `dropHot = false` star-pairs
    * over-cap buckets (the d4 connected-components contract — ONE hash
    * per id); `dropHot = true` drops them (the match-pair counting
    * contract — see [[simhashMatchPairs]]).
    */
  private def simhashCandidatePairs(sh: DataFrame, idCol: String,
      bucketCap: Int, scopeCols: Seq[String],
      dropHot: Boolean = false): DataFrame = {
    // fail fast on scope names the pairing plan reserves — a collision
    // would otherwise surface as an opaque ambiguous-reference
    // AnalysisException deep in the executed plan
    val reserved = Set("ci", "cv", "simhash", "hamming", "id_a", "id_b",
      "sh_a", "sh_b", "_sz", "_rep", idCol)
    val bad = scopeCols.filter(reserved.contains)
    require(bad.isEmpty,
      s"scopeCols collide with reserved pairing column names: $bad")
    // capped path: stage the (id, simhash) table — two longs per doc — so
    // the hot/small/star passes don't re-run the 64-vote aggregation
    val shS = if (bucketCap == Int.MaxValue) sh else Scratch.stage(sh, "simhash_stage")
    val chunks = (0 until 4).map(i =>
      struct(lit(i).as("ci"), shiftright(col("simhash"), i * 16).bitwiseAND(0xffff).as("cv")))
    val keep = (col(idCol) +: scopeCols.map(col)) :+ col("simhash")
    val ex = shS.select(keep :+ explode(array(chunks: _*)).as("c"): _*)
      .select(keep :+ col("c.ci") :+ col("c.cv"): _*)
    val keys = scopeCols ++ Seq("ci", "cv")
    if (dropHot && bucketCap != Int.MaxValue) {
      val hot = ex.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("_sz")).filter(col("_sz") > bucketCap)
        .select(keys.map(col): _*)
      cappedPairs(ex.join(hot, keys, "left_anti"), idCol, keys,
        Int.MaxValue, Seq("simhash" -> ("sh_a", "sh_b")),
        emitKeys = scopeCols)
    } else
      cappedPairs(ex, idCol, keys, bucketCap,
        Seq("simhash" -> ("sh_a", "sh_b")), emitKeys = scopeCols)
  }

  /** Corpus-overlap audit: estimated shingle-set Jaccard between every pair
    * of GROUPS (crawl sources, snapshots, languages) — "how much of source
    * A is also in source B", the corpus-composition question asked before
    * mixing or deduping across sources.
    *
    * The exact answer needs the pairwise intersection of per-group shingle
    * SETS — a shuffle of every shingle |groups| times. The sketch answer
    * shrinks each group to a `numHashes`-cell MinHash signature first:
    * distinct (group, shingle) → one map-side-combined `min` aggregation →
    * a |groups|×numHashes table, then the pairwise estimate
    * (matching cells / numHashes) over a broadcast self-join of that tiny
    * table. Corpus-size work is ONE distinct + ONE aggregate, independent
    * of the number of group pairs; the quadratic step runs on rows the size
    * of the group count. Same md5 minhash family as [[minhashSignature]],
    * so the oracle replays it exactly (estimate included — integer count /
    * numHashes is engine-exact).
    */
  /** Crawl snapshot diff: classify every doc id across two snapshots as
    * `added` / `removed` / `changed` / `unchanged` — the audit run before
    * an incremental pipeline decides what to reprocess.
    *
    * Scale shape: each side projects to (id, md5(text)) FIRST, so the
    * full-outer join shuffles 16-byte digests, never document bodies —
    * the same discipline as [[exactGroups]]. One hash shuffle on id.
    */
  def snapshotDiff(base: DataFrame, next: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val b = base.select(col(idCol), md5(col(textCol)).as("_h_base"))
    val n = next.select(col(idCol), md5(col(textCol)).as("_h_next"))
    b.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("_h_base").isNull, "added")
          .when(col("_h_next").isNull, "removed")
          .when(col("_h_base") === col("_h_next"), "unchanged")
          .otherwise("changed").as("status"))
  }

  def sourceOverlap(df: DataFrame, groupCol: String, textCol: String,
      numHashes: Int = 16, n: Int = 3): DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    // per-doc distinct shingles still repeat across a group's docs: the
    // set union needs one more distinct at (group, shingle) grain
    val sh = shingleIndex(df, groupCol, textCol, n).distinct()
    val sigCols = (0 until numHashes).map(i =>
      min(md5(concat_ws(":", lit(i), col("shingle")))).as(s"h$i"))
    val sigs = sh.groupBy(col(groupCol)).agg(sigCols.head, sigCols.tail: _*)
    val aCols = sigs.columns.map(c => if (c == groupCol) "src_a" else s"${c}_a")
    val bCols = sigs.columns.map(c => if (c == groupCol) "src_b" else s"${c}_b")
    val matches = (0 until numHashes)
      .map(i => when(col(s"h${i}_a") === col(s"h${i}_b"), 1).otherwise(0))
      .reduce(_ + _)
    sigs.toDF(aCols: _*).crossJoin(broadcast(sigs.toDF(bCols: _*)))
      .filter(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        (matches.cast("double") / numHashes).as("est_jaccard"))
  }
}
