package graft.ext

import graft.tables.{Scratch, TableStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Durable MinHash-LSH dedup index: the crawl-vs-history artifact that makes
  * incremental dedup actually incremental.
  *
  * [[Dedup.minhashDedupIncremental]] recomputes shingles and signatures over
  * base ∪ increment every run — correct, but at the 100 TB design point a
  * daily crawl re-pays the full-corpus shingling daily, the exact cost an
  * incremental pipeline exists to avoid. This object persists the index as
  * three narrow [[TableStore]] tables that increments only ever add to —
  * band and size rows by append, shingle files by [[TableStore.publish]]
  * of the files the probe already wrote, never a rewrite:
  *
  *   - `{name}_bands`    (id, band, bucket) — the LSH probe index
  *   - `{name}_shingles` (id, shingle)      — distinct shingles per doc, for
  *                                            exact-Jaccard candidate verify
  *   - `{name}_sizes`    (id, n_sh)         — per-doc distinct-shingle count
  *
  * An incremental run ([[dedupIncrement]]) shingles ONLY the increment,
  * appends the increment's rows, and probes the stored band table — the base
  * corpus's text is never re-read, let alone re-shingled: per-run cost is
  * O(|inc| × bands) bucket probes plus verification priced on candidate docs
  * only, independent of |base| except for the narrow index-side scans.
  *
  * With `digest = true` the shingle table stores the 128-bit md5 of each
  * shingle as 16 raw bytes instead of the raw string: Jaccard over per-doc
  * digests equals Jaccard over shingles up to md5 collisions, and the
  * DuckDB twin replays md5 over the same shingles so the oracle compare is
  * exact on any real corpus. Bound on the collision edge: the probe-side
  * verification distincts its candidate rows (crash-residue hygiene), so
  * two same-doc shingles whose digests collided would count once in
  * n_inter but twice in the stored n_sh — Jaccard slightly UNDERestimated
  * for that doc, never fabricated. Signatures and bucket probes hash the
  * digest's lowercase hex (`md5("i:" || md5(sh))`), reproducible verbatim
  * in any engine with md5.
  *
  * What digest mode buys — measured honestly (BENCH_LOCAL_r7 word
  * shingles, BENCH_LOCAL_r8 char shingles, both when the store wrote
  * snappy; not re-measured under its zstd): NOT size, on any shingle
  * family tried. md5 bytes are incompressible, while parquet
  * dictionary+snappy compress repeated text shingles ~3×, so at sf0.1 the
  * digest table is 1.4-2.0× larger than raw for word 3/5-grams — and
  * sliding character q-grams lose at EVERY width (2.8× at q=12 shrinking
  * only to 1.5× at q=96): successive shingles share q-1 characters, so
  * raw text pages are near-duplicates the encoder crushes, and the r7
  * conjecture that long char shingles would flip the sign was wrong. A
  * size win would need long high-entropy NON-overlapping shingles
  * (unique URLs/IDs) where dictionary coding has nothing to share.
  * Digest mode's real wins are structural: fixed-width cells
  * (memory-bounded joins, no pathological multi-KB shingle rows from
  * concatenated long tokens) and a text-free index (retention/licensing:
  * the index no longer contains corpus content). The raw-string mode
  * (default) keeps the index human-debuggable and smaller; both modes
  * share every scan and join below — only the stored bytes differ. The
  * id-bucketed layout (`build(idBuckets = N)`) hive-partitions the shingle
  * table on an id hash so candidate verification scans only the buckets
  * its candidates live in ([[candidateShingles]]). Same sub-quadratic
  * shape as the reference's dedup surface
  * (MergerMetrics-Lakehouse-Pipeline has no incremental index at all;
  * this is the scale path the brief's training-data pipeline needs).
  */
object DedupIndex {

  private def bandsT(name: String) = s"${name}_bands"
  private def shinglesT(name: String) = s"${name}_shingles"
  private def sizesT(name: String) = s"${name}_sizes"

  /** Deterministic id→bucket assignment for the partitioned shingle
    * layout; MUST be identical at build and probe time (both sides call
    * this), or pruning silently drops candidate rows.
    */
  private def idBucket(idCol: String, n: Int) =
    pmod(xxhash64(col(idCol)), lit(n.toLong))

  /** The partition column is NAMED for its modulus (`_bkt64`), so the
    * layout and the number it was hashed with travel together through
    * TableStore's single atomic overwrite swap. A separate metadata write
    * (a conf table) would open a crash window between the two writes in
    * which a stale modulus survives — and a stale modulus makes
    * [[candidateShingles]] prune the WRONG partitions and silently drop
    * pairs. Self-describing schema closes every variant of that window:
    * flat↔bucketed↔re-bucketed transitions are all one swap.
    */
  private def bktCol(n: Int) = s"_bkt$n"
  private val BktPattern = "^_bkt([0-9]+)$".r

  /** Stored bucket count, recovered from the shingle table's own schema
    * (0 = unbucketed / pre-layout index). Driver-side inspection — no
    * Spark job. A digit-less `_bkt` column is the short-lived interim
    * layout whose modulus lived in a conf table — reading it as 0 would
    * append unpartitioned rows into a partitioned dir and skip pruning
    * silently, so it fails loud instead.
    */
  private def idBucketsOf(shSchema: org.apache.spark.sql.types.StructType): Int = {
    require(!shSchema.fieldNames.contains("_bkt"),
      "index uses the interim digit-less _bkt layout (modulus in a _conf " +
        "table); rebuild it with this version's build() before probing")
    shSchema.fieldNames.collectFirst { case BktPattern(n) => n.toInt }.getOrElse(0)
  }

  private def dropBkt(df: DataFrame): DataFrame =
    df.drop(df.schema.fieldNames.filter(BktPattern.findFirstIn(_).isDefined): _*)

  /** Stored shingle rows in the table's layout: with `idBuckets > 0`, the
    * `_bkt` column and the hive partitioning on it. Build and probe both
    * write through this, so a probe's staged files publish straight into
    * the table's partition dirs. */
  private def inLayout(sh: DataFrame, idCol: String, idBuckets: Int): (DataFrame, Seq[String]) =
    if (idBuckets > 0)
      (sh.withColumn(bktCol(idBuckets), idBucket(idCol, idBuckets)), Seq(bktCol(idBuckets)))
    else (sh, Nil)

  /** The stored shingle rows restricted (at the SCAN, not after it) to the
    * buckets holding candidate docs — the id-bucketed layout's payoff.
    * With `idBuckets > 0` the shingle table is hive-partitioned on `_bkt`,
    * candidate buckets are computed from `candDocs` (≤ idBuckets values —
    * driver-bounded by construction), and the `isin` filter prunes
    * partition directories: a probe touching k of N buckets reads k/N of
    * the index instead of all of it. Unbucketed indexes return the full
    * scan (the semi-join downstream still restricts rows).
    */
  private[ext] def candidateShingles(store: TableStore, name: String,
      candDocs: DataFrame, idCol: String, digest: Boolean,
      idBuckets: Int): DataFrame = {
    val stored = store.read(shinglesT(name))
    val pruned =
      if (idBuckets > 0) {
        val bkts = candDocs.select(idBucket(idCol, idBuckets).as("_b"))
          .distinct().collect().map(_.getLong(0)).toSeq
        stored.filter(col(bktCol(idBuckets)).isInCollection(bkts))
          .drop(bktCol(idBuckets))
      } else stored
    toLogical(pruned, idCol, digest)
  }

  /** Storage form of a shingle frame: raw strings, or 16-byte md5 digests. */
  private def toStored(sh: DataFrame, idCol: String, digest: Boolean): DataFrame =
    if (digest) sh.select(col(idCol), unhex(md5(col("shingle"))).as("shingle")) else sh

  /** Hashing/join form of a STORED shingle frame: digests come back as
    * lowercase hex — the exact md5 string any engine computes — so the
    * signature/verify pipeline is byte-identical across modes' engines.
    */
  private def toLogical(sh: DataFrame, idCol: String, digest: Boolean): DataFrame =
    if (digest) sh.select(col(idCol), lower(hex(col("shingle"))).as("shingle")) else sh

  /** Full (re)build of the index over the base corpus. The corpus text is
    * scanned exactly once: the shingle table is written first, then the
    * signature/band and size tables derive from the stored parquet.
    *
    * `idBuckets > 0` opts into the id-bucketed layout: the shingle table
    * is hive-partitioned on `_bkt = pmod(xxhash64(id), idBuckets)`, so an
    * incremental probe scans only the buckets its candidate docs hash to
    * ([[candidateShingles]]) instead of the whole table — the knob that
    * keeps verification I/O proportional to the candidate set when the
    * history is 100 TB. The win requires pruning SELECTIVITY: candidate
    * buckets ≪ idBuckets (small crawls, large N). When candidates cover
    * most buckets the layout only adds overhead — measured honestly at
    * sf0.1×30 (BENCH_LOCAL_r8: probe 2.11× slower with 529 candidates
    * saturating all 64 buckets); keep the flat default until the shingle
    * table dwarfs executor memory. Size buckets at a few GB each
    * (hundreds to thousands of buckets at scale); the count is encoded in
    * the partition column's NAME (`_bkt64`), so probes and maintenance
    * recover it from the table's own schema — atomically with the layout,
    * with no separate metadata write a crash could leave stale.
    */
  def build(store: TableStore, name: String, df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, k: Int = 12, bands: Int = 3,
      digest: Boolean = false, idBuckets: Int = 0): Unit = {
    require(k % bands == 0, s"k ($k) must be divisible by bands ($bands)")
    require(idBuckets >= 0, s"idBuckets must be >= 0, got $idBuckets")
    // input fanned by id: the corpus-wide shingle explode, the digest-mode
    // md5, and the table write would otherwise all run on a one-split
    // scan's single task ([[Fan]]: size-gated no-op at scale)
    val shStored = toStored(
      Dedup.shingleIndex(Fan.out(df, col(idCol)), idCol, textCol, n),
      idCol, digest)
    // the corpus text is scanned EXACTLY ONCE: the shingle table is written
    // first, and everything below derives from the stored parquet. r21
    // instead overlapped the write with a signature job that re-evaluated
    // the shingle plan (a second full corpus scan+explode at any scale),
    // and the two concurrent fanned jobs oversubscribed the driver's
    // local[32] box — d13 5.33 → 15.39 s on the round's ground-truth bench
    // while the builder's box showed a win. Write-then-read-back is the
    // posture that is right at 100 TB (one corpus pass) AND restores the
    // structural guarantee that sizes/bands derive from the same rows the
    // index stores (no determinism assumption on the input plan).
    val (shLaid, layout) = inLayout(shStored, idCol, idBuckets)
    store.overwrite(shinglesT(name), shLaid, partitionBy = layout)
    // a rebuild sweeps away the interim layout's conf table — stale
    // metadata beside a schema-described index would only mislead
    if (store.exists(s"${name}_conf")) store.drop(s"${name}_conf")
    // ONE aggregation over the stored shingles produces sizes AND band
    // buckets (they share the groupBy-id exchange — two jobs scanned the
    // shingles twice for it before r21); staged in its narrow form (id,
    // n_sh, one bucket per band — the k minima are folded in the agg) so
    // the two table writes below read tiny parquet instead of each
    // re-running the k-md5 agg. The stored table's file count carries the
    // Fan'd write parallelism, so the read-back scan is not a one-task stage.
    val sig = Scratch.stage(
      Dedup.bandSignatureWithSize(
        toLogical(dropBkt(store.read(shinglesT(name))), idCol, digest),
        idCol, k, bands),
      s"${name}_bsig")
    store.overwrite(sizesT(name), sig.select(col(idCol), col("n_sh")))
    store.overwrite(bandsT(name), Dedup.bandRows(sig, idCol, bands))
  }

  /** Ids already present in index `name` — a narrow scan of the sizes
    * table (one row per indexed doc, no text, no shingles). The
    * re-delivery guard a streaming caller anti-joins each micro-batch
    * against before incrementing
    * ([[graft.streaming.Streams.indexedNearDupSink]]): an at-least-once
    * source may replay a batch, and a replayed doc must neither re-enter
    * the index nor near-dup-match itself.
    */
  def knownIds(store: TableStore, name: String, idCol: String): DataFrame =
    store.read(sizesT(name)).select(col(idCol))

  /** Full teardown of a stored index — the three data tables plus the
    * health cache and any legacy conf metadata ([[AnnIndex.dropIndex]]'s
    * lexical twin). Row-level removal is the [[graft.tables.Deletes
    * .cascade]] leg; this is the index-wide DROP TABLE.
    */
  def dropIndex(store: TableStore, name: String): Unit =
    (dataTables(name) ++ Seq(healthCacheT(name), capPolicyT(name),
      hhSketchT(name), hhWitnessT(name), s"${name}_conf"))
      .foreach(t => if (store.exists(t)) store.drop(t))

  // ---- audit accessors: the index's physical content in logical form ----

  /** Stored band rows (id, band, bucket). */
  def bandsOf(store: TableStore, name: String): DataFrame =
    store.read(bandsT(name))

  /** Stored per-doc sizes (id, n_sh). */
  def sizesOf(store: TableStore, name: String): DataFrame =
    store.read(sizesT(name))

  /** Stored shingle rows in LOGICAL form (digest mode reads back as the
    * lowercase md5 hex the probe pipeline hashes; the bucket layout column
    * is stripped) — what exports and audits compare against.
    */
  def shinglesOf(store: TableStore, name: String, idCol: String): DataFrame = {
    val stored = store.read(shinglesT(name))
    val digest = stored.schema("shingle").dataType ==
      org.apache.spark.sql.types.BinaryType
    toLogical(dropBkt(stored), idCol, digest)
  }

  /** Takedown propagation ([[graft.tables.Deletes.cascade]]'s index leg):
    * remove `ids`' rows from the three index tables WITHOUT touching any
    * corpus text. Survivors' rows are rewritten from the stored parquet,
    * never re-shingled — by construction (this method takes no text
    * input), and the result is EXACTLY the index a from-scratch build over
    * the survivors would produce, because every stored row derives from
    * its own doc alone: shingles and sizes are per-doc, and a MinHash
    * band bucket is the md5 of the doc's own signature rows. The x34
    * oracle pins that equivalence hash-exactly against a DuckDB rebuild.
    *
    * I/O shape: the bands and sizes tables are narrow (no text in digest
    * mode; one row per doc×band / per doc) and rewrite whole; the shingle
    * table — the one that is corpus-scale — rewrites ONLY the id buckets
    * the deleted docs hash to under the bucketed layout (`build(idBuckets
    * = N)`), through [[TableStore.rewritePartitions]], which removes a
    * bucket directory the delete empties (DeletesSpec pins untouched
    * buckets byte-identical by file listing).
    *
    * Order is the crash contract, the inverse of [[commitIncrement]]'s:
    * sizes FIRST — sizes is the membership table ([[knownIds]]), so a doc
    * stops being "in the index" the moment its size row is gone. Residue
    * band/shingle rows from a mid-delete crash can still nominate the doc
    * as a candidate, but verification inner-joins sizes and the pair
    * drops; re-running the delete completes the cleanup (idempotent).
    */
  def deleteIds(store: TableStore, name: String, ids: DataFrame, idCol: String): Unit = {
    val keys = broadcast(ids.select(col(idCol)).distinct())
    def anti(df: DataFrame) = df.join(keys, Seq(idCol), "left_anti")
    store.overwrite(sizesT(name), anti(store.read(sizesT(name))))
    store.overwrite(bandsT(name), anti(store.read(bandsT(name))))
    val nBkt = idBucketsOf(store.read(shinglesT(name)).schema)
    if (nBkt > 0) {
      // affected buckets come from the ids themselves (same id→bucket
      // formula as build/probe) — driver-bounded at ≤ nBkt values
      val affected = keys.select(idBucket(idCol, nBkt).as("_b"))
        .distinct().collect().map(_.getLong(0)).toIndexedSeq
      store.rewritePartitions(shinglesT(name), bktCol(nBkt), affected)(anti)
    } else store.overwrite(shinglesT(name), anti(store.read(shinglesT(name))))
  }

  /** Incremental run: verified near-dup pairs (id_a < id_b, jaccard ≥
    * threshold) touching the increment — same output contract as
    * [[Dedup.minhashDedupIncremental]] on (stored corpus, inc) — and, as a
    * side effect, the increment's rows appended to the index so the next
    * run's "base" includes this increment.
    *
    * `k`/`bands`/`n` must match the values the index was built with (the
    * band buckets are only comparable under identical hashing).
    *
    * Plan shape (the point): the increment's text is scanned once, into a
    * staged shingle table; every other input is a narrow parquet
    * scan of the stored index. Candidate generation joins the increment's
    * band rows (probe side, |inc| × bands rows) against the stored band
    * table on (band, bucket); verification exact-Jaccards only candidate
    * docs' stored shingle rows using the stored sizes. No WordShingles, no
    * signature agg, and no text read ever touches the base corpus —
    * DedupIndexSpec pins that at the executed-plan level.
    *
    * `broadcastCandBytes` is [[probeIncrement]]'s broadcast gate: it bounds
    * the staged `cands` pair file, about 2× the candidate-doc ids.
    */
  def dedupIncrement(store: TableStore, name: String, inc: DataFrame,
      idCol: String, textCol: String, n: Int = 3, k: Int = 12, bands: Int = 3,
      threshold: Double = 0.8, bucketCap: Int = Int.MaxValue,
      digest: Boolean = false, broadcastCandBytes: Long = 8L << 20): DataFrame = {
    val (verified, stage) = probe(store, name, inc, idCol, textCol, n, k,
      bands, threshold, bucketCap, digest, broadcastCandBytes)
    commitIncrement(store, name, stage)
    verified(true)
  }

  /** A staged-but-uncommitted increment: the deltas [[probeIncrement]]
    * produced, in storage form, ready for [[commitIncrement]]. The band and
    * size deltas are projections of one scratch stage; the shingle rows
    * are `shStage`'s files, written beside the shingle table in its layout
    * for [[TableStore.publish]]. */
  final case class IncrementStage private[ext] (
      sizes: DataFrame, bands: DataFrame, shStage: TableStore.Staged)

  /** [[dedupIncrement]]'s probe HALF, with NO index mutation: stages the
    * increment's shingle/band/size deltas and probes the stored
    * index UNIONED with the staged deltas — the identical candidate space
    * the post-append probe would see (inc-inc pairs included) — returning
    * the lazy verified-pairs frame plus the stage handle.
    *
    * The split is the streaming sink's crash-safety contract
    * ([[graft.streaming.Streams.indexedNearDupSink]]): pairs can be
    * MATERIALIZED and written before [[commitIncrement]] mutates anything,
    * so a crash between the two leaves the index unchanged and the replayed
    * batch recomputes — at-least-once pairs (possible duplicates on replay,
    * never loss). Appending the index first and the pairs second would
    * invert that into at-most-once: the re-delivery guard sees the docs as
    * indexed and their pairs are never computed again.
    *
    * Stages: a probe writes three, each a [[TableStore.stage]]
    * generation swept `graft.scratch.keepLast` (default 16) same-family
    * generations later:
    *  - the increment's shingle rows, in storage form and the table's
    *    layout (below);
    *  - `{name}_inc_sig`, a scratch stage ([[graft.tables.Scratch.stage]])
    *    of (id, n_sh, one bucket per band), which the band and size deltas
    *    project;
    *  - `{name}_inc_cands`, a scratch stage of the capped candidate pairs.
    * The verification shingles (stored candidates ∪ the increment) are not
    * staged: the returned pairs plan derives them in-plan, and the two sides
    * of its Jaccard self-join share one exchange over them. So the stored
    * shingle table is scanned by the returned plan, once, when it runs.
    *
    * Stage lifetime: the shingle rows are staged under the STORE's root,
    * at `.publish/{name}_shingles/<application id>_g<n>`
    * ([[TableStore.stage]]), so the commit publishes them by rename on one
    * file system; no table read, data-file listing, freshness key or
    * compaction trigger sees them there. The next shingle stage of the
    * same index sweeps generations more than keepLast behind, and any
    * stage left by another application (a crashed writer's). So commit
    * each stage before starting more than keepLast further probes of the
    * SAME index name, or the commit fails loudly with
    * FileNotFoundException — always before the sizes append, so the
    * batch's docs stay out of [[knownIds]] and a replay recomputes them.
    * Probe-then-commit per batch (the streaming sink's shape) never
    * approaches the bound.
    *
    * `broadcastCandBytes` bounds the on-disk size of the staged `cands`
    * pair file (two id columns per candidate pair), not of the candidate-doc
    * id list derived from it: the candidate docs are broadcast into the
    * stored-index scans only while that pair file is at most this size. The
    * pair file is about 2× the candidate-doc ids, so the default 8 MB stops
    * broadcasting at roughly 4 MB of candidate-doc ids.
    *
    * Evaluate the returned pairs before [[commitIncrement]]: they read the
    * increment's shingles from its stage, whose files the commit moves into
    * the table. ([[dedupIncrement]] commits first, so its pairs verify
    * against the committed table instead.)
    */
  def probeIncrement(store: TableStore, name: String, inc: DataFrame,
      idCol: String, textCol: String, n: Int = 3, k: Int = 12, bands: Int = 3,
      threshold: Double = 0.8, bucketCap: Int = Int.MaxValue,
      digest: Boolean = false,
      broadcastCandBytes: Long = 8L << 20): (DataFrame, IncrementStage) = {
    val (verified, stage) = probe(store, name, inc, idCol, textCol, n, k,
      bands, threshold, bucketCap, digest, broadcastCandBytes)
    (verified(false), stage)
  }

  /** [[probeIncrement]]'s stages and candidates, with its verified pairs as
    * a function of whether the increment's shingles have been committed:
    * before the commit they are read from the stage, after it from the
    * table (read when the function is called), which then holds them. */
  private def probe(store: TableStore, name: String, inc: DataFrame,
      idCol: String, textCol: String, n: Int, k: Int, bands: Int,
      threshold: Double, bucketCap: Int, digest: Boolean,
      broadcastCandBytes: Long): (Boolean => DataFrame, IncrementStage) = {
    require(k % bands == 0, s"k ($k) must be divisible by bands ($bands)")
    require(bucketCap >= 0,
      s"bucketCap must be >= 0 (0 = the stored [[capIfUnhealthy]] policy, " +
        s"uncapped when none exists), got $bucketCap")
    // bucketCap = 0 opts into the persisted probe policy: the cap
    // capIfUnhealthy derived on the health cadence, uncapped until the
    // bell first rings — how a long-lived probe loop picks up the
    // clapper's decision without a config change
    val cap =
      if (bucketCap == 0) storedBucketCap(store, name).getOrElse(Int.MaxValue)
      else bucketCap
    // the stored schema records which mode AND layout the index was BUILT
    // with — a mismatched `digest` here would only surface later as a
    // cryptic append-schema conflict, after the increment was already
    // shingled; the bucket modulus rides the same schema (see bktCol)
    val shSchema = store.read(shinglesT(name)).schema
    val storedDigest = shSchema("shingle").dataType ==
      org.apache.spark.sql.types.BinaryType
    require(storedDigest == digest,
      s"index '$name' was built with digest=$storedDigest; call dedupIncrement " +
        s"with digest=$storedDigest (band buckets are only comparable under " +
        "the hashing mode the index was built with)")
    // written ONCE, in storage form and in the table's layout, beside the
    // shingle table: every verify-side consumer scans it (no re-shingling;
    // in digest mode 16-byte digests, not text), and the commit publishes
    // these very files by rename instead of reading them back into an
    // append. Input fanned by id — explode/digest/write parallelism, see
    // build().
    val idBuckets = idBucketsOf(shSchema)
    val (shLaid, layout) = inLayout(
      toStored(Dedup.shingleIndex(Fan.out(inc, col(idCol)), idCol, textCol, n),
        idCol, digest),
      idCol, idBuckets)
    val shStage = store.stage(shinglesT(name), shLaid, layout)
    val shInc = toLogical(dropBkt(shStage.rows), idCol, digest)
    // ONE aggregation over the STAGED shingles produces both the size delta
    // and the band buckets, staged narrow: (id, n_sh, one bucket per band)
    // — the k minima are folded into the buckets in the agg, because
    // nothing downstream reads them. The band explode and the size
    // projection are cheap maps over this one staged table, so neither
    // needs its own stage write. The agg reads the staged parquet back —
    // the increment text is shingled exactly once, and the staged rows are
    // by construction the rows every downstream consumer (probe, commit)
    // sees, with no determinism assumption on the input plan. (r21 instead
    // overlapped the stage write with an agg that re-evaluated the shingle
    // plan; the concurrent fanned jobs collapsed the local[32] bench — see
    // build().)
    val sigInc = Scratch.stage(
      Dedup.bandSignatureWithSize(shInc, idCol, k, bands),
      s"${name}_inc_sig")
    val ebInc = Dedup.bandRows(sigInc, idCol, bands)
    val sizesInc = sigInc.select(col(idCol), col("n_sh"))
    // probe: increment band rows vs stored ∪ staged bands (the stored index
    // does NOT yet contain the increment; the union reproduces the
    // post-append candidate space, so inc-inc pairs surface too —
    // identical to minhashDedupIncremental's ebInc ⋈ eb(base ∪ inc)).
    // `bucketCap` bounds the per-probe fan-out on hot stored buckets via
    // rep-star pairing (Dedup.probeCappedPairs) — without it a boilerplate
    // flood in the history makes every probing crawl doc emit one candidate
    // per flood member.
    val eb = store.read(bandsT(name)).unionByName(ebInc)
    // distinctStats: crash-residue duplicate band rows must not inflate a
    // bucket past the cap (which would star-pair it and drop true pairs)
    val cands = Scratch.stage(
      Dedup.probeCappedPairs(ebInc, eb, idCol, cap, distinctStats = true),
      s"${name}_inc_cands")
    // NOT staged (one fewer Spark job per increment — r22): the
    // union+distinct over the just-staged cands parquet is a small shuffle
    // each consumer (the verify plan, the bucketed collect) re-derives
    // in-job, cheaper than a dedicated stage write at any scale where cands
    // itself is staged and capped.
    val candDocs = cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol))).distinct()
    // candidate-doc sets are bucketCap-bounded in practice and a broadcast
    // semi-join restricts the stored-index scans without shuffling them —
    // but a huge increment probed against a dirty history can exceed the
    // driver/broadcast limit, so above `broadcastCandBytes` of staged
    // cands pair parquet the hint is dropped and the semi-join shuffles
    // (AQE still promotes it back if runtime stats allow). The gate reads
    // the CANDS stage's FILE-SIZE metadata (cands was just written by
    // Scratch.stage, so its leaf-relation stats are the listed file
    // lengths) — no extra count() job runs, and candDocs' distinct ids are
    // by construction no larger than cands' pair rows, so gating on cands
    // only errs conservative. The default is deliberately conservative
    // anyway: COMPRESSED parquet of id columns under-states the in-memory
    // HashedRelation several-fold (the store's zstd stage of string doc-id
    // pairs measured 12.9 B/row — 20.1 under the snappy it replaced — on
    // the crawl_dedup seed-11 corpus's 2,798 candidate pairs, vs ~60-80
    // B/row hashed), so 8 MB on disk (~650k pairs; ~420k under snappy)
    // bounds the broadcast near spark.sql.autoBroadcastJoinThreshold-scale
    // heap.
    val candKeys =
      if (cands.queryExecution.optimizedPlan.stats.sizeInBytes <= broadcastCandBytes)
        broadcast(candDocs)
      else candDocs
    // verification shingles: stored candidates ∪ the staged increment's
    // rows (an inc doc's shingles exist ONLY in its stage until commit). The
    // distinct() is crash-residue hygiene, not normal-path dedup: a commit
    // that died between its shingle publish and size append leaves orphan
    // shingle rows that a replayed batch re-publishes, and without the
    // distinct a later probe would double-count n_inter for that doc
    // (jaccard > 1).
    // NOT staged: its one reader is the Jaccard self-join, whose two sides
    // shuffle this same frame on `shingle`, so Spark plans that exchange
    // once and reuses it for the other side — the stored-shingle scan runs
    // once per probe either way, and a stage would only add a write and a
    // read of the candidate shingles. Cost is bounded — shCand is the
    // capped candidate set, not the corpus.
    def verified(committed: Boolean): DataFrame = {
      val stored = candidateShingles(store, name, candDocs, idCol, digest, idBuckets)
      val shCand = (if (committed) stored
        else stored.unionByName(shInc)) // LOGICAL form both sides —
        // candidateShingles emits hex in digest mode, and a stored/binary
        // branch would union-coerce to garbage strings that never match
        .join(candKeys, Seq(idCol), "left_semi")
        .distinct()
      // same hygiene as shCand: a doc's size row must count once even if
      // the stored listing includes a committed copy beside the staged one
      val sizesCand = store.read(sizesT(name)).unionByName(sizesInc)
        .join(candKeys, Seq(idCol), "left_semi").distinct()
      Dedup.jaccardPairsWithSizes(shCand, sizesCand, idCol)
        .join(cands, Seq("id_a", "id_b"), "left_semi")
        .filter(col("jaccard") >= threshold)
    }
    (verified, IncrementStage(sizesInc, ebInc, shStage))
  }

  /** [[dedupIncrement]]'s commit HALF: add the staged deltas to the three
    * index tables — publish the shingle stage's files
    * ([[TableStore.publish]]: renames, no Spark job, no second write of
    * the rows), append the band rows, append the size rows. Two Spark jobs.
    *
    * The crash-safety contract is SIZES LAST: sizes is the membership
    * table [[knownIds]] and every re-delivery guard key on, so a doc is
    * "in the index" only once ALL its rows are. The shingle and band steps
    * carry no ordering constraint BETWEEN them for recovery — a crash
    * leaving any subset of shingle-file/band residue for docs absent from
    * sizes is the same case either way (the replayed batch passes the
    * guard, re-probes — probe-side distinct neutralizes the residue — and
    * re-commits, at-least-once, never a silently unmatchable doc); the
    * sizes append starts only after both have durably finished. The
    * publish goes FIRST because it is the step that checks the stage is
    * whole: a stage already committed (or swept) throws there, before any
    * table moves, instead of after a duplicate band append. All steps run
    * sequentially: r21 overlapped two appends and the extra concurrent job
    * was part of what collapsed the local[32] bench (d8 3.06 → 8.65 s).
    */
  def commitIncrement(store: TableStore, name: String, stage: IncrementStage): Unit = {
    // opened BEFORE the commit steps: probes the hot-bucket sketch and
    // witness once each, and lists the bands table only when one of them
    // exists (a clapper built it) — an index nobody polls pays neither
    val fold = HotKeySketch.open(store, hhSketchT(name), hhWitnessT(name),
      bandsT(name))
    store.publish(stage.shStage)
    store.append(bandsT(name), stage.bands)
    store.append(sizesT(name), stage.sizes)
    // O(batch) fold of the staged bands into sketch + witness in one pass
    // — what keeps [[capIfUnhealthy]]'s routine poll off the corpus
    // tables. Crash-safe through the memo key, not through ordering: a
    // commit that dies before this fold leaves them stamped with a bands
    // key that has moved on, so the next poll reads them as absent and
    // re-baselines exactly
    fold.foreach(HotKeySketch.foldAll(store, _, stage.bands.select(hhKey.as("k"))))
  }

  /** [[AnnIndex.Health]]'s MinHash twin. `maxBucketFrac` is the
    * hot-bucket skew signal: probe cost assumes band buckets hold a
    * handful of docs, and a bucket holding a large fraction of the
    * corpus (boilerplate flood) makes every probing doc that lands in it
    * fan out accordingly — the `bucketCap` star-pairing knob is the
    * mitigation, this number says whether it is needed.
    *
    * PAGE-WORTHY LEVEL, measured (ScaleStress lexskew, 45k-doc index,
    * 200-doc probes, BENCH_LOCAL_r16.md §9): at maxBucketFrac = 0.116
    * the UNCAPPED probe took 160 s vs 3.0 s capped (54×, 104 599 audit
    * pairs vs 29 star pairs); at 0.465 the uncapped verification join
    * degenerated to a SINGLE-KEY shuffle task (a flood text's shingle
    * maps to 18k docs — AQE cannot split one key) and was killed after
    * 47 minutes, while the capped probe stayed flat at 2.6 s. **Alert —
    * and set `bucketCap` — as soon as maxBucketFrac · nDocs exceeds a
    * few × the cap you'd choose**; there is no graceful uncapped regime
    * above ~0.1. [[capIfUnhealthy]] is this bell's clapper: it derives
    * and persists the cap on that exact rule, and `bucketCap = 0` probes
    * pick it up.
    */
  final case class Health(
      nDocs: Long, nShingleRows: Long, nBandRows: Long,
      maxBucketFrac: Double, hotBucketRows: Long, bandsFiles: Int,
      shinglesFiles: Int, sizesFiles: Int,
      // appended LAST (source-compat): the hottest band:bucket key
      // itself (max_by from the SAME aggregate — no second bands scan),
      // what the clapper's witness records; "" on an empty index. Ties
      // resolve arbitrarily: any argmax key is an equally exact witness
      hotBucketKey: String = "")

  private def healthCacheT(name: String) = s"${name}_health_cache"
  private def capPolicyT(name: String) = s"${name}_cap_policy"
  private def hhSketchT(name: String) = s"${name}_hh_sketch"
  private def hhWitnessT(name: String) = s"${name}_hh_witness"
  private def hhKey =
    concat(col("band").cast("string"), lit(":"), col("bucket").cast("string"))
  private def dataTables(name: String) = Seq(bandsT(name), shinglesT(name), sizesT(name))

  /** The index's memos ([[IndexState]]): the health cache over the three
    * data tables, the hot-bucket sketch and witness over the bands. */
  private def memos(name: String) = Seq(
    IndexState.Memo(healthCacheT(name), dataTables(name)),
    IndexState.Memo(hhSketchT(name), Seq(bandsT(name))),
    IndexState.Memo(hhWitnessT(name), Seq(bandsT(name))))

  /** Compute [[Health]]: a (band, bucket)-grouped count over the bands
    * table (map-side combined), two narrow counts, three file listings.
    * Safe after every increment — and free to POLL: the aggregates are
    * cached in a 1-row `{name}_health_cache` memo of the three tables
    * ([[IndexState]]), so a monitoring loop between increments reads one
    * row instead of re-aggregating the bands table, and the worst case
    * (first call after a mutation) is exactly the old cost.
    */
  def health(store: TableStore, name: String): Health = {
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    val key = IndexState.key(store, dataTables(name): _*)
    // a pre-hot_key cache row throws on fieldIndex: a miss, so legacy
    // caches migrate on their next recompute
    val (nDocs, nShingles, total, hot, hotKey) =
      IndexState.read(store, healthCacheT(name), key) { c =>
        val r = c.collect()(0)
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(r.fieldIndex("hot_key")))
      }.getOrElse {
        val nd = store.read(sizesT(name)).count()
        val ns = store.read(shinglesT(name)).count()
        val byBucket = store.read(bandsT(name))
          .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("n"))
          .agg(sum(col("n")).as("total"), max(col("n")).as("hot"),
            max_by(hhKey, col("n")).as("hotk"))
          .collect()(0)
        val t = if (byBucket.isNullAt(0)) 0L else byBucket.getLong(0)
        val h = if (byBucket.isNullAt(1)) 0L else byBucket.getLong(1)
        val hk = if (byBucket.isNullAt(2)) "" else byBucket.getString(2)
        IndexState.write(store, healthCacheT(name), key)(Seq((nd, ns, t, h, hk))
          .toDF("n_docs", "n_shingles", "n_band_rows", "hot_bucket", "hot_key"))
        (nd, ns, t, h, hk)
      }
    Health(nDocs, nShingles, total,
      if (nDocs == 0) 0.0 else hot.toDouble / nDocs,
      hot, key.files(0), key.files(1), key.files(2), hotBucketKey = hotKey)
  }

  /** The hot-bucket sketch's upper bound — the shared [[HotKeySketch]]
    * over `band:bucket` keys, a memo of the bands table (a sketch that
    * missed ANY mutation reads as absent, so undercounting — the one
    * unsafe direction — is structurally impossible; at the default
    * geometry routine polls stay short-circuited to ≈ 4M docs per index
    * at the default budget, then degrade to exact, never to wrong).
    */
  private[ext] def hhUpperBound(store: TableStore, name: String): Option[Long] =
    HotKeySketch.upperBound(store, hhSketchT(name),
      IndexState.key(store, bandsT(name)))

  /** The `{name}_cap_policy` row — (bucket_cap, hot_rows), read through
    * [[Clapper.readPolicy]]: absent is no policy, unreadable throws. */
  private def readCapPolicy(store: TableStore, name: String): Option[(Int, Long)] =
    Clapper.readPolicy(store, capPolicyT(name))(_.collect().headOption
      .map(r => (r.getInt(r.fieldIndex("bucket_cap")),
        r.getLong(r.fieldIndex("hot_rows"))))).flatten

  /** The probe-side bucket cap [[capIfUnhealthy]] last derived and
    * persisted for this index, if any — what `bucketCap = 0` on
    * [[probeIncrement]]/[[dedupIncrement]] resolves to. An absent policy
    * is read twice ([[Clapper.readPolicy]]): [[capIfUnhealthy]]'s
    * overwrite swap has a two-rename window where the table is briefly
    * absent, and a probe that misread it as "no policy" would run one
    * batch uncapped on a flooded index (a one-off quadratic AND a
    * different kept set). A policy table that exists but cannot be read
    * throws, naming the table — it never reads as "no policy".
    */
  def storedBucketCap(store: TableStore, name: String): Option[Int] =
    readCapPolicy(store, name).map(_._1)

  /** What [[capIfUnhealthy]] decided: whether the hot-bucket bell rang,
    * the numbers it was judged against (rows in the hottest band bucket
    * vs the scan budget), the mean bucket size the cap was derived from
    * (0 when it declined — the trigger path alone pays the bucket
    * count), the policy in force AFTER the call (newly derived, or
    * the pre-existing one on a decline; None when no policy exists),
    * and whether this call RETIRED a pre-existing policy (the
    * `retireFraction` hysteresis leg). `cap` is None on a retire AND on
    * any no-policy decline — `retired`, not `cap.isEmpty`, is the
    * retire signal.
    */
  final case class CapDecision(
      triggered: Boolean, hotBucketRows: Long, hotBucketBudget: Long,
      meanBucketRows: Double, cap: Option[Int], retired: Boolean = false)

  /** Retire the stored probe-cap policy — the clapper's UN-ring, for
    * after the flood source is fixed upstream (takedown / upstream
    * dedup of the boilerplate source). A stored finite cap is never
    * wrong on a clean index — organic band buckets sit far under any
    * derived cap, so the kept set is identical — but it is not free:
    * every `bucketCap = 0` probe pays the capped path's per-bucket
    * stats aggregate instead of the plain `Int.MaxValue` short-circuit
    * join (measured constant on the 0%-flood lexskew row: 3.06 s
    * capped-64 vs 1.84 s uncapped, BENCH_LOCAL_r18.md §5), and the
    * rearm baseline persisted with the policy keeps the bell from
    * re-deriving until the NEXT flood is `rearmFactor ×` the OLD one.
    * Clearing restores the uncapped probe plan and fully re-arms the
    * bell; the witness goes with the policy ([[Clapper.clearPolicy]]).
    * Returns whether a policy existed. [[capIfUnhealthy]]'s
    * `retireFraction` is this call on an automatic hysteresis trigger.
    */
  def clearCapPolicy(store: TableStore, name: String): Boolean =
    Clapper.clearPolicy(store, Seq(capPolicyT(name)), hhWitnessT(name))

  /** The ONE statement of [[capIfUnhealthy]]'s parameter bounds — the
    * function validates through this, and [[graft.streaming.Streams
    * .GateCapPolicy]] calls it at CONSTRUCTION, so the sink-policy
    * mirror can never drift from the callee's rules.
    */
  private[graft] def requireCapParams(hotBucketBudget: Long, capFactor: Long,
      rearmFactor: Double, retireFraction: Double): Unit = {
    require(hotBucketBudget >= 1,
      s"hotBucketBudget must be >= 1, got $hotBucketBudget")
    require(capFactor >= 1, s"capFactor must be >= 1, got $capFactor")
    Clapper.requireRearm(rearmFactor)
    Clapper.requireRetire(retireFraction)
  }

  /** [[AnnIndex.rebuildIfUnhealthy]]'s lexical twin — the clapper for
    * the [[Health.maxBucketFrac]] bell. The lexical index has no rebuild
    * action that can help: band buckets are CONTENT-determined, so
    * rebuilding from the same corpus reproduces the same hot buckets
    * (unlike IVF geometry, which fresh k-means can fix). The measured
    * fix is probe-side (BENCH_LOCAL_r16.md §9: the uncapped probe is 54×
    * slower at maxBucketFrac 0.116 and collapses onto a single shuffle
    * key at 0.465 — there is no graceful uncapped regime): cap hot
    * buckets so they star-pair with their min-id rep. This derives that
    * cap and persists it as the index's probe POLICY — callers passing
    * `bucketCap = 0` pick it up on their next probe, and
    * [[graft.streaming.Streams.retrievalIngestSink]] gates under a
    * `GateCapPolicy` min-compose it with their static pre-ring bound —
    * so the bell's consumer is one call on the health cadence, not an
    * operator action.
    *
    *   - BELL: rows in the hottest band bucket (`maxBucketFrac × nDocs`)
    *     ≥ `hotBucketBudget`. The budget is the m where the O(m²)
    *     verification join stops being acceptable — default 4096 (≈16M
    *     candidate pairs from one bucket; the measured 54× slowdown was
    *     at m ≈ 5.2k on 45k docs).
    *   - CAP: `capFactor ×` the mean band-bucket size (floor 64) — the
    *     same "only DEGENERATE buckets are hot" rule the sink's clustered
    *     pairing uses for clusters: a flood bucket is orders over the
    *     mean, so the cap binds it without touching organic buckets.
    *   - THRASH GUARD: the ringing `hot_rows` persists with the policy,
    *     and the bell re-rings only at `rearmFactor ×` that baseline —
    *     a still-flooded corpus (the fix is upstream dedup / takedown)
    *     must not re-derive every batch. `rearmFactor = 0` disables the
    *     guard (re-derive whenever over budget).
    *   - RETIRE (the un-ring, opt-in): once that upstream fix lands —
    *     the flood taken down via [[deleteIds]] — the stored cap is no
    *     longer needed, and it is not free (see [[clearCapPolicy]]).
    *     With `retireFraction > 0`, a poll that finds a policy in force
    *     while the hottest bucket has fallen to ≤ `retireFraction ×
    *     hotBucketBudget` clears it: the probe plan goes back to the
    *     uncapped short-circuit and the bell re-arms fresh (no stale
    *     rearm baseline). The fraction is a HYSTERESIS band — retire
    *     well under the ring bar (0.25-0.5 is sensible) so a flood
    *     oscillating around the budget cannot flap the probe plan
    *     capped↔uncapped batch to batch. Default 0 = never retire
    *     (today's semantics; a stale cap costs a constant, never
    *     recall on organic buckets).
    *
    * Steady-state cost (r19): one fixed-width sketch read plus one
    * 1-row policy read — FLAT in corpus size, because the first ask
    * builds a hot-bucket CMS that [[commitIncrement]] folds per batch
    * and subsequent asks arbitrate from its upper bound ([[Clapper.ask]]
    * — the one sketch-gated ask, shared with the BM25 twin). With a
    * policy IN FORCE and `retireFraction > 0`, the poll consults the hot
    * WITNESS too — the last exact pass's hottest bucket with its EXACT
    * count, folded per commit under the same memo key — whose lower
    * bound disproves a retire in O(1), so the standing-policy state
    * (the organic flood the cap exists for) also polls flat. The
    * corpus-sized aggregate is paid only when neither bound proves the
    * decision (transitions: a possible ring, or the witness bucket
    * itself declined); the trigger path additionally pays the bucket
    * count the cap derivation needs. Decisions are IDENTICAL to the
    * exact path (DedupIndexSpec pins sketch-vs-exact agreement); only
    * `hotBucketRows` coarsens to the upper bound on short-circuited
    * declines/retires.
    */
  def capIfUnhealthy(store: TableStore, name: String,
      hotBucketBudget: Long = 4096, capFactor: Long = 8,
      rearmFactor: Double = 1.25, retireFraction: Double = 0.0): CapDecision = {
    requireCapParams(hotBucketBudget, capFactor, rearmFactor, retireFraction)
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    val prev = readCapPolicy(store, name)
    Clapper.ask(store, hhSketchT(name), hhWitnessT(name), bandsT(name),
      store.read(bandsT(name)).select(hhKey.as("k")), hotBucketBudget,
      prev.map(_._2), rearmFactor, retireFraction,
      clearCapPolicy(store, name)) { (hot, retired) =>
      CapDecision(triggered = false, hot, hotBucketBudget, 0.0,
        if (retired) None else prev.map(_._1), retired)
    } {
      val h = health(store, name)
      Clapper.Exact(h.hotBucketRows, h.nDocs > 0, h.hotBucketKey, () => {
        val nBuckets = store.read(bandsT(name))
          .select(col("band"), col("bucket")).distinct().count()
        val mean = if (nBuckets == 0) 0.0 else h.nBandRows.toDouble / nBuckets
        val cap = math.min(Int.MaxValue.toLong,
          math.max(64L, capFactor * math.ceil(mean).toLong)).toInt
        store.overwrite(capPolicyT(name),
          Seq((cap, h.hotBucketRows)).toDF("bucket_cap", "hot_rows"))
        CapDecision(triggered = true, h.hotBucketRows, hotBucketBudget, mean,
          Some(cap))
      })
    }
  }

  /** Periodic index maintenance: compact the three append-only tables.
    *
    * Every [[dedupIncrement]] run appends a few small parquet parts to
    * `_bands`/`_shingles`/`_sizes`; a year of daily crawls leaves each
    * table thousands of KB-sized files and every probe bounded by
    * file-open and footer latency instead of bytes — the classic
    * operational killer of an append-only index. This rewrites each table
    * into `targetBytes`-sized files through [[graft.tables.Compact]]'s
    * staging + atomic-rename swap (readers see old or new generation,
    * never a mix; content is bit-identical, so the next increment's pairs
    * are unchanged — DedupIndexSpec pins both), and re-stamps every memo
    * that was fresh going in ([[IndexState.compact]]). Run it on the
    * cadence the append rate dictates, e.g. weekly for daily increments.
    */
  def maintain(store: TableStore, name: String,
      targetBytes: Long = 128L << 20): Map[String, graft.tables.Compact.Stats] =
    IndexState.compact(store, dataTables(name), memos(name), targetBytes,
      shingleLayout(store, name))

  /** The bucketed shingle table must restate its hive layout or the
    * rewrite would collapse the partition dirs pruning depends on. */
  private def shingleLayout(store: TableStore, name: String)(t: String): Seq[String] =
    if (t != shinglesT(name)) Nil
    else {
      val nBkt = idBucketsOf(store.read(shinglesT(name)).schema)
      if (nBkt > 0) Seq(bktCol(nBkt)) else Nil
    }

  /** [[maintain]] behind an operational TRIGGER: compact only when one of
    * the three index tables has fragmented past `maxFiles` data files.
    * The health check is three recursive directory listings — driver-side
    * metadata, no Spark job — so callers run it after EVERY increment
    * instead of inventing an external cadence; for daily ~few-file appends
    * the default 64 fires roughly monthly. Returns the compaction stats
    * when it fired, None when the index was healthy (or never built).
    */
  def maintainIfNeeded(store: TableStore, name: String, maxFiles: Int = 64,
      targetBytes: Long = 128L << 20): Option[Map[String, graft.tables.Compact.Stats]] =
    IndexState.compactIfFragmented(store, dataTables(name), memos(name),
      maxFiles, targetBytes, shingleLayout(store, name))
}
