package graft.ext

import graft.tables.{Scratch, TableStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 lexical retrieval scoring (Robertson-Spärck Jones) with a RATIONAL
  * idf: the classic `ln((N-df+0.5)/(df+0.5))` is replaced by the odds ratio
  * itself — `ln` is monotone per term, but inside the cross-term SUM it is
  * a libm transcendental whose final ulp differs across engines, which the
  * cross-engine determinism contract forbids (see t5's idf, same choice).
  * Rankings shift slightly vs log-BM25 (rare terms weigh relatively more);
  * for a dedup/retrieval pre-filter that trade is standard and the scoring
  * stays bit-replayable.
  *
  * Scale shape: the term explode is filtered to the query vocabulary
  * IMMEDIATELY (a tiny isin on the generator output — only query-term
  * postings survive the explode), document length comes from a per-row
  * `size()` with no explode at all, and N/avgdl fold in as a broadcast
  * 1-row aggregate. Per-term scores pivot to FIXED columns so the final
  * sum runs in query-term order — deterministic doubles, no aggregation-
  * order drift.
  */
object Bm25 {

  def score(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "bm25: need at least one query term")
    require(queryTerms.distinct == queryTerms, "bm25: duplicate query terms")
    val toks = TextAnalysis.wsTokens(col(textCol))
    val lens = docs.select(col(idCol), size(toks).cast("double").as("dlen"))
    val stats = lens.agg(count(lit(1)).cast("double").as("_n"),
      (sum(col("dlen")) / count(lit(1))).as("_avgdl"))
    val postings = docs
      .select(col(idCol), explode(toks).as("term"))
      .filter(col("term").isInCollection(queryTerms))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).cast("double").as("tcnt"))
    val df_ = postings.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val scored = postings
      .join(broadcast(df_), Seq("term"))
      .join(lens, Seq(idCol))
      .crossJoin(broadcast(stats))
      .withColumn("idf", (col("_n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .withColumn("tscore",
        col("idf") * ((col("tcnt") * lit(k1 + 1.0)) /
          (col("tcnt") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dlen") / col("_avgdl")))))
    // positional conditional aggregation, NOT pivot: pivot turns raw query
    // terms into column names, and a term containing '.'/backticks — or one
    // equal to idCol — breaks resolution downstream. `_t$i` aliases are
    // collision-free by construction; the fixed index order doubles as the
    // deterministic summation order.
    val wide = scored.groupBy(col(idCol))
      .agg(
        max(when(col("term") === queryTerms.head, col("tscore"))).as("_t0"),
        queryTerms.zipWithIndex.tail.map { case (t, i) =>
          max(when(col("term") === t, col("tscore"))).as(s"_t$i")
        }: _*)
    val total = queryTerms.indices.map(i => coalesce(col(s"_t$i"), lit(0.0))).reduce(_ + _)
    // parallel top-k (TakeOrderedAndProject), never a global one-task
    // window over every matched doc; the rank window then sees k rows
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("score").desc, col(idCol))
    wide.select(col(idCol), total.as("score"))
      .orderBy(col("score").desc, col(idCol)).limit(topK)
      .withColumn("rnk", row_number().over(w))
  }

  /** Durable BM25 index — the retrieval artifact a corpus pipeline
    * persists so queries (and takedowns) never re-read base text. Three
    * tables: `<name>_postings` (id, term, tcnt) — the full-vocabulary
    * tokenize+count, the expensive part; `<name>_doclen` (id, dlen); and
    * a 1-row `<name>_stats` (n_docs, sum_dlen) cache.
    *
    * Deliberately NO persisted per-term df table: a term-equality filter
    * preserves global df exactly (df of term t = row count of t's
    * postings, filtered or not), so search derives df from the very rows
    * it already reads — and the takedown leg ([[deleteIds]]) becomes pure
    * row-drops with nothing to subtract. A persisted df would need a
    * counter adjustment that is NOT idempotent under cascade re-runs (a
    * crash between the postings rewrite and the df write double-subtracts
    * on retry) — the invariant "post-delete scores ≡ from-scratch rebuild
    * on survivors" holds here by construction instead of by bookkeeping.
    *
    * Scale shape: postings is one explode+groupBy over the corpus (the
    * build IS the shuffle you pay once); search reads postings with the
    * term filter pushed to the parquet scan, joins doclen only for
    * matched docs, and takes N/avgdl from the 1-row stats broadcast.
    * All counts persist as longs — exact in double up to 2^53, so scores
    * replay bit-identically across build/rebuild/adjust paths.
    */
  def buildIndex(store: TableStore, name: String, docs: DataFrame,
      idCol: String, textCol: String): Unit = {
    val toks = TextAnalysis.wsTokens(col(textCol))
    val lens = docs.select(col(idCol), size(toks).cast("long").as("dlen"))
    val postings = docs
      .select(col(idCol), explode(toks).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tcnt"))
    store.overwrite(s"${name}_postings", postings)
    store.overwrite(s"${name}_doclen", lens)
    writeStats(store, name)
  }

  /** Incremental append — the lexical side of the [[AnnIndex.append]]
    * contract: a new document's postings and doclen rows are DOC-LOCAL,
    * so indexing an increment appends rows without ever re-reading or
    * re-tokenizing the already-indexed corpus; stats recompute from the
    * updated doclen table. Post-append [[searchIndex]] equals a
    * [[buildIndex]] over the union double-for-double, because df, N, and
    * avgdl are all DERIVED from the rows present — there is no frozen
    * quantizer analogue here and no counter to adjust, which is exactly
    * why BM25 appends need no training artifact at all.
    *
    * Caller contract: `docs` must not contain already-indexed ids (their
    * postings would double-count) — guard a re-deliverable feed with an
    * anti-join against [[knownIds]], the DedupIndex idiom.
    *
    * Crash safety (the [[DedupIndex.commitIncrement]] append-order
    * contract): postings land BEFORE doclen, and doclen is the
    * membership table [[knownIds]] guards on — a crash between the two
    * appends leaves residue postings for docs the replayed batch (which
    * passes the guard) re-appends. [[searchIndex]] neutralizes exact
    * residue by construction (distinct-doc df, max-collapsed per-doc
    * term scores), so replay is at-least-once with unchanged scores —
    * never a silently half-indexed doc (the order doclen-first would
    * create exactly that).
    */
  def append(store: TableStore, name: String, docs: DataFrame,
      idCol: String, textCol: String): Unit = {
    // opened BEFORE the appends: probes the hot-term sketch and witness
    // once each, and lists the postings only when one of them exists
    val fold = HotKeySketch.open(store, dfSketchT(name), dfWitnessT(name),
      postingsT(name))
    val toks = TextAnalysis.wsTokens(col(textCol))
    // ONE evaluation of the caller's frame, snapshotted (the
    // [[DedupIndex.probeIncrement]] idiom): the postings half, the
    // doclen half, AND the sketch fold must all see the SAME pick of an
    // input that need not be deterministic under re-evaluation (a
    // limit() batch, a shuffling source). Without the snapshot the
    // doclen leg re-evaluates `docs`, and a doc present only in the
    // second pick enters membership with ZERO postings rows —
    // permanently unsearchable, with the knownIds guard blocking its
    // replay: exactly the half-indexed state the append-order contract
    // exists to prevent (row-level residue in the other direction is
    // search-neutralized; a membership row without postings cannot be).
    // The snapshot is also the single tokenize pass, and it REPLACES
    // the grouped-postings staging the fold alone used to pay.
    val staged = Scratch.stage(
      docs.select(col(idCol), toks.as("_toks")), s"${name}_app_toks")
    val grouped = staged
      .select(col(idCol), explode(col("_toks")).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tcnt"))
    // the folding path stages the GROUPED rows too (small — one row per
    // (doc, term)), so the fold below reads them back instead of paying
    // the explode+aggregate a second time; both stages are immutable
    // snapshots, so every leg still sees the same pick
    val newPostings =
      if (fold.nonEmpty) Scratch.stage(grouped, s"${name}_app_postings")
      else grouped
    store.append(postingsT(name), newPostings)
    store.append(s"${name}_doclen",
      staged.select(col(idCol), size(col("_toks")).cast("long").as("dlen")))
    writeStats(store, name)
    // O(batch) hot-term sketch + witness fold in ONE pass
    // ([[HotKeySketch.foldAll]]) — `newPostings` is a deterministic plan
    // over the immutable snapshot, so the fold sees exactly the appended
    // rows; crash-safe through the memo key, not ordering.
    fold.foreach(HotKeySketch.foldAll(store, _,
      newPostings.select(col("term").as("k"))))
  }

  /** Ids currently indexed — narrow scan of the doclen table (one row per
    * doc; postings would multiply the scan by the vocabulary). */
  def knownIds(store: TableStore, name: String, idCol: String): DataFrame =
    store.read(s"${name}_doclen").select(col(idCol))

  /** Full teardown of a stored index — postings, doclen, the stats row
    * and the health cache ([[graft.ext.DedupIndex.dropIndex]]'s BM25
    * twin). Row-level removal is [[deleteIds]]; this is the index-wide
    * DROP TABLE.
    */
  def dropIndex(store: TableStore, name: String): Unit =
    Seq(postingsT(name), doclenT(name), s"${name}_stats",
      healthCacheT(name), capPolicyT(name), stopTermsT(name),
      dfSketchT(name), dfWitnessT(name))
      .foreach(t => if (store.exists(t)) store.drop(t))

  /** [[graft.ext.DedupIndex.maintainIfNeeded]]'s lexical twin: compact
    * the postings and doclen tables once a long-lived append stream has
    * fragmented either past `maxFiles` data files (the stats cache is one
    * row — never fragments). Both tables are unpartitioned, so the sweep
    * is the no-shuffle coalesce path; content is untouched (memos that
    * were fresh going in are re-stamped, [[IndexState.compact]]), and the
    * driver-side listing makes the health check free enough to run after
    * every batch.
    */
  def maintainIfNeeded(store: TableStore, name: String, maxFiles: Int = 64,
      targetBytes: Long = 128L << 20)
      : Option[Map[String, graft.tables.Compact.Stats]] =
    IndexState.compactIfFragmented(store, dataTables(name), memos(name),
      maxFiles, targetBytes)

  /** [[AnnIndex.Health]]'s lexical twin. `maxTermFrac` is the hot-term
    * skew signal: the term-filtered postings scan assumes df ≪ N, and a
    * term present in most documents makes every query containing it pay
    * a near-full postings read (stopword-scale df — prune it query-side
    * or accept the cost knowingly).
    *
    * Measured context (ScaleStress bm25skew, 50k docs,
    * BENCH_LOCAL_r16.md §8): natural text ALREADY carries df≈0.79 terms
    * in this corpus, and search latency was flat (~0.6 s) from frac 0.79
    * to 0.84 — the postings read is a map-only scan and BM25's idf
    * discounts the term's score anyway, so maxTermFrac alone is a WEAK
    * page signal. The actionable quantity is maxTermFrac · nDocs — the
    * postings ROWS one query term drags in — judged against the
    * per-query scan budget at the deployment's corpus size, not a fixed
    * fraction. `staleStats` flags a stats cache
    * that disagrees with the doclen table (normally impossible —
    * [[refreshStats]] closes the crash window — so true here means
    * something external touched the tables).
    */
  final case class Health(
      nDocs: Long, nPostings: Long, vocab: Long, maxTermFrac: Double,
      postingsFiles: Int, doclenFiles: Int, staleStats: Boolean,
      // appended LAST (the GateCapPolicy source-compat lesson): the
      // hottest term's absolute df — the postings ROWS one query term
      // drags in, the actionable quantity the maxTermFrac scaladoc
      // derives and [[capIfUnhealthy]] judges against its budget
      hotTermRows: Long = 0L,
      // the hottest term itself (max_by from the SAME aggregate — no
      // second postings scan), what the clapper's witness records; ""
      // on an empty index. Ties resolve arbitrarily: any argmax term
      // is an equally exact witness
      hotTermKey: String = "")

  private def postingsT(name: String) = s"${name}_postings"
  private def doclenT(name: String) = s"${name}_doclen"
  private def healthCacheT(name: String) = s"${name}_health_cache"
  private def capPolicyT(name: String) = s"${name}_cap_policy"
  private def stopTermsT(name: String) = s"${name}_cap_stopterms"
  private def dfSketchT(name: String) = s"${name}_df_sketch"
  private def dfWitnessT(name: String) = s"${name}_df_witness"
  private def dataTables(name: String) = Seq(postingsT(name), doclenT(name))

  /** The index's memos ([[IndexState]]): the health cache over the two
    * data tables, the hot-term sketch and witness over the postings. */
  private def memos(name: String) = Seq(
    IndexState.Memo(healthCacheT(name), dataTables(name)),
    IndexState.Memo(dfSketchT(name), Seq(postingsT(name))),
    IndexState.Memo(dfWitnessT(name), Seq(postingsT(name))))

  /** Compute [[Health]]: one term-grouped count over postings (map-side
    * combined), one doclen count, two file listings, one stats-row read.
    * Safe after every append batch — and free to POLL: the aggregates
    * are cached in a 1-row `{name}_health_cache` memo of the two tables
    * ([[IndexState]]), so a monitoring loop between appends reads one
    * row instead of re-aggregating the postings table; the worst case
    * (first call after a mutation) is exactly the old cost.
    */
  def health(store: TableStore, name: String): Health = {
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    val key = IndexState.key(store, dataTables(name): _*)
    // a pre-hot_key cache row throws on fieldIndex: a miss, so legacy
    // caches migrate on their next recompute
    val (nDocs, total, hot, vocab, hotKey) =
      IndexState.read(store, healthCacheT(name), key) { c =>
        val r = c.collect()(0)
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(r.fieldIndex("hot_key")))
      }.getOrElse {
        val byTerm = store.read(postingsT(name))
          .groupBy(col("term")).agg(count(lit(1)).as("df"))
          .agg(sum(col("df")).as("total"), max(col("df")).as("hot"),
            count(lit(1)).as("vocab"), max_by(col("term"), col("df")).as("hotk"))
          .collect()(0)
        val nd = store.read(doclenT(name)).count()
        val t = if (byTerm.isNullAt(0)) 0L else byTerm.getLong(0)
        val h = if (byTerm.isNullAt(1)) 0L else byTerm.getLong(1)
        val hk = if (byTerm.isNullAt(3)) "" else byTerm.getString(3)
        IndexState.write(store, healthCacheT(name), key)(
          Seq((nd, t, h, byTerm.getLong(2), hk))
            .toDF("n_docs", "n_postings", "hot_df", "vocab", "hot_key"))
        (nd, t, h, byTerm.getLong(2), hk)
      }
    val statsN = store.read(s"${name}_stats")
      .select(col("n_docs")).collect()(0).getLong(0)
    Health(nDocs, total, vocab,
      if (nDocs == 0) 0.0 else hot.toDouble / nDocs,
      key.files(0), key.files(1), staleStats = statsN != nDocs,
      hotTermRows = hot, hotTermKey = hotKey)
  }

  /** The hot-term sketch bounding [[capIfUnhealthy]]'s routine poll —
    * [[HotKeySketch]] over the postings table's term occurrences (one
    * per (doc, term) row, so the hottest key's count IS the hottest df),
    * a memo of the postings table. Counting note: the whole
    * clapper system — [[health]]'s metric, this sketch, and the witness
    * — counts ROWS, deliberately, even though [[searchIndex]] scores
    * with DISTINCT-doc df: crash residue (see [[append]]) can duplicate
    * rows, and a row count is then a conservative ≥ of the scoring df —
    * the one-sided contracts (sketch ≥ metric ≥ witness) hold because
    * all three count the SAME thing; mixing a distinct-doc metric with
    * a row-counted witness would let the witness overstate it (a future
    * switch of the metric must move the witness fold with it). The one
    * artifact that must match the SCORING definition instead — the
    * materialized stop list — is derived distinct-counted at the ring
    * (see [[capIfUnhealthy]]). Same contract as the
    * DedupIndex twin: a sketch that missed any mutation reads as absent
    * (undercount impossible), exact asks re-baseline it, an index
    * nobody polls never carries one.
    */
  private[ext] def dfUpperBound(store: TableStore, name: String): Option[Long] =
    HotKeySketch.upperBound(store, dfSketchT(name),
      IndexState.key(store, postingsT(name)))

  /** The `{name}_cap_policy` row — (df_cap, hot_df), read through
    * [[Clapper.readPolicy]]: absent is no policy, unreadable throws. */
  private def readCapPolicy(store: TableStore, name: String): Option[(Long, Long)] =
    Clapper.readPolicy(store, capPolicyT(name))(_.collect().headOption
      .map(r => (r.getLong(r.fieldIndex("df_cap")),
        r.getLong(r.fieldIndex("hot_df"))))).flatten

  /** The df-cap [[capIfUnhealthy]] last derived and persisted for this
    * index, if any — what `termDfCap = 0` on [[searchIndex]] resolves to.
    * An absent policy is read twice, the [[DedupIndex.storedBucketCap]]
    * rationale verbatim: the writer's overwrite swap has a two-rename
    * window where the table is briefly absent, and a search that misread
    * it as "no policy" would pay one full hot-term postings scan on a
    * flooded index. A policy table that exists but cannot be read
    * throws, naming the table.
    */
  def storedDfCap(store: TableStore, name: String): Option[Long] =
    readCapPolicy(store, name).map(_._1)

  /** The query terms the stored policy would PRUNE — the intersection of
    * `queryTerms` with the persisted stop-term list, read like the policy
    * row ([[Clapper.readPolicy]]: both tables swap in the same clapper
    * call). GATED ON THE POLICY ROW, not on the stop table's
    * existence: [[capIfUnhealthy]] writes the stop list first and the
    * policy row last, so a crash between the two leaves an orphaned stop
    * list that must stay inert — no policy in force means no pruning,
    * whatever tables exist. Scan shape: one 1-row policy read plus a
    * term-filtered read of the SMALL stop table (≤ nPostings / df_cap
    * terms by construction), never the postings — this lookup is what
    * lets the search prune BEFORE paying the hot term's postings scan.
    */
  private def storedStopTerms(store: TableStore, name: String,
      queryTerms: Seq[String]): Set[String] =
    if (storedDfCap(store, name).isEmpty) Set.empty
    else Clapper.readPolicy(store, stopTermsT(name))(
      _.filter(col("term").isInCollection(queryTerms))
        .select(col("term")).collect().map(_.getString(0)).toSet)
      .getOrElse(Set.empty)

  /** Retire the stored df-cap policy — the clapper's un-ring, for after
    * the flood source is fixed upstream (takedown of the boilerplate
    * docs whose shared vocabulary rang the bell). Searches go back to
    * scoring every query term; the bell re-arms fresh (no stale rearm
    * baseline); the witness goes with the policy
    * ([[Clapper.clearPolicy]]). Natural-language stopwords never go
    * away, so on an organic corpus a derived policy normally stays in
    * force — retire is for floods, not for "the". Returns whether a
    * policy existed. [[capIfUnhealthy]]'s `retireFraction` is this call
    * on an automatic hysteresis trigger.
    */
  def clearCapPolicy(store: TableStore, name: String): Boolean =
    Clapper.clearPolicy(store, Seq(capPolicyT(name), stopTermsT(name)),
      dfWitnessT(name))

  /** What [[capIfUnhealthy]] decided: whether the hot-term bell rang, the
    * numbers it was judged against (the hottest term's df vs the scan
    * budget), the df-cap in force AFTER the call (newly derived, or the
    * pre-existing one on a decline; None when no policy exists), how many
    * terms the persisted stop list holds (0 when it declined — the
    * trigger path alone pays the vocabulary aggregate), and whether this
    * call RETIRED a pre-existing policy. `cap` is None on a retire AND on
    * any no-policy decline — `retired`, not `cap.isEmpty`, is the retire
    * signal.
    */
  final case class CapDecision(
      triggered: Boolean, hotTermRows: Long, hotTermBudget: Long,
      cap: Option[Long], nStopTerms: Long, retired: Boolean = false)

  /** The ONE statement of [[capIfUnhealthy]]'s parameter bounds — the
    * function validates through this, and [[graft.streaming.Streams
    * .Bm25CapPolicy]] calls it at CONSTRUCTION, so the sink-policy mirror
    * can never drift from the callee's rules.
    */
  private[graft] def requireCapParams(hotTermBudget: Long,
      rearmFactor: Double, retireFraction: Double): Unit = {
    require(hotTermBudget >= 1,
      s"hotTermBudget must be >= 1, got $hotTermBudget")
    Clapper.requireRearm(rearmFactor)
    Clapper.requireRetire(retireFraction)
  }

  /** The hot-term bell's clapper — [[DedupIndex.capIfUnhealthy]]'s BM25
    * twin, closing the one bell-without-clapper gap: [[Health]] carries a
    * measured rows-per-term alert (`maxTermFrac · nDocs` vs the per-query
    * scan budget) but through r18 had no policy consumer, so a
    * stopword-flooded postings list stayed an operator action. Ring /
    * rearm / retire arbitration is [[Clapper]], shared with the lexical
    * and ANN clappers.
    *
    *   - BELL: the hottest term's df (`Health.hotTermRows`) ≥
    *     `hotTermBudget`. The budget is the postings-scan size per query
    *     term the deployment accepts — rows, not a fraction, because the
    *     cost of a query term IS its df (the term-filtered scan reads
    *     exactly df rows).
    *   - CAP: `df_cap = hotTermBudget` itself — deliberately NOT the
    *     `capFactor × mean` rule the lexical clapper uses. Band buckets
    *     are near-uniform (organic buckets hold 1-2 rows), so a
    *     mean-multiple isolates degenerate buckets there; term df is
    *     ZIPF-distributed, and a mean-multiple would prune the useful
    *     mid-frequency vocabulary wholesale (mean df is single-digit on
    *     natural text while "the" is 0.8 · N). The budget is the one bar
    *     that means the same thing for ringing and for pruning: a term
    *     at/over it costs more scan than the deployment accepts.
    *   - ACTION: persist the df-cap AND the current stop-term list —
    *     every term with df ≥ df_cap, a table bounded by nPostings /
    *     df_cap entries — so [[searchIndex]] under the policy prunes
    *     those terms BEFORE the postings scan (the saving; df is only
    *     knowable by scanning, so pre-scan pruning needs the
    *     materialized list). Pruning a stopword-scale term trades a
    *     near-zero score contribution (rational idf at df ≈ N is ≈ 0)
    *     for skipping its near-full postings read; size the budget so
    *     that trade holds at the deployment's corpus size. Terms that
    *     cross the cap AFTER derivation stay scored until the clapper's
    *     next ring refreshes the list (clapper-cadence staleness — the
    *     same contract as the lexical cap).
    *   - THRASH GUARD / RETIRE: [[Clapper]] semantics verbatim — re-ring
    *     only at `rearmFactor ×` the persisted ringing df; with
    *     `retireFraction > 0`, a poll that finds the hottest df fallen
    *     to ≤ `retireFraction × hotTermBudget` (a takedown removed the
    *     flood) clears the policy and re-arms the bell.
    *
    * Steady-state cost: one fixed-width sketch read plus one 1-row
    * policy read — FLAT in corpus size, the [[DedupIndex.capIfUnhealthy]]
    * sketch contract verbatim (lazy first build, per-append fold,
    * exact-pay re-baseline, memo-key-enforced no-undercount),
    * INCLUDING the standing-policy state: with a policy in force and
    * `retireFraction > 0` the poll consults the hot WITNESS (the last
    * exact pass's hottest term with its exact df, per-append folded),
    * whose lower bound disproves a retire in O(1) — the organic
    * stopword policy that never retires polls flat, paying the
    * vocabulary aggregate only at transitions. Only the trigger path
    * pays the stop-list derivation.
    */
  def capIfUnhealthy(store: TableStore, name: String,
      hotTermBudget: Long = 262144, rearmFactor: Double = 1.25,
      retireFraction: Double = 0.0): CapDecision = {
    requireCapParams(hotTermBudget, rearmFactor, retireFraction)
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    val prev = readCapPolicy(store, name)
    // [[Clapper.ask]] — the one sketch-gated ask, shared with the
    // DedupIndex twin: anything the bound cannot prove pays exact and
    // re-baselines. Decisions identical; `hotTermRows` coarsens to the
    // bound on short-circuited asks.
    Clapper.ask(store, dfSketchT(name), dfWitnessT(name), postingsT(name),
      store.read(postingsT(name)).select(col("term").as("k")), hotTermBudget,
      prev.map(_._2), rearmFactor, retireFraction,
      clearCapPolicy(store, name)) { (hot, retired) =>
      CapDecision(triggered = false, hot, hotTermBudget,
        if (retired) None else prev.map(_._1), 0L, retired)
    } {
      val h = health(store, name)
      Clapper.Exact(h.hotTermRows, h.nDocs > 0, h.hotTermKey, () => {
        val posts = store.read(postingsT(name))
        // the id column is whatever the caller named it at build time;
        // the stored schema is exactly [idCol, term, tcnt], and any
        // drift (a mergeSchema append widening the table) must fail
        // HERE, loudly — not silently countDistinct the wrong column
        val rest = posts.columns.filterNot(Set("term", "tcnt"))
        require(rest.length == 1,
          s"postings schema drifted — expected [id, term, tcnt], " +
            s"found non-standard columns: ${posts.columns.toSeq}")
        val idc = rest.head
        // the LIST prunes by DISTINCT-doc df — the quantity its
        // consumer scores and explicitly caps on ([[searchIndex]]) —
        // so the stored≡explicit equivalence holds even over crash
        // residue rows, which a row count would double. The RING
        // above stays row-counted (with the sketch and witness — see
        // the counting note on [[dfUpperBound]]); a residue-only
        // ring just materializes a shorter (possibly empty) list.
        val stop = posts.groupBy(col("term"))
          .agg(countDistinct(col(idc)).as("df"))
          .filter(col("df") >= hotTermBudget)
        // stop list FIRST, policy row LAST: a crash between the two
        // leaves an orphaned stop list that [[storedStopTerms]]'s
        // policy gate keeps inert — searches stay unpruned
        store.overwrite(stopTermsT(name), stop)
        val n = store.read(stopTermsT(name)).count()
        store.overwrite(capPolicyT(name),
          Seq((hotTermBudget, h.hotTermRows)).toDF("df_cap", "hot_df"))
        CapDecision(triggered = true, h.hotTermRows, hotTermBudget,
          Some(hotTermBudget), n)
      })
    }
  }

  /** Recompute the stats cache from the current doclen table — the
    * crash-repair hook for streaming ingest: a crash between a doclen
    * commit and its stats write leaves a correct index with a stale
    * cache, and the id-based re-delivery guard would never re-enter the
    * repairing leg; an unconditional per-batch refresh closes that
    * window ([[graft.streaming.Streams.retrievalIngestSink]]).
    */
  def refreshStats(store: TableStore, name: String): Unit =
    writeStats(store, name)

  /** stats = a pure aggregate of the CURRENT doclen table (recompute, not
    * adjust — see [[buildIndex]]'s idempotency rationale).
    */
  private def writeStats(store: TableStore, name: String): Unit =
    store.overwrite(s"${name}_stats",
      store.read(s"${name}_doclen")
        .agg(count(lit(1)).as("n_docs"), sum(col("dlen")).as("sum_dlen")))

  /** BM25 top-k from the durable index — same formula, tie-break, and
    * fixed-order summation as [[score]], so `searchIndex(buildIndex(d))`
    * ≡ `score(d)` double-for-double.
    *
    * `termDfCap` is the hot-term policy dial, the [[DedupIndex
    * .probeIncrement]] `bucketCap` contract transposed: `0` (the
    * default) resolves the stored [[capIfUnhealthy]] policy — query
    * terms on the persisted stop list are pruned BEFORE the postings
    * scan (the whole saving; no policy stored ≡ no pruning, today's
    * plan untouched); `Long.MaxValue` never prunes regardless of
    * policy; any other positive value is an explicit cap applied as a
    * post-scan df filter — terms with df ≥ cap contribute nothing and
    * docs matched only by them drop out, the SEMANTIC reference the
    * stored path equals while its stop list is current (the explicit
    * path still pays the capped terms' scan to learn their df — only
    * the materialized list can prune pre-scan). A search whose every
    * query term is pruned returns an empty frame (no terms left to
    * score), same columns.
    */
  def searchIndex(store: TableStore, name: String, idCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 20, termDfCap: Long = 0L): DataFrame = {
    require(queryTerms.nonEmpty, "bm25: need at least one query term")
    require(queryTerms.distinct == queryTerms, "bm25: duplicate query terms")
    require(termDfCap >= 0,
      s"termDfCap must be >= 0 (0 = stored-policy sentinel), got $termDfCap")
    val pruned: Set[String] =
      if (termDfCap == 0L) storedStopTerms(store, name, queryTerms)
      else Set.empty
    val active = queryTerms.filterNot(pruned)
    if (active.isEmpty)
      return store.read(s"${name}_doclen").select(col(idCol)).limit(0)
        .withColumn("score", lit(0.0)).withColumn("rnk", lit(1))
    val postings = store.read(s"${name}_postings")
      .filter(col("term").isInCollection(active))
      .select(col(idCol), col("term"), col("tcnt").cast("double").as("tcnt"))
    // global df from the filtered rows themselves (term-filter preserves
    // it) — DISTINCT docs, not rows: an [[append]] that crashed between
    // its postings append and its doclen append leaves residue postings
    // for docs the knownIds guard (doclen-based) still admits, so the
    // replayed batch re-appends identical (id, term, tcnt) rows. Search
    // neutralizes that residue by construction: df counts distinct docs
    // here, and the per-doc term scores below collapse duplicates through
    // max(when(term, tscore)) — at-least-once, never a double-counted
    // score (the [[graft.ext.DedupIndex.commitIncrement]] crash contract,
    // probe-side distinct transposed).
    val df_ = postings.groupBy(col("term"))
      .agg(countDistinct(col(idCol)).cast("double").as("df"))
    val lens = store.read(s"${name}_doclen")
      .select(col(idCol), col("dlen").cast("double").as("dlen"))
    val stats = store.read(s"${name}_stats")
      .select(col("n_docs").cast("double").as("_n"),
        (col("sum_dlen").cast("double") / col("n_docs").cast("double")).as("_avgdl"))
    val scored0 = postings
      .join(broadcast(df_), Seq("term"))
      .join(lens, Seq(idCol))
      .crossJoin(broadcast(stats))
      .withColumn("idf", (col("_n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .withColumn("tscore",
        col("idf") * ((col("tcnt") * lit(k1 + 1.0)) /
          (col("tcnt") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dlen") / col("_avgdl")))))
    // explicit cap: the row filter (not a when() in the sum) also drops
    // docs matched ONLY by capped terms — the stored-prune equivalence
    val scored =
      if (termDfCap == 0L || termDfCap == Long.MaxValue) scored0
      else scored0.filter(col("df") < lit(termDfCap.toDouble))
    val wide = scored.groupBy(col(idCol))
      .agg(
        max(when(col("term") === active.head, col("tscore"))).as("_t0"),
        active.zipWithIndex.tail.map { case (t, i) =>
          max(when(col("term") === t, col("tscore"))).as(s"_t$i")
        }: _*)
    val total = active.indices.map(i => coalesce(col(s"_t$i"), lit(0.0))).reduce(_ + _)
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("score").desc, col(idCol))
    wide.select(col(idCol), total.as("score"))
      .orderBy(col("score").desc, col(idCol)).limit(topK)
      .withColumn("rnk", row_number().over(w))
  }

  /** Takedown leg: drop the deleted ids' postings and doclen rows (each
    * doc-local — no survivor re-tokenize), then recompute the stats cache
    * from the surviving doclen. Every step is a pure function of (current
    * tables, ids), so cascade re-runs and crash-retries are no-ops past
    * the point already applied. Post-delete [[searchIndex]] results equal
    * a [[buildIndex]] from scratch on the survivors — df, N, and avgdl
    * are all derived from surviving rows, never adjusted counters.
    */
  def deleteIds(store: TableStore, name: String, ids: DataFrame,
      idCol: String): Unit = {
    val keys = broadcast(ids.select(col(idCol)).distinct())
    store.overwrite(s"${name}_postings",
      store.read(s"${name}_postings").join(keys, Seq(idCol), "left_anti"))
    store.overwrite(s"${name}_doclen",
      store.read(s"${name}_doclen").join(keys, Seq(idCol), "left_anti"))
    writeStats(store, name)
  }
}
