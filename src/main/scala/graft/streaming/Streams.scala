package graft.streaming

import graft.tables.{Compact, Scratch, TableStore, Upsert}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming surface: the streaming-native re-expression of the
  * reference's batch-micro-batch incremental pattern (SURVEY.md §2.7), plus
  * watermarked windowed aggregation and custom session state.
  *
  * The reference polls a landing directory and re-runs a notebook; Spark's
  * file source + `Trigger.AvailableNow` + `foreachBatch` gives the same
  * at-least-once file semantics with checkpointed progress (no hand-rolled
  * archival needed — `cleanSource` handles it). Late/re-delivered rows are
  * handled the same way the reference does: keyed upsert in the sink, not
  * watermark-discard; watermarks bound state for the windowed aggregations.
  *
  * Scale notes: stateful ops shuffle by grouping key; state lives in the
  * executor state store (RocksDB at scale — config, not code). The keyed
  * sinks commit each micro-batch through [[Upsert.mergeInto]]: a batch of
  * new keys appends, and only a batch that matches a stored key rewrites
  * its target. Per-batch intermediates are [[Scratch.stage]]s, never
  * store tables.
  */
object Streams {

  final case class Event(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionSummary(
      user_id: Long, n_events: Long, total_value: Double,
      session_start: java.sql.Timestamp, session_end: java.sql.Timestamp)

  /** One held session inside [[SessionState]]. `total` is an exact decimal
    * (each event value quantized to scale 10 on arrival, mirroring the
    * batch twin's `CAST(value AS DECIMAL(28,10))` before SUM), so the
    * accumulated sum is independent of merge order — held+batch interval
    * merges happen in event-time order, not arrival order, and a
    * double-typed accumulator could drift from [[sessionizeBatch]] by a
    * rounding ulp on values without an exact binary representation.
    */
  final case class SessionAcc(
      n_events: Long, total: BigDecimal,
      session_start: java.sql.Timestamp, session_end: java.sql.Timestamp)

  /** [[sessionize]] state: this user's sessions not yet emittable — open or
    * gap-closed but still inside the watermark horizon (a late event may
    * yet legally join them).
    */
  final case class SessionState(sessions: Seq[SessionAcc])

  /** File-source stream over a landing dir of order CSVs — the streaming
    * twin of `Pipelines.runFactIncremental`'s ingest step.
    *
    * `archiveDir` wires `cleanSource=archive`: completed source files are
    * moved out of the landing dir by the stream itself — the streaming-path
    * replacement for the reference's hand-rolled `dbutils.fs.mv` archival
    * loop (2_incremental_load_fact.py:95-101; batch twin: `Landing.archive`).
    * The archive dir must not sit under the source glob (Spark would re-read
    * it); archival happens after the micro-batch that read the file commits,
    * so at-least-once is preserved across failures.
    */
  def landingStream(
      spark: SparkSession, landingDir: String,
      schema: org.apache.spark.sql.types.StructType,
      archiveDir: Option[String] = None): DataFrame = {
    val r = spark.readStream
      .format("csv")
      .option("header", "true")
      .schema(schema)
      .option("maxFilesPerTrigger", "64") // bound micro-batch size
    val withClean = archiveDir.fold(r) { dir =>
      r.option("cleanSource", "archive").option("sourceArchiveDir", dir)
    }
    withClean.load(landingDir)
  }

  /** foreachBatch keyed-upsert sink: each micro-batch merges into `table`
    * by `keys` ([[Upsert.mergeInto]]) — late data updates in place, exactly
    * the reference's incremental semantics. A batch of all-new keys appends
    * its files and leaves the table's existing files in place; a batch with
    * a known key (late data, or a replay after a crash) merges and rewrites
    * the table, so a replayed batch never duplicates a key. NULL keys never
    * match, so a redelivered NULL-key row inserts again, as it always has.
    * The probe broadcasts the batch's keys: that presumes a batch is an
    * increment, small beside the table, which [[landingStream]]'s 64-file
    * trigger cap keeps true. Appends fragment, so the table is compacted
    * once it passes the default file bound ([[Compact.compactIfFragmented]]).
    * Returns the started query (AvailableNow: drains what exists, then
    * stops — the reference's "process what landed" run).
    */
  def upsertSink(
      df: DataFrame, store: TableStore, table: String, keys: Seq[String],
      checkpoint: String): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val deduped = graft.clean.Normalize.dedupKeep(
          batch, keys, batch.columns.filterNot(keys.contains).map(col).toSeq)
        mergeAndBound(store, table, deduped, keys)
      }
      .start()

  /** The sinks' one keyed commit: [[Upsert.mergeInto]] (create, append
    * when no key matches, merge otherwise), then the file-count bound. */
  private def mergeAndBound(store: TableStore, table: String, rows: DataFrame,
      keys: Seq[String]): Unit = {
    Upsert.mergeInto(store, table, rows, keys,
      onDuplicate = Upsert.DuplicatePolicy.DedupDeterministic)
    Compact.compactIfFragmented(store, table)
  }

  /** Watermarked tumbling-window aggregation per event type — the streaming
    * form of the e1_event_hourly batch query. Watermark bounds state: windows
    * older than `lateness` beyond max-seen ts are finalized and evicted.
    */
  def eventWindowAgg(
      events: DataFrame, window_ : String = "1 hour",
      lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Custom session state via flatMapGroupsWithState: per-user sessions that
    * close after `gap` of event-time inactivity — the stateful pattern the
    * reference never needed but a streaming engine must offer.
    *
    * Session boundaries are a property of the DATA, not of micro-batch
    * framing or arrival order: each invocation interval-merges the held
    * sessions with the batch's events (sorted by event time), so an
    * intra-batch gap splits, a bridging late event fuses, and an event
    * older than every session opens its own — identical to what
    * [[sessionizeBatch]] computes over the drained input. A session is
    * EMITTED only once `session_end + gap <= watermark`: no event at or
    * above the watermark can still join it, so emission is final and safe
    * (emitting earlier would orphan late events that legally belong to an
    * already-output session). Event-time timeouts re-arm to the earliest
    * held session's close point, clamped above the watermark (Spark
    * rejects timeout timestamps <= watermark with a query-failing
    * IllegalArgumentException).
    *
    * `events` must already carry a watermark on `ts` (see
    * [[withEventWatermark]]).
    */
  def sessionize(
      events: Dataset[Event], gapMs: Long): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          // one body serves both arrival and timeout: a timeout is just an
          // empty batch with an advanced watermark
          val wm = state.getCurrentWatermarkMs()
          val held = state.getOption.map(_.sessions.toVector).getOrElse(Vector.empty)
          val units = held ++ batch.toSeq
            .sortBy(e => (e.ts.getTime, e.event_id))
            // quantize like the batch twin's CAST(value AS DECIMAL(28,10))
            // (Spark's double→decimal cast rounds half-up)
            .map(e => SessionAcc(1L,
              BigDecimal(e.value).setScale(10, scala.math.BigDecimal.RoundingMode.HALF_UP),
              e.ts, e.ts))
          val merged = units.sortBy(u => (u.session_start.getTime, u.session_end.getTime))
            .foldLeft(Vector.empty[SessionAcc]) { (acc, u) =>
              acc.lastOption match {
                case Some(last) if u.session_start.getTime - last.session_end.getTime <= gapMs =>
                  acc.init :+ SessionAcc(
                    last.n_events + u.n_events,
                    last.total + u.total,
                    last.session_start,
                    if (u.session_end.getTime > last.session_end.getTime) u.session_end
                    else last.session_end)
                case _ => acc :+ u
              }
            }
          val (closed, open) = merged.partition(_.session_end.getTime + gapMs <= wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(SessionState(open))
            state.setTimeoutTimestamp(math.max(wm + 1,
              open.map(_.session_end.getTime + gapMs).min))
          }
          closed.iterator.map(s => SessionSummary(
            userId, s.n_events, s.total.toDouble, s.session_start, s.session_end))
      }
  }

  /** Watermarked event source for [[sessionize]]. */
  def withEventWatermark(events: Dataset[Event], lateness: String): Dataset[Event] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", lateness).as[Event]
  }

  /** Batch twin of [[sessionize]]: gaps-and-islands over a static events
    * frame. A session opens at the first event of a user and at any event
    * whose gap to the user's previous event exceeds `gapMs`; the session id
    * is the running count of opens — the exact session definition the
    * streaming path implements with state + event-time timeouts, so on a
    * fully-drained input the two agree (StreamsSpec asserts it, and the
    * x4_sessionize oracle replays this as DuckDB lag + cumulative sum).
    *
    * Gap comparison is on millisecond epochs (exact integer arithmetic both
    * engines); window order carries `event_id` as tiebreak so tied
    * timestamps sessionize deterministically. One shuffle on user_id; both
    * windows and the aggregation ride the same hash partitioning.
    */
  def sessionizeBatch(events: DataFrame, gapMs: Long): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // dual-flavor epoch millis: NTZ-written parquet (pandas default) must
    // sessionize identically to TIMESTAMP — lag() preserves ts's type, so
    // one schema lookup covers both columns
    val ems = graft.clean.Dates.epochMillis(_: Column, events.schema("ts").dataType)
    events
      .withColumn("_prev", lag(col("ts"), 1).over(byUser))
      .withColumn("_opens", when(col("_prev").isNull ||
        ems(col("ts")) - ems(col("_prev")) > gapMs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("_opens")).over(byUser))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        graft.queries.QueryDef.dsum(col("value"), 28, 10).as("total_value"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"))
  }

  /** One emitted anomaly from [[anomalyStream]]. */
  final case class AnomalyFlag(event_id: Long, user_id: Long, value: Double, z: Double)

  /** [[anomalyStream]] state: exact per-user moments — n, Σv in CENTS
    * (a long: the e4 DECIMAL(18,2) domain summed fits with 16 digits to
    * spare), Σv² in ten-thousandths as a BigInt (encodes as
    * DECIMAL(38,0) — the same 34 integer digits batch e4's DECIMAL(38,4)
    * gives Σv², where a raw scala BigDecimal field would encode as the
    * SYSTEM_DEFAULT DECIMAL(38,18) and silently null-overflow 14 orders
    * of magnitude earlier). A batch recomputation over the same prefix
    * reproduces μ/σ bit-for-bit. Three numbers per user, bounded forever
    * — no timeout needed.
    */
  final case class MomentState(n: Long, s1Cents: Long, s2TenThousandths: BigInt)

  /** Streaming twin of the e4 z-score gate — the ONLINE formulation: each
    * arriving event is scored against the user's PRIOR history only (a
    * batch pass knows the full per-user moments; a stream by definition
    * cannot), then folds into the moments. Scoring starts once history
    * holds `minHistory` events and σ > 0 — a HEURISTIC floor that
    * suppresses the noisy early flags of a near-empty history, not a
    * mathematical bound: the (n−1)/√n cap on |z| holds only for the batch
    * (inclusive) formulation where the scored point is inside the moments;
    * against prior-only history z is unbounded at any n. Values quantize
    * to scale 2 on arrival (e4's DECIMAL(18,2) cast); events outside the
    * DECIMAL(18,2) domain (|v| ≥ 10^16, NaN, ±Inf) are SKIPPED — neither
    * scored nor folded — mirroring the batch twin's quiet null-on-overflow
    * degradation instead of killing the query with an unscaled-long
    * overflow. μ/σ derive from the exact sums with e4's expression shape.
    * Events inside a micro-batch apply in
    * (ts, event_id) order, so a ts-ordered source replays
    * deterministically under any batch split; if the SOURCE delivers
    * events out of event-time order ACROSS batch boundaries, the online
    * verdict legitimately depends on arrival order — scoring against
    * "what had arrived" is the semantics, not a defect. Pair with an
    * upstream watermark+sort stage when replay determinism must extend
    * to disordered sources.
    */
  def anomalyStream(
      events: Dataset[Event], zCut: Double = 2.0, minHistory: Int = 10): Dataset[AnomalyFlag] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[MomentState, AnomalyFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[MomentState]) =>
          var st = state.getOption.getOrElse(MomentState(0L, 0L, BigInt(0)))
          val out = Vector.newBuilder[AnomalyFlag]
          // NaN/±Inf fail the < comparison and are skipped with the
          // out-of-domain values — one total guard, no separate isNaN test
          batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            .filter(e => math.abs(e.value) < 1e16)
            .foreach { e =>
            if (st.n >= minHistory) {
              val n = st.n.toDouble
              // exact-integer moments → double FIRST, then IEEE ops —
              // e4's exact expression shape (incl. its negative-variance
              // clamp: constant histories must yield σ = 0, never NaN)
              val mu = (BigDecimal(st.s1Cents, 2)).doubleValue / n
              val ex2 = (BigDecimal(st.s2TenThousandths, 4)).doubleValue / n
              val sig = math.sqrt(math.max(0.0, (ex2 - mu * mu) * (n / (n - 1.0))))
              if (sig > 0.0) {
                val z = (e.value - mu) / sig
                if (math.abs(z) > zCut) out += AnomalyFlag(e.event_id, userId, e.value, z)
              }
            }
            // value in cents, HALF_UP — the e4 DECIMAL(18,2) cast; cents²
            // IS ten-thousandths, so Σv² accumulates exactly in integers
            val dvC = BigDecimal(e.value).setScale(2,
              scala.math.BigDecimal.RoundingMode.HALF_UP).bigDecimal.unscaledValue.longValueExact
            st = MomentState(st.n + 1, st.s1Cents + dvC,
              st.s2TenThousandths + BigInt(dvC) * BigInt(dvC))
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming near-dup detection — the streaming twin of
    * [[graft.ext.Dedup.minhashDedupIncremental]]: each micro-batch of
    * documents is deduped against the accumulated history via the
    * incremental MinHash path (the batch probes the band index; history is
    * never re-paired against itself), verified pairs UPSERT into
    * `pairsTable` keyed (id_a, id_b) ([[Upsert.mergeInto]]) — a batch of
    * all-new pairs appends and keeps every prior pair file; a
    * crashed-and-replayed micro-batch recomputes identical pairs, finds
    * their keys and merges over them (effectively-once, where a blind
    * append would duplicate rows); a NULL key re-inserts as it always
    * has; the table is compacted past the default file bound — and the
    * batch then joins the history so later batches
    * dedup against it. The first batch self-dedups (empty base degrades
    * incremental to the plain path). Near-dup state is the HISTORY TABLE,
    * not executor state-store memory — at 100 TB the corpus can't live in
    * state, and a shared-FS table is exactly where an incremental dedup
    * index belongs; the checkpoint still gives at-least-once batch
    * processing. AvailableNow trigger: drain-what-landed semantics.
    */
  def nearDupSink(
      docs: DataFrame, store: TableStore, historyTable: String, pairsTable: String,
      checkpoint: String, threshold: Double = 0.8): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // re-delivered doc ids must not near-dup-match themselves
        val b = graft.clean.Normalize.dedupKeep(batch, Seq("doc_id"), Seq(col("text")))
        val fresh =
          if (store.exists(historyTable))
            b.join(store.read(historyTable).select("doc_id"), Seq("doc_id"), "left_anti")
          else b
        val base =
          if (store.exists(historyTable)) store.read(historyTable) else fresh.limit(0)
        val pairs = graft.ext.Dedup.minhashDedupIncremental(
            base, fresh, "doc_id", "text", threshold = threshold)
          .select(col("id_a"), col("id_b"), col("jaccard"))
        mergeAndBound(store, pairsTable, pairs, Seq("id_a", "id_b"))
        if (store.exists(historyTable)) store.append(historyTable, fresh)
        else store.overwrite(historyTable, fresh)
      }
      .start()

  /** Streaming near-dup over the DURABLE index — [[nearDupSink]]'s scale
    * successor. [[nearDupSink]] keeps history as a TEXT table and re-signs
    * it every micro-batch: correct, but each batch's cost grows with the
    * accumulated corpus (quadratic-in-time I/O over a long-lived crawl).
    * Here history state is [[graft.ext.DedupIndex]]'s durable
    * band/shingle/size tables: each micro-batch shingles ONLY itself,
    * probes narrow parquet, and appends itself to the index — accumulated
    * corpus TEXT is never re-read, so per-batch cost follows |batch|
    * (BENCH_LOCAL_r8/r11: flat probe time against 30× history).
    *
    * Contract: the index exists — build it once before starting, possibly
    * over an empty frame; the first batch then self-dedups via the probe's
    * probe-includes-increment property. Re-delivered ids
    * ([[graft.ext.DedupIndex.knownIds]] anti-join) are dropped before the
    * increment. Verified pairs append to `pairsTable`;
    * [[graft.ext.DedupIndex.maintainIfNeeded]] runs after each batch so a
    * long-lived stream cannot fragment its own index past `maxIndexFiles`,
    * and the pair table is compacted past the default file bound.
    *
    * Crash semantics (effectively-once): the batch's PAIRS are computed
    * by the non-mutating [[graft.ext.DedupIndex.probeIncrement]] and
    * written BEFORE [[graft.ext.DedupIndex.commitIncrement]] touches the
    * index. A crash before the pairs write leaves nothing mutated — the
    * replayed batch recomputes from scratch. A crash between the pairs
    * write and commit replays the batch with its docs still absent from
    * [[graft.ext.DedupIndex.knownIds]] (sizes is committed LAST), so the
    * identical pairs are recomputed — and because pairs UPSERT by
    * (id_a, id_b) ([[Upsert.mergeInto]]) rather than blindly append, the
    * replay finds every pair key present and merges over them: the pair
    * table is never duplicated, never silently short. A batch whose pairs
    * are all new (the common, crash-free case) appends them and leaves
    * every prior file of the pair table in place. Mutating the index
    * first and writing pairs second would turn this into at-most-once:
    * the guard would drop the re-delivered docs and their pairs would
    * never be computed.
    */
  def indexedNearDupSink(
      docs: DataFrame, store: TableStore, indexName: String, pairsTable: String,
      checkpoint: String, threshold: Double = 0.8,
      maxIndexFiles: Int = 64): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // within-batch re-delivery first, then cross-batch via the index
        val b = graft.clean.Normalize.dedupKeep(batch, Seq("doc_id"), Seq(col("text")))
        val fresh = b.join(
          graft.ext.DedupIndex.knownIds(store, indexName, "doc_id"),
          Seq("doc_id"), "left_anti")
        val (pairs, stage) = graft.ext.DedupIndex.probeIncrement(
          store, indexName, fresh, "doc_id", "text", threshold = threshold)
        mergeAndBound(store, pairsTable,
          pairs.select(col("id_a"), col("id_b"), col("jaccard")), Seq("id_a", "id_b"))
        graft.ext.DedupIndex.commitIncrement(store, indexName, stage)
        graft.ext.DedupIndex.maintainIfNeeded(store, indexName,
          maxFiles = maxIndexFiles)
        ()
      }
      .start()

  /** Streaming ingest into the DURABLE retrieval artifacts — the arrival
    * side of [[takedownSink]]'s departure side: each micro-batch of new
    * documents appends to the ANN index ([[graft.ext.AnnIndex.append]] —
    * encode against FROZEN stored quantizers, never a retrain) and/or the
    * BM25 index ([[graft.ext.Bm25.append]] — doc-local postings, never a
    * base re-read), so retrieval artifacts track the corpus continuously
    * instead of by rebuild. Indexes must be BUILT before the stream
    * starts (the [[indexedNearDupSink]] contract: the stream only ever
    * increments).
    *
    * Effectively-once per artifact, without per-batch index scans: the
    * hot path is guard → append only (each leg anti-joins its OWN
    * `knownIds` — an id can be present in one artifact and not the other
    * inside a crash window — then appends). The guard join is STAGED
    * ([[Scratch.stage]], family `{leg}_ingest_stage`) and evaluated
    * exactly once per leg, so the leg's cost is O(batch + one narrow
    * id-column scan) regardless of how many actions consume the fresh
    * set (the BM25 leg runs three), never O(index). Crash repair is gated behind an INTENT
    * MARKER (1-row `<intentTable>`: started/done batch ids, started
    * written before the legs, done after): a replayed batch whose marker
    * says started-but-not-done is the ONLY state where partial rows can
    * exist, and only there does the sink pay the delete-before-append
    * repair ([[graft.ext.Bm25.deleteIds]] / [[graft.ext.AnnIndex.deleteIds]]
    * drop whatever the interrupted append left; the re-append then
    * converges to byte-identical state from any interruption point) plus
    * the stats refresh that closes the doclen-committed-stats-stale
    * window the id guard cannot re-enter. A first delivery, a re-delivered
    * id, and a crash-free replay all stay on the fast path. Within-batch
    * duplicates fold first (deterministic winner).
    *
    * `dedupGate` (optional) is the crawl pipeline's missing middle: a
    * durable [[graft.ext.DedupIndex]] (built before the stream starts,
    * possibly over an empty frame — the [[indexedNearDupSink]] contract)
    * that only lets NEAR-DUP-NOVEL documents through to the retrieval
    * artifacts. Each batch probes the gate index non-mutatingly
    * ([[graft.ext.DedupIndex.probeIncrement]] — shingles only itself,
    * never re-reads accumulated text) and drops every document that
    * near-dups (Jaccard ≥ `gateThreshold`) something ALREADY SEEN or an
    * earlier-id document of the same batch — greedy arrival-order
    * semantics, one join over the capped candidate pairs, no per-batch
    * component iteration. The gate index records the SEEN corpus (dropped
    * documents commit their signatures too), so a re-delivered dropped id
    * is guarded out by `knownIds` without re-probing, and a future
    * second-degree near-dup (dups a dropped doc but not its kept
    * representative) is also caught — chain-dropping, deliberately
    * conservative; admission of borderline chains therefore depends on
    * how a chain splits across batches, the inherent property of any
    * incremental gate (the audit trail in `gatePairsTable` — pair-keyed
    * upserts, replay-idempotent — is what an offline re-adjudication
    * reads). Requires `textCol` even on an ANN-only sink.
    *
    * Gate crash-safety composes with the intent marker: the probe and
    * the kept-set staging mutate nothing, the legs run on the kept set,
    * and the gate's [[graft.ext.DedupIndex.commitIncrement]] lands after
    * the legs but BEFORE the done marker — a crash before commit replays
    * into an unchanged gate index and recomputes the identical kept set
    * (the legs' own guards then no-op); a crash after commit replays
    * into an empty fresh set over fully-completed legs; a crash inside
    * commit leaves residue the next probe's distinct hygiene neutralizes
    * (the [[graft.ext.DedupIndex.commitIncrement]] at-least-once
    * contract).
    *
    * Per-batch intermediates — the gates' `{gate}_gate_fresh`,
    * `{gate}_gate_pairs`, `{gate}_gate_kept`, `{ann}_sgate_cand`,
    * `{ann}_sgate_pairs`, `{ann}_sgate_kept` and the legs'
    * `{leg}_ingest_stage` — are [[Scratch.stage]] families in the scratch
    * root, never store tables, so no store name a user picks collides with
    * them and a crash leaves nothing in the store root. Scratch owns their
    * lifetime: each family keeps its last `graft.scratch.keepLast`
    * generations (one per batch) and sweeps older ones, the app-end hook
    * removes the app's whole namespace, and [[Scratch.cleanup]] reaps a
    * crashed app's namespace once its heartbeat is stale. The pair audit
    * tables are keyed [[Upsert.mergeInto]] commits (an all-new batch
    * appends, a replay merges) and are compacted after the done marker
    * under `maxIndexFiles`, like the decision tables.
    *
    * `corpusTable` (optional) makes the sink land the CORPUS itself —
    * kept documents append to a plain row table (create it before the
    * stream starts, possibly empty), with the same guard → repair →
    * append leg shape as the indexes, so corpus and retrieval artifacts
    * stay in lockstep under one intent marker instead of two sinks
    * racing.
    *
    * `semanticGateThreshold` (optional; requires `annIndex` AND
    * `corpusTable`) adds the EMBEDDING twin of `dedupGate` — SemDeDup's
    * streaming counterpart: a batch document is dropped when its exact
    * cosine against an already-ADMITTED corpus document reaches the
    * threshold (candidates proposed by the durable ANN index —
    * `semanticGateKShort` ADC shortlist per doc, `semanticGateNprobe`
    * probes (0 = auto √nlist) — then exact-confirmed against the corpus
    * table's vectors, the c8 prune-invisible idiom; recall is bounded by
    * the shortlist/probe dials exactly as in [[graft.ext.AnnIndex
    * .searchRefined]]), or when an earlier-id document of the same batch
    * sits within the threshold (batch-internal pairing — greedy arrival
    * order, like the lexical gate). Batch-internal pairing is exact
    * all-pairs while the batch holds at most `semanticGateExactCap`
    * docs; above the cap (a fresh-checkpoint `AvailableNow` backfill
    * delivers the whole backlog as ONE batch) it stays sub-quadratic by
    * bar: at dup thresholds (τ ≥ 0.9) through
    * [[graft.ext.Similarity.cosinePairsLsh]] (Σ|bucket|², 8 bands,
    * τ-adaptive band width: wide bands prune random pairs to ~2⁻ʳ while
    * keeping ~95% τ-pair recall), and at SemDeDup-like bars (τ < 0.9,
    * where sign-LSH floors at r = 4 and stops pruning) through
    * batch-trained clustered pairing ([[graft.ext.Similarity
    * .cosinePairsClusteredMultiProbe]] over ⌈√|B|⌉ fresh centroids
    * (ceiling 256 — bound bigger backfills with maxFilesPerTrigger),
    * nprobe 2, only DEGENERATE clusters star-capped at 8× the mean
    * cluster size) — |B|^1.5 pair space at ANY τ. Recall is band- or
    * cluster-bounded exactly as
    * the corpus side is shortlist-bounded; verbatim embedding copies
    * always collide / share every probed cluster, so dup floods drop
    * whole on every path — linearly past the caps, via a star rep.
    * Semantics
    * differ from the lexical gate on purpose: this gate remembers the
    * KEPT corpus (dropped docs leave no vectors anywhere), so a future
    * dup of a dropped doc is caught only via its kept representative —
    * greedy representative selection, the batch SemDeDup contract. Exact
    * confirmation against the corpus also shields replays from partial
    * index state: a candidate pair whose neighbor never committed to the
    * corpus finds no vector to confirm against and vanishes; and
    * admitted corpus docs REAPPEARING in the batch are exact-confirmed
    * against the candidates DIRECTLY (not via ANN proposal), so a
    * replayed batch whose crashed attempt appended to the corpus but
    * died before the ANN leg still condemns the same batch-mates — the
    * kept set converges under replay regardless of how far the legs
    * got. Runs AFTER the lexical gate (cheap shingles prune before
    * exact dots) and before any leg mutates state.
    * `semanticGatePairsTable` keeps the audit trail — `(id_a = the kept/
    * corpus side, id_b = the condemned doc, cos)`, pair-keyed upserts
    * (replay-idempotent) in the same shape as the lexical
    * `gatePairsTable`, so the [[graft.tables.Deletes.cascade]]
    * `pairTables` takedown leg covers both.
    *
    * `gateBucketCap` bounds the clone-flood quadratic: m verbatim copies
    * of one document put m ids in one band bucket and emit O(m²) audit
    * pairs (measured: 2 planted texts × ~100 clones → ~12k pairs at
    * ScaleStress `ingestgated`). Over the cap, hot buckets star-pair with
    * the bucket's min-id representative instead — and star pairs are
    * SUFFICIENT for the drop decision on verbatim floods: every member
    * pairs with the rep at jaccard 1, so a flood over an indexed doc
    * drops whole (the rep itself pairs with the indexed doc) and a novel
    * flood admits exactly its rep — the admitted set is unchanged and
    * only the audit trail coarsens. For NEAR-dup (non-verbatim) members
    * of a hot bucket the exact-jaccard confirm runs against the rep
    * only, so a member whose similarity to the rep falls below the bar
    * may be admitted where the uncapped gate would have dropped it — the
    * same recall trade [[graft.ext.Dedup]] documents for capped batch
    * dedup; leave the cap at the default where that matters more than
    * the O(m²) bound.
    *
    * `rebuildPolicy` (optional; requires `annIndex` AND `corpusTable`)
    * runs [[graft.ext.AnnIndex.rebuildIfUnhealthy]] on the sink's own
    * per-batch cadence, right where the compaction triggers live — see
    * [[RebuildPolicy]]. The r17 ingestrebuild battery measured exactly
    * this composition (rebuild mid-stream, guards/marker unchanged,
    * 0.33-0.49 s/batch when the bells are silent); the flag makes it the
    * paved path instead of a caller-owned loop. `gateCapPolicy` and
    * `bm25CapPolicy` are its lexical and BM25 twins — see
    * [[GateCapPolicy]] and [[Bm25CapPolicy]].
    */
  /** [[retrievalIngestSink]]'s ANN retrain policy — [[graft.ext.AnnIndex
    * .rebuildIfUnhealthy]] wired onto the sink's own per-batch health
    * cadence (where the compaction triggers already live), so the
    * measured drift/skew/collapse policy is one flag instead of an
    * external loop the operator must build. `dim` is the embedding
    * dimensionality (the one argument the rebuild cannot recover from
    * stored artifacts cheaply); the factors are rebuildIfUnhealthy's
    * measured defaults; `decisionTable` (optional) appends one audit row
    * per batch — (batch_id, rebuilt, drift, skew, collapse,
    * drift_baseline, drift_last, max_cluster_frac, n_clusters,
    * auto_nlist) — the operational record of which bell rang and when
    * (at-least-once on replay, like every sink audit trail).
    */
  final case class RebuildPolicy(
      dim: Int,
      driftFactor: Double = 2.0,
      skewCostMultiple: Double = 16.0,
      collapseFactor: Double = 2.0,
      rearmFactor: Double = 1.25,
      nlist: Int = 0, coarseIters: Int = 2, m: Int = 0, k: Int = 0,
      pqIters: Int = 2, sampleMod: Option[Int] = None,
      recal: Option[graft.ext.AnnIndex.RecalSpec] = None,
      decisionTable: Option[String] = None,
      // every batch's appends move the codes fingerprint, so each
      // policy ask after a non-empty batch re-pays the csizes recount
      // (one narrow map-side aggregate over the codes table — the
      // measured 0.33-0.49 s/batch figure). On high-frequency
      // micro-batches over a huge index, raise `cadence` to ask every
      // Nth batch instead; bells then ring at most `cadence` batches
      // late, which is how a monitoring loop behaves anyway
      cadence: Int = 1) {
    require(cadence >= 1, s"cadence must be >= 1, got $cadence")
    // the callee chain's bounds at CONSTRUCTION, the gateBucketCap rule:
    // the clapper runs post-marker, so a bad value surfacing there
    // crash-loops the stream mid-flight for a pure misconfiguration.
    // ONE shared validator (rebuildIfUnhealthy checks through the same
    // call) so the mirror can never drift from the callee; a RecalSpec
    // in `recal` validates itself at its own construction
    graft.ext.AnnIndex.requireRebuildParams(driftFactor, skewCostMultiple,
      collapseFactor, rearmFactor, dim, nlist, coarseIters, m, k, pqIters,
      sampleMod)
  }

  /** [[retrievalIngestSink]]'s LEXICAL clapper policy — [[graft.ext
    * .DedupIndex.capIfUnhealthy]] on the sink's per-batch cadence, the
    * hot-bucket twin of [[RebuildPolicy]]: when the gate index's hottest
    * band bucket crosses `hotBucketBudget` rows, a probe-side
    * `bucketCap` is derived and persisted as the index's cap policy,
    * and every subsequent gate probe picks it up automatically (the
    * sink composes it into the probe's cap — no config change). With
    * the policy set, `gateBucketCap` changes meaning to a STATIC
    * pre-ring safety bound (0 / the default = none), min-composed with
    * the stored policy: the clapper runs AFTER a batch commits, so a
    * flood's own arrival batch probes before any derived cap exists —
    * the static bound is what stands between that first batch and the
    * measured unbounded regime (set it to a few × the expected organic
    * bucket size when first-batch floods are a real risk; the policy
    * then tightens it from the measured state). `retireFraction > 0`
    * opts into the clapper's UN-ring ([[graft.ext.DedupIndex
    * .capIfUnhealthy]]'s hysteresis leg): once a takedown/upstream fix
    * drops the hottest bucket to ≤ `retireFraction × hotBucketBudget`,
    * the stored cap is cleared on the same cadence — the gate probe
    * goes back to the uncapped short-circuit plan instead of paying the
    * capped path's stats aggregate forever, and the bell re-arms fresh.
    * `decisionTable` (optional) appends one (batch_id, capped, retired,
    * hot_rows, budget, bucket_cap, probe_cap) audit row per batch —
    * `bucket_cap` is the stored policy alone, `probe_cap` the
    * min-composed cap the NEXT batch's probe actually runs under —
    * at-least-once on replay. Schema caveat: `retired` was added after
    * the table's first shipped schema, so rows written by the earlier
    * sink read back as NULL under parquet schema merge — readers must
    * treat NULL as false (`coalesce`, or an `isNullAt` check before
    * `getBoolean`) rather than assume the column is non-nullable.
    */
  final case class GateCapPolicy(
      hotBucketBudget: Long = 4096, capFactor: Long = 8,
      rearmFactor: Double = 1.25, retireFraction: Double = 0.0,
      decisionTable: Option[String] = None,
      // the ROUTINE poll is O(sketch), flat in corpus size: the clapper
      // lazily builds a fixed-width hot-bucket CMS that the gate's
      // commit folds per batch (O(batch)), and each ask reads its upper
      // bound; under a STANDING policy with retireFraction > 0 the hot
      // WITNESS (the last exact pass's hottest bucket, exact count,
      // same per-commit fold) supplies the lower bound that disproves a
      // retire flat — the corpus-sized exact aggregate is paid only
      // when neither bound proves the decision (a possible ring, or the
      // witness bucket itself declined), after which both re-baseline.
      // An incrementally-maintained EXACT histogram would
      // still be wrong (it is itself O(corpus) rows, rewritten every
      // commit); the fixed-width sketch is what makes incremental
      // maintenance cheaper than re-aggregation. `cadence` remains the
      // knob for the residual per-ask cost (the sketch read + 1-row
      // policy read, plus exact confirmation whenever a flood is
      // actually in progress); bells ring at most `cadence` batches late
      cadence: Int = 1) {
    require(cadence >= 1, s"cadence must be >= 1, got $cadence")
    // capIfUnhealthy's bounds at CONSTRUCTION (the gateBucketCap rule):
    // the clapper runs post-marker, so a bad value surfacing there
    // crash-loops the stream mid-flight for a pure misconfiguration.
    // ONE shared validator so the mirror can never drift from the callee
    graft.ext.DedupIndex.requireCapParams(hotBucketBudget, capFactor,
      rearmFactor, retireFraction)
  }

  /** [[retrievalIngestSink]]'s BM25 clapper policy — [[graft.ext.Bm25
    * .capIfUnhealthy]] on the sink's per-batch cadence, completing the
    * bell-and-clapper triple ([[RebuildPolicy]] = ANN geometry,
    * [[GateCapPolicy]] = lexical hot buckets, this = hot terms): when
    * the BM25 index's hottest term crosses `hotTermBudget` postings
    * rows, the df-cap and the current stop-term list are derived and
    * persisted as the index's search policy, and every subsequent
    * `searchIndex(termDfCap = 0)` prunes those terms before the
    * postings scan — no config change on the query side.
    * `retireFraction > 0` opts into the un-ring: once a takedown drops
    * the hottest term's df to ≤ `retireFraction × hotTermBudget`, the
    * stored policy is cleared on the same cadence and the bell re-arms
    * fresh (on ORGANIC corpora the hottest term is a natural stopword
    * that never goes away, so a derived policy normally stays — retire
    * fires for floods, not for "the"). `decisionTable` (optional)
    * appends one (batch_id, capped, retired, hot_df, budget, df_cap,
    * n_stopterms) audit row per cadence-batch — at-least-once on
    * replay, compacted under the sink's `maxIndexFiles` bound like the
    * other audit tables.
    */
  final case class Bm25CapPolicy(
      hotTermBudget: Long = 262144,
      rearmFactor: Double = 1.25, retireFraction: Double = 0.0,
      decisionTable: Option[String] = None,
      // the routine ask is O(sketch), flat in corpus size — the
      // GateCapPolicy scaling note verbatim: the clapper lazily builds
      // a hot-term CMS that Bm25.append folds per batch (plus, under a
      // standing policy, the hot-term WITNESS whose exact lower bound
      // disproves retires flat — the organic-stopword policy that never
      // retires no longer re-pays the term aggregate every cadence),
      // and the corpus-sized term aggregate is paid only when neither
      // bound proves the decision. `cadence` remains the knob for the
      // residual per-ask cost; bells ring at most `cadence` batches late
      cadence: Int = 1) {
    require(cadence >= 1, s"cadence must be >= 1, got $cadence")
    // the callee's bounds at CONSTRUCTION (the gateBucketCap rule): the
    // clapper runs post-marker, and a bad value surfacing there would
    // crash-loop the stream for a pure misconfiguration. ONE shared
    // validator so the mirror can never drift from the callee
    graft.ext.Bm25.requireCapParams(hotTermBudget, rearmFactor,
      retireFraction)
  }

  def retrievalIngestSink(docs: DataFrame, store: TableStore, idCol: String,
      checkpoint: String,
      annIndex: Option[String] = None, vecCol: String = "embedding",
      bm25Index: Option[String] = None, textCol: String = "text",
      intentTable: Option[String] = None,
      maxIndexFiles: Int = 64,
      dedupGate: Option[String] = None, gateThreshold: Double = 0.8,
      gatePairsTable: Option[String] = None,
      gateBucketCap: Int = Int.MaxValue,
      corpusTable: Option[String] = None,
      semanticGateThreshold: Option[Double] = None,
      semanticGateKShort: Int = 100,
      semanticGateNprobe: Int = 0,
      semanticGatePairsTable: Option[String] = None,
      semanticGateExactCap: Int = 10000,
      rebuildPolicy: Option[RebuildPolicy] = None,
      gateCapPolicy: Option[GateCapPolicy] = None,
      bm25CapPolicy: Option[Bm25CapPolicy] = None): StreamingQuery = {
    require(annIndex.nonEmpty || bm25Index.nonEmpty,
      "retrievalIngestSink needs at least one of annIndex / bm25Index")
    require(semanticGateThreshold.isEmpty ||
        (annIndex.nonEmpty && corpusTable.nonEmpty),
      "semanticGateThreshold needs annIndex (candidate proposal) and " +
        "corpusTable (exact confirm + admitted-corpus memory)")
    require(semanticGateExactCap >= 0,
      s"semanticGateExactCap must be >= 0, got $semanticGateExactCap")
    require(rebuildPolicy.isEmpty ||
        (annIndex.nonEmpty && corpusTable.nonEmpty),
      "rebuildPolicy needs annIndex (the index to retrain) and " +
        "corpusTable (the vectors a rebuild trains from)")
    require(gateCapPolicy.isEmpty || dedupGate.nonEmpty,
      "gateCapPolicy needs dedupGate (the lexical index whose probe cap " +
        "it derives)")
    require(bm25CapPolicy.isEmpty || bm25Index.nonEmpty,
      "bm25CapPolicy needs bm25Index (the index whose df-cap it derives)")
    // validated at CONSTRUCTION: a negative cap reaching probeIncrement
    // would die mid-batch, after the intent marker was written, and the
    // corrected rerun would take the crash-repair path for a pure
    // misconfiguration
    require(gateBucketCap >= 0,
      s"gateBucketCap must be >= 0 (0 = stored-policy sentinel / no " +
        s"static bound under gateCapPolicy), got $gateBucketCap")
    val intentT = intentTable.getOrElse(
      s"${annIndex.getOrElse(bm25Index.get)}_ingest_intent")
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        import batch.sparkSession.implicits._
        val (started, done) =
          if (store.exists(intentT)) {
            val r = store.read(intentT).select(col("started_batch"),
              col("done_batch")).collect()(0)
            (r.getLong(0), r.getLong(1))
          } else (-1L, -1L)
        // partial rows can exist ONLY when a prior attempt of THIS batch
        // declared intent and never finished
        val repair = started == bid && done < bid
        store.overwrite(intentT,
          Seq((bid, done)).toDF("started_batch", "done_batch"))
        val tiebreak = if (bm25Index.nonEmpty || dedupGate.nonEmpty) textCol
          else vecCol
        val b = graft.clean.Normalize.dedupKeep(batch, Seq(idCol),
          Seq(col(tiebreak)))
        // near-dup gate: probe (non-mutating), audit, resolve, stage the
        // kept set; the index commit is deferred until after the legs
        // (see the scaladoc's crash-ordering argument)
        val (input, gateCommit): (DataFrame, () => Unit) = dedupGate match {
          case None => (b, () => ())
          case Some(g) =>
            val freshG = Scratch.stage(b.join(
              graft.ext.DedupIndex.knownIds(store, g, idCol),
              Seq(idCol), "left_anti"), s"${g}_gate_fresh")
            // with a cap POLICY the probe cap composes BOTH bounds: the
            // stored policy (tightens once the bell rings) and
            // gateBucketCap as a STATIC pre-ring safety bound (0 /
            // default = none). A flood's own ARRIVAL batch probes before
            // the post-batch clapper can see it, so the static bound is
            // the only thing standing between that first batch and the
            // measured unbounded regime — and the policy can never be
            // silently inert, whatever gateBucketCap says
            val effGateCap = gateCapPolicy match {
              case None => gateBucketCap
              case Some(_) =>
                val static =
                  if (gateBucketCap == 0) Int.MaxValue else gateBucketCap
                math.min(static, graft.ext.DedupIndex
                  .storedBucketCap(store, g).getOrElse(Int.MaxValue))
            }
            val (pairs0, incStage) = graft.ext.DedupIndex.probeIncrement(
              store, g, freshG, idCol, textCol, threshold = gateThreshold,
              bucketCap = effGateCap)
            // staged once: the audit upsert and the drop resolution are
            // separate actions, and the verified-pairs plan (jaccard join
            // over the candidate set) must not run per consumer
            val pairs = Scratch.stage(
              pairs0.select(col("id_a"), col("id_b"), col("jaccard")),
              s"${g}_gate_pairs")
            gatePairsTable.foreach(pt => Upsert.mergeInto(store, pt, pairs,
              Seq("id_a", "id_b"), onDuplicate = Upsert.DuplicatePolicy.DedupDeterministic))
            // greedy arrival-order resolution: drop x when it pairs with
            // an already-indexed partner (any id) or an earlier-id fresh
            // partner — exactly the outcome of the docs arriving one at a
            // time in id order against a seen-corpus index
            val partnered = pairs.select(col("id_a").as("x"), col("id_b").as("y"))
              .unionByName(pairs.select(col("id_b").as("x"), col("id_a").as("y")))
            val dropIds = partnered
              .join(freshG.select(col(idCol).as("y"), lit(true).as("_yfresh")),
                Seq("y"), "left")
              .filter(col("_yfresh").isNull || col("y") < col("x"))
              .select(col("x").as(idCol)).distinct()
            (Scratch.stage(freshG.join(dropIds, Seq(idCol), "left_anti"),
              s"${g}_gate_kept"),
              () => graft.ext.DedupIndex.commitIncrement(store, g, incStage))
        }
        // semantic gate: ADC shortlist from the durable ANN index, exact
        // cosine confirm against the ADMITTED corpus, greedy earlier-id
        // resolution within the batch (see scaladoc); reads only — every
        // mutation happens in the legs below
        val input2 =
          semanticGateThreshold match {
            case None => input
            case Some(tau) =>
              import graft.ext.{AnnIndex, Similarity}
              val ann = annIndex.get
              val corpus = store.read(corpusTable.get)
              // already-admitted docs skip the gate (they were kept once;
              // the legs' own guards handle their re-delivery) — but
              // admitted docs REAPPEARING IN THIS BATCH ride along
              // flagged (_adm): they condemn candidates by direct exact
              // confirm, which closes the repair-replay hole — a doc
              // admitted to the corpus by a crashed attempt condemns its
              // replayed batch-mates even before the ANN leg has indexed
              // it (candidate proposal alone would miss a corpus row
              // absent from the ANN index)
              val side = Scratch.stage(
                input.join(corpus.select(col(idCol)), Seq(idCol), "left_anti")
                  .select(col(idCol), col(vecCol), lit(false).as("_adm"))
                  .unionByName(
                    corpus.join(b.select(col(idCol)), Seq(idCol), "left_semi")
                      .select(col(idCol), col(vecCol), lit(true).as("_adm"))),
                s"${ann}_sgate_cand")
              val cand = side.filter(!col("_adm")).drop("_adm")
              val st = side.agg(count(lit(1)),
                max(size(col(vecCol)))).collect()(0)
              val nSide = st.getLong(0)
              val dim = if (st.isNullAt(1)) 0 else st.getInt(1)
              // pair convention matches the lexical audit (and the
              // pairTables takedown leg): id_a = the kept/corpus side,
              // id_b = the document the pair condemns
              val corpusPairs = Similarity.refineExact(
                  AnnIndex.search(store, ann, cand, idCol, vecCol,
                    k = semanticGateKShort, nprobe = semanticGateNprobe),
                  cand, corpus, idCol, vecCol, k = semanticGateKShort,
                  // over the cap the |B|×kShort shortlist and the batch's
                  // query vectors must not be forced through the driver
                  // as broadcasts (the same bound the LSH path enforces
                  // on the batch-internal side)
                  broadcastHints = nSide <= semanticGateExactCap)
                .filter(col("cos") >= tau)
                .select(col("neighbor_id").as("id_a"),
                  col("query_id").as("id_b"), col("cos"))
              // batch-internal pairing: exact all-pairs under the cap
              // (the steady-state micro-batch), sign-LSH-pruned above it
              // — a fresh-checkpoint AvailableNow backfill delivers the
              // whole backlog as ONE batch, and |B|² exact dots there is
              // the quadratic this sink must not pay. The LSH path's
              // recall is band-bounded exactly as the corpus side is
              // shortlist-bounded; verbatim embedding copies always
              // collide (every sign agrees)
              val batchPairs =
                if (nSide <= semanticGateExactCap) {
                  val a = Similarity.withNorm(side.select(
                    col(idCol).as("_ia"), col(vecCol).as("_va"),
                    col("_adm").as("_aa")), "_va", "_na")
                  val bb = Similarity.withNorm(cand.select(
                    col(idCol).as("_ib"), col(vecCol).as("_vb")), "_vb", "_nb")
                  a.crossJoin(broadcast(bb))
                    .filter(col("_aa") || col("_ia") < col("_ib"))
                    .select(col("_ia").as("id_a"), col("_ib").as("id_b"),
                      (Similarity.dot(col("_va"), col("_vb")) /
                        (col("_na") * col("_nb"))).as("cos"))
                    .filter(col("cos") >= tau)
                } else {
                  // past the cap the pairing must stay sub-quadratic, and
                  // the route depends on the bar. At dup bars (τ ≥ 0.9)
                  // τ-adaptive sign-LSH ([[Similarity.lshRowsPerBand]] —
                  // the measured derivation: at τ=0.99, r=24 makes
                  // novel×novel candidates ~10⁻⁷ of pairs, 307 s vs 427 s
                  // exact at ×10, BENCH_LOCAL_r16.md §3). BELOW 0.9
                  // sign-LSH floors at r=4 and admits 8·2⁻⁴ of ALL pairs —
                  // the backfill quadratic would survive a SemDeDup-like
                  // bar — so low bars train ⌈√|B|⌉ FRESH centroids on the
                  // batch (two Lloyd passes) and pair within multi-probed
                  // clusters: |B|^1.5 pair space at ANY τ, hot clusters
                  // star-capped so verbatim floods drop whole via their
                  // min-id rep in m−1 pairs. The stored-quantizer self-ADC
                  // alternative ([[graft.ext.AnnIndex.selfPairs]]) was
                  // MEASURED SLOWER THAN EXACT here (567 s vs 385 s at
                  // ×10, BENCH_LOCAL_r17.md §3): a backfill 10× the
                  // indexed base runs |B|²·nprobe/nlist ADC rows against
                  // the base's stale coarse geometry — batch-fresh
                  // clustering is the route that scales with the BATCH
                  val raw =
                    if (tau >= 0.9)
                      Similarity.cosinePairsLsh(side, idCol, vecCol, dim,
                        tau, bands = 8,
                        rowsPerBand = Similarity.lshRowsPerBand(tau))
                    else {
                      // kc ceiling 256: the column-projected kmeans/assign
                      // width is the binding constraint, so the |B|^1.5
                      // bound holds up to |B| ≈ 65k docs per batch —
                      // backfills beyond that should bound the batch
                      // (maxFilesPerTrigger under AvailableNow drains the
                      // backlog in chunks). The chunked drain's SEMANTICS
                      // are pinned, not assumed (StreamsSpec "chunked
                      // backfill composes"): the admitted-corpus memory
                      // makes it greedy in (chunk, id) ARRIVAL order —
                      // every dup group still admits exactly ONE
                      // representative and every novel/sub-threshold doc
                      // is admitted identically to the one-batch run; the
                      // only divergence is WHICH rep survives a group
                      // whose later id arrives in an earlier chunk (the
                      // earliest ARRIVAL wins, where one-batch keeps the
                      // smallest id). Drain the backlog in id order when
                      // rep identity matters; per-chunk cost stays
                      // batch-linear (ScaleStress ingestbackfill chunked
                      // row)
                      val kc = math.max(2, math.min(256,
                        math.ceil(math.sqrt(nSide.toDouble)).toInt))
                      // star-cap only DEGENERATE clusters: 8× the mean
                      // 2-probe cluster size, so near-dup recall between
                      // non-rep members survives at any |B| (a fixed cap
                      // would mark EVERY cluster hot on a large batch and
                      // silently degrade the whole pairing to rep stars)
                      val cap = math.min(Int.MaxValue.toLong,
                        math.max(64L, 16L * nSide / kc)).toInt
                      val cents = Similarity.kmeansTrain(side, idCol,
                          vecCol, k = kc, iters = 2)
                        .select(col("centroid_id").cast("long").as(idCol),
                          col(vecCol))
                      Similarity.cosinePairsClusteredMultiProbe(side, cents,
                        idCol, vecCol, tau, nprobe = 2, clusterCap = cap)
                    }
                  val adm = side.select(col(idCol), col("_adm"))
                  raw
                    .join(adm.select(col(idCol).as("id_a"),
                      col("_adm").as("_aa")), Seq("id_a"))
                    .join(adm.select(col(idCol).as("id_b"),
                      col("_adm").as("_ab")), Seq("id_b"))
                    // two admitted docs condemn nobody; an admitted doc
                    // on either end takes the condemner (id_a) seat
                    .filter(!(col("_aa") && col("_ab")))
                    .select(
                      when(col("_ab"), col("id_b")).otherwise(col("id_a"))
                        .as("id_a"),
                      when(col("_ab"), col("id_a")).otherwise(col("id_b"))
                        .as("id_b"),
                      col("cos"))
                }
              // staged once: the audit upsert and the drop resolution must
              // not each re-run the shortlist+confirm pipeline
              val pairs = Scratch.stage(
                corpusPairs.unionByName(batchPairs), s"${ann}_sgate_pairs")
              semanticGatePairsTable.foreach(pt => Upsert.mergeInto(store, pt, pairs,
                Seq("id_a", "id_b"), onDuplicate = Upsert.DuplicatePolicy.DedupDeterministic))
              Scratch.stage(input.join(
                pairs.select(col("id_b").as(idCol)).distinct(),
                Seq(idCol), "left_anti"), s"${ann}_sgate_kept")
          }
        // corpus leg FIRST: the semantic gate's next-batch memory is the
        // admitted corpus, and exact confirm must find a kept doc's
        // vector even when a crash interrupted the index legs behind it
        corpusTable.foreach { ct =>
          withFresh(input2.join(store.read(ct).select(col(idCol)),
              Seq(idCol), "left_anti"), ct) { fresh =>
            if (!fresh.isEmpty) {
              if (repair)
                graft.tables.Deletes.deleteRows(store, ct, idCol,
                  fresh.select(col(idCol)), None)
              store.append(ct, fresh)
            }
          }
        }
        // stage the guard's anti-join ONCE per leg (batch-sized,
        // disk-backed, a Scratch stage) and hand consumers the
        // read-back: the empty probe plus one or two appends would
        // otherwise re-run the dedup window and knownIds anti-join per
        // action, and the repair path must never read a table it is about
        // to mutate. The stage lives in the scratch root, never in the
        // store, and Scratch reclaims it (see the scaladoc)
        def withFresh(fresh0: DataFrame, n: String)(use: DataFrame => Unit): Unit =
          use(Scratch.stage(fresh0, s"${n}_ingest_stage"))
        annIndex.foreach { n =>
          withFresh(input2.join(graft.ext.AnnIndex.knownIds(store, n, idCol),
              Seq(idCol), "left_anti"), n) { fresh =>
            if (!fresh.isEmpty) {
              if (repair)
                graft.ext.AnnIndex.deleteIds(store, n, fresh.select(col(idCol)), idCol)
              graft.ext.AnnIndex.append(store, n, fresh, idCol, vecCol)
            }
          }
        }
        bm25Index.foreach { n =>
          withFresh(input2.join(graft.ext.Bm25.knownIds(store, n, idCol),
              Seq(idCol), "left_anti"), n) { fresh =>
            if (!fresh.isEmpty) {
              if (repair)
                graft.ext.Bm25.deleteIds(store, n, fresh.select(col(idCol)), idCol)
              graft.ext.Bm25.append(store, n, fresh, idCol, textCol)
            } else if (repair) {
              // the doc committed its doclen (hence guarded out) but the
              // interrupted attempt may have died before the stats write
              graft.ext.Bm25.refreshStats(store, n)
            }
          }
        }
        // gate commit BEFORE the done marker: a crash in between replays
        // into an empty fresh set over fully-completed legs (see scaladoc)
        gateCommit()
        store.overwrite(intentT,
          Seq((bid, bid)).toDF("started_batch", "done_batch"))
        // retrain policy runs AFTER the done marker for the same reason
        // as compaction (content-preserving — the rebuild retrains
        // quantizers from the corpus the legs just committed; a crash
        // inside it must not drag the replay onto the repair path) and
        // BEFORE it: a rebuild that fires rewrites the codes table
        // wholesale, so compacting first would be wasted work. The
        // health poll it starts from is the fingerprint-cached one-row
        // read — the silent-bell cost is the measured 0.33-0.49 s/batch
        // clapper cadence, not a corpus aggregate.
        rebuildPolicy.filter(rp => bid % rp.cadence == 0).foreach { rp =>
          val n = annIndex.get
          val dec = graft.ext.AnnIndex.rebuildIfUnhealthy(store, n,
            store.read(corpusTable.get), idCol, vecCol, rp.dim,
            driftFactor = rp.driftFactor,
            skewCostMultiple = rp.skewCostMultiple,
            collapseFactor = rp.collapseFactor,
            rearmFactor = rp.rearmFactor,
            nlist = rp.nlist, coarseIters = rp.coarseIters,
            m = rp.m, k = rp.k, pqIters = rp.pqIters,
            sampleMod = rp.sampleMod, recal = rp.recal)
          rp.decisionTable.foreach { dt =>
            store.append(dt, Seq((bid, dec.triggered, dec.driftTriggered,
              dec.skewTriggered, dec.collapseTriggered, dec.driftBaseline,
              dec.driftLast, dec.maxClusterFrac, dec.nClusters,
              dec.autoNlist))
              .toDF("batch_id", "rebuilt", "drift", "skew", "collapse",
                "drift_baseline", "drift_last", "max_cluster_frac",
                "n_clusters", "auto_nlist"))
          }
        }
        // the lexical clapper shares the cadence: derive/persist the
        // gate's probe cap when its hottest band bucket crosses the
        // budget — the NEXT batch's probe picks it up through the
        // effGateCap min-compose above (a policy write, content-neutral,
        // so it also runs after the done marker)
        gateCapPolicy.filter(gp => bid % gp.cadence == 0).foreach { gp =>
          val g = dedupGate.get
          val dec = graft.ext.DedupIndex.capIfUnhealthy(store, g,
            hotBucketBudget = gp.hotBucketBudget, capFactor = gp.capFactor,
            rearmFactor = gp.rearmFactor, retireFraction = gp.retireFraction)
          gp.decisionTable.foreach { dt =>
            // probe_cap = what the NEXT batch's probe will actually run
            // under (the min-compose), beside bucket_cap = the stored
            // policy alone — the audit must name the EFFECTIVE cap or an
            // operator debugging coarsened recall reads the wrong number
            val probeCap = math.min(
              if (gateBucketCap == 0) Int.MaxValue else gateBucketCap,
              dec.cap.getOrElse(Int.MaxValue))
            store.append(dt, Seq((bid, dec.triggered, dec.retired,
              dec.hotBucketRows, dec.hotBucketBudget, dec.cap.getOrElse(0),
              probeCap))
              .toDF("batch_id", "capped", "retired", "hot_rows", "budget",
                "bucket_cap", "probe_cap"))
          }
        }
        // the BM25 clapper shares the cadence: derive/persist the index's
        // df-cap + stop-term list when its hottest term crosses the scan
        // budget — subsequent searchIndex(termDfCap = 0) calls prune
        // through the stored policy (a policy write, content-neutral, so
        // it also runs after the done marker)
        bm25CapPolicy.filter(bp => bid % bp.cadence == 0).foreach { bp =>
          val n = bm25Index.get
          val dec = graft.ext.Bm25.capIfUnhealthy(store, n,
            hotTermBudget = bp.hotTermBudget,
            rearmFactor = bp.rearmFactor,
            retireFraction = bp.retireFraction)
          bp.decisionTable.foreach { dt =>
            store.append(dt, Seq((bid, dec.triggered, dec.retired,
              dec.hotTermRows, dec.hotTermBudget, dec.cap.getOrElse(0L),
              dec.nStopTerms))
              .toDF("batch_id", "capped", "retired", "hot_df", "budget",
                "df_cap", "n_stopterms"))
          }
        }
        // per-batch appends fragment; compaction runs AFTER the done
        // marker — it is content-neutral (atomic swap), so a crash during
        // it must not drag the replay onto the repair path (the
        // indexedNearDupSink cadence: health check after every batch)
        annIndex.foreach(n =>
          graft.ext.AnnIndex.maintainIfNeeded(store, n, maxFiles = maxIndexFiles))
        bm25Index.foreach(n =>
          graft.ext.Bm25.maintainIfNeeded(store, n, maxFiles = maxIndexFiles))
        dedupGate.foreach(g =>
          graft.ext.DedupIndex.maintainIfNeeded(store, g, maxFiles = maxIndexFiles))
        // the corpus, the two pair audit tables (an all-new batch's pairs
        // append, and an empty pair set still lands a footer-only file)
        // and the policy audit tables, which append ONE ROW PER
        // CADENCE-BATCH forever — months of per-minute micro-batches make
        // them the classic small-files trap on exactly the table an
        // operator reads when paged. Same trigger, same bound, same
        // post-marker safety as the index tables (compaction is
        // content-neutral)
        (corpusTable ++ gatePairsTable ++ semanticGatePairsTable ++
          rebuildPolicy.flatMap(_.decisionTable) ++
          gateCapPolicy.flatMap(_.decisionTable) ++
          bm25CapPolicy.flatMap(_.decisionTable)).foreach(t =>
          Compact.compactIfFragmented(store, t, maxFiles = maxIndexFiles))
        ()
      }
      .start()
  }

  /** Streaming quality gate with TRAINED weights — the streaming twin of
    * the t15 batch surface: each micro-batch scores against the exported
    * (term, weight) table via [[graft.ext.TextAnalysis.linearScore]]
    * (broadcast join + decimal mean pool — batch semantics inside
    * foreachBatch, so the exact same arithmetic as the batch gate), keeps
    * documents with score > `cut`, and UPSERTS them by `idCol`
    * ([[Upsert.mergeInto]], replay-idempotent like the other sinks): a
    * batch of all-new ids appends and keeps every prior file, a replayed
    * batch finds its ids and merges, and a NULL id re-inserts as it always
    * has. The table is compacted past the default file bound. The weight
    * table is a plain DataFrame: re-deploying a retrained model is
    * swapping the table, not the stream.
    */
  def scoredUpsertSink(
      docs: DataFrame, store: TableStore, table: String, idCol: String,
      textCol: String, weights: DataFrame, bias: Double, cut: Double,
      checkpoint: String): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = graft.clean.Normalize.dedupKeep(
          batch, Seq(idCol), batch.columns.filterNot(_ == idCol).map(col).toSeq)
        val kept = graft.ext.TextAnalysis
          .linearScore(b, idCol, textCol, weights, bias = bias)
          .filter(col("score") > cut)
          .join(b, Seq(idCol))
        mergeAndBound(store, table, kept, Seq(idCol))
      }
      .start()

  /** Streaming data-quality gate — the DLT expect-or-drop + quarantine
    * pattern on a stream: each micro-batch splits against the declared
    * [[graft.tables.Expectations]] rules (strict NULL-is-violation
    * semantics, one pass); clean rows UPSERT into `table` and violating
    * rows — carrying their `_violations` reasons — UPSERT into
    * `quarantineTable`, both keyed by `keys` ([[Upsert.mergeInto]]): a
    * batch of all-new keys appends to each table and keeps its prior
    * files, a replayed batch finds its keys and merges, so micro-batch
    * replay is idempotent, and NULL keys re-insert as they always have.
    * Both tables are compacted past the default file bound (an empty
    * clean or quarantine set still appends a footer-only file). The
    * quarantine is an AUDIT of violations seen per key: a
    * later redelivery of a FIXED row upserts into the clean table but
    * does not retract its quarantine row (triage owns that), which is the
    * DLT quarantine convention — quality history must not silently
    * self-erase.
    */
  def expectationsSink(
      docs: DataFrame, store: TableStore, table: String, quarantineTable: String,
      keys: Seq[String], rules: Seq[graft.tables.Expectations.Rule],
      checkpoint: String): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = graft.clean.Normalize.dedupKeep(
          batch, keys, batch.columns.filterNot(keys.contains).map(col).toSeq)
        val (clean, bad) = graft.tables.Expectations.split(b, rules)
        mergeAndBound(store, table, clean, keys)
        mergeAndBound(store, quarantineTable, bad, keys)
      }
      .start()

  /** Streaming exact dedup with bounded state: duplicates arriving within
    * the watermark horizon are dropped; state for keys older than the
    * watermark is evicted (`dropDuplicatesWithinWatermark` — the streaming
    * twin of the batch keyed dedup, with the re-delivery window the
    * reference handles via keyed upsert).
    */
  def dedupStream(df: DataFrame, keys: Seq[String], tsCol: String, lateness: String): DataFrame =
    df.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming crawl ingest — the streaming twin of the c6 batch pipeline:
    * pages arrive on any stream (file-source JSONL landing, Kafka), get
    * HTML-stripped and Gopher-gated as per-row map work riding the
    * micro-batch, then exact-dedup on the CLEANED text's digest within the
    * watermark horizon (re-crawls of a page differ in markup and timing,
    * not visible text — keying the state on `content_md5` of the cleaned
    * text is what folds them). State is bounded by the watermark: a
    * digest's dedup entry retires `lateness` after its event time, the
    * crawl-scale requirement (an unbounded digest set would OOM a year-long
    * stream; history-scale dedup belongs to the durable index sink).
    */
  def crawlStream(pages: DataFrame, tsCol: String, htmlCol: String,
      lateness: String, minWords: Int = 50): DataFrame = {
    val clean = graft.ext.Html.stripHtml(col(htmlCol))
    val gated = pages
      .withColumn("clean_text", clean)
      .drop(htmlCol)
      .filter(graft.ext.TextAnalysis.gopherKeep(col("clean_text"), minWords))
      .withColumn("content_md5", md5(col("clean_text")))
    dedupStream(gated, Seq("content_md5"), tsCol, lateness)
  }

  /** Streaming takedown sink: opt-out/delete requests arrive as a stream
    * of ids, each micro-batch runs the FULL
    * [[graft.tables.Deletes.cascade]] (corpus tables, dedup indexes, ANN
    * indexes, pack tables, versioned snapshots), then logs the processed
    * ids into `{logTable}` — the compliance pipeline as a standing query
    * instead of a manual batch job.
    *
    * Delivery contract: at-least-once with a log guard. Each batch
    * anti-joins against the log FIRST, so a re-delivered id (replayed
    * batch, duplicate request) is a no-op before the cascade even runs;
    * every cascade leg is idempotent anyway, so the only crash-window
    * artifact (died between cascade and log append) is a re-run of
    * already-applied deletes — and, if `versioned` tables are listed, one
    * extra snapshot version whose diff is empty (benign; `keep` retention
    * ages it out). The log table doubles as the takedown AUDIT trail:
    * (id, batch_id, processed_at).
    *
    * Scale contract: the guard anti-join carries NO broadcast hint — the
    * log table grows for the lifetime of the standing query, and
    * broadcasting it would eventually blow the driver/executor broadcast
    * limit; the log side is a one-column pruned scan and AQE picks the
    * strategy (it will broadcast while the log is genuinely small and
    * shuffle once it is not). Driver memory is bounded by `maxBatchIds`:
    * an oversized batch (bulk backfill, replayed epoch) is processed in
    * chunks of that size rather than collected whole — each chunk runs
    * the full guard+cascade+log sequence, so a crash mid-batch re-runs
    * only idempotent legs. The log is append-only audit evidence; if it
    * must shrink, compact it OUTSIDE the query (e.g. keep one row per id)
    * — never truncate below ids the corpus could still replay.
    */
  def takedownSink(ids: DataFrame, store: TableStore, idCol: String,
      logTable: String, checkpoint: String,
      corpus: Seq[String] = Nil, corpusPartitionCol: Option[String] = None,
      indexes: Seq[String] = Nil, annIndexes: Seq[String] = Nil,
      packs: Seq[graft.tables.Deletes.PackSpec] = Nil,
      versioned: Seq[String] = Nil, keep: Int = 3,
      maxBatchIds: Int = 100000,
      bm25Indexes: Seq[String] = Nil,
      pairTables: Seq[String] = Nil): StreamingQuery = {
    require(maxBatchIds > 0, s"maxBatchIds must be positive, got $maxBatchIds")
    ids.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val keys = batch.select(col(idCol)).distinct()
        val keySchema = keys.schema
        // toLocalIterator, not collect: the whole-batch id set never
        // materializes on the driver — partitions stream in one at a time,
        // so resident driver memory is O(maxBatchIds + one partition)
        // regardless of how large a backfilled batch gets
        import scala.jdk.CollectionConverters._
        keys.toLocalIterator().asScala.grouped(maxBatchIds).foreach { chunkRows =>
          val chunk = spark.createDataFrame(chunkRows.asJava, keySchema)
          val fresh =
            if (store.exists(logTable))
              chunk.join(store.read(logTable).select(col(idCol)),
                Seq(idCol), "left_anti")
            else chunk
          // the cascade reads its targets lazily per leg; materialize the
          // fresh set once so the guard join doesn't replay per leg
          val freshRows = fresh.collect() // ≤ maxBatchIds by construction
          if (freshRows.nonEmpty) {
            val freshDf = spark.createDataFrame(
              java.util.Arrays.asList(freshRows: _*), fresh.schema)
            graft.tables.Deletes.cascade(store, freshDf, idCol,
              corpus, corpusPartitionCol, indexes, annIndexes, packs,
              versioned, keep, bm25Indexes, pairTables)
            store.append(logTable, freshDf
              .withColumn("batch_id", lit(batchId))
              .withColumn("processed_at", current_timestamp()))
          }
        }
      }
      .start()
  }

  /** General watermark-bounded stream-stream INTERVAL join — the
    * impressions⋈clicks shape: a left row at `tsLeft` pairs with right
    * rows of the same `key` whose `tsRight` falls in
    * `[tsLeft + lower, tsLeft + upper]` (both interval literals; `lower`
    * may be negative, e.g. `"-5 minutes"`). Watermarks on BOTH sides plus
    * the two-sided time constraint are what make the state finite: Spark
    * derives each side's state horizon from the other side's watermark and
    * the interval bounds, purges buffered rows that can no longer join,
    * and drops late input beyond the watermark deterministically
    * (StreamsSpec pins in-window match, out-of-window silence, cross-batch
    * pairing, and the late-drop).
    *
    * The inputs must share ONLY the key column (rename before calling —
    * enforced loudly, because Spark would otherwise resolve an ambiguous
    * duplicate name to an arbitrary side). `withWatermark` is a no-op on
    * batch frames, so the SAME function is its own batch twin: run it on
    * the drained static inputs and the streaming output must match row for
    * row (the sessionize convention, pinned in the spec; j10 is the
    * interval-join oracle on the batch side).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      tsLeft: String, tsRight: String, lower: String, upper: String,
      lateness: String = "30 minutes", joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_outer").contains(joinType),
      s"intervalJoin supports inner and left_outer, got '$joinType' " +
        "(right_outer is left_outer with the inputs swapped)")
    val shared = left.columns.toSet.intersect(right.columns.toSet)
    require(shared == Set(key),
      s"intervalJoin inputs must share only the key column '$key'; shared: " +
        shared.mkString(", "))
    val rk = s"__r_$key"
    val l = left.withWatermark(tsLeft, lateness)
    val r = right.withColumnRenamed(key, rk).withWatermark(tsRight, lateness)
    // left_outer: an unmatched left row emits null-padded ONLY once the
    // watermark proves no in-window right row can still arrive — the
    // "impressions that never converted" report, produced by the engine's
    // state cleanup instead of a second reconciliation job
    l.join(r,
        col(key) === col(rk) &&
          col(tsRight) >= col(tsLeft) + expr(s"INTERVAL $lower") &&
          col(tsRight) <= col(tsLeft) + expr(s"INTERVAL $upper"),
        joinType)
      .drop(rk)
  }

  /** Stream-stream attribution join over [[Event]] streams: each click
    * pairs with purchases of the same user within
    * `[click.ts, click.ts + horizon]` — [[intervalJoin]] specialized to
    * the event schema. The reference has no streaming joins; this is core
    * engine surface for event attribution at scale.
    */
  def attributionJoin(
      clicks: DataFrame, purchases: DataFrame, horizon: String,
      lateness: String = "30 minutes"): DataFrame = {
    val c = clicks.select(col("user_id"), col("ts").as("click_ts"),
      col("event_id").as("click_id"))
    val p = purchases.select(col("user_id"), col("ts").as("purchase_ts"),
      col("value").as("purchase_value"))
    intervalJoin(c, p, "user_id", "click_ts", "purchase_ts",
        "0 seconds", horizon, lateness)
      .select(col("user_id"), col("click_id"),
        col("click_ts"), col("purchase_ts"), col("purchase_value"))
  }
}
