package graft.tables

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Row-level DELETE with derived-artifact propagation — the takedown /
  * opt-out cascade a production corpus pipeline cannot ship without.
  * Delta-parity DELETE is the storage half (the reference platform gets
  * `DELETE FROM` from Delta; [[TableStore]] tables get it here as an
  * anti-join rewrite, partition-scoped where the layout allows); the
  * compliance half is that a removed document must also disappear from
  * every artifact DERIVED from it: the durable dedup index
  * ([[graft.ext.DedupIndex.deleteIds]] — survivors never re-shingled),
  * packed training shards ([[repackShards]] — only affected shards
  * recompute), and versioned serving snapshots ([[deleteVersioned]] — the
  * new version's [[Versions.diff]] IS the audit record of what was
  * removed).
  *
  * Scale shape, per leg:
  *  - corpus delete: one column-pruned scan to find affected partitions
  *    (id + partition column only), then [[TableStore.rewritePartitions]],
  *    the partition-scoped rewrite [[Upsert.mergePartitioned]] also runs:
  *    a takedown batch touching 3 months moves 3 directories, not the
  *    10-year table; a partition the delete empties is removed, and the
  *    NULL partition is reached like any other. Unpartitioned tables pay
  *    one full anti-join rewrite (their size class by definition).
  *  - ids ride a broadcast: takedown batches are small by nature (a legal
  *    request lists documents, not terabytes); every leg anti/semi-joins
  *    against the same broadcast key set, so no leg shuffles its table on
  *    the id.
  *  - idempotent: every leg is a pure function of (current table, ids), so
  *    a crash mid-cascade is repaired by re-running the cascade with the
  *    same ids.
  */
object Deletes {

  /** One pack table to re-pack after a delete: a table produced by
    * [[graft.ext.Packing.assign]] with these parameters, stored
    * hive-partitioned on `shardCol`.
    */
  final case class PackSpec(table: String, orderCol: String, nTokCol: String,
      shardCol: String, budget: Long)

  /** DELETE FROM `table` WHERE `idCol` IN (ids). With `partitionCol` the
    * rewrite is partition-scoped ([[rewrite]]): affected partitions are
    * found by a column-pruned (partition, id) scan semi-joined with the
    * ids — driver-bounded by construction.
    */
  def deleteRows(store: TableStore, table: String, idCol: String, ids: DataFrame,
      partitionCol: Option[String] = None): Unit = {
    val keys = broadcast(ids.select(col(idCol)).distinct())
    rewrite(store, table, partitionCol, store.read(table).join(keys, Seq(idCol), "left_semi"))(
      _.join(keys, Seq(idCol), "left_anti"))
  }

  /** `DELETE FROM table WHERE cond` — the predicate form (Delta's general
    * DELETE; [[deleteRows]] is the id-set special case). With
    * `partitionCol` the rewrite is partition-scoped exactly like
    * deleteRows: affected partitions are found by a column-pruned scan of
    * the predicate's matching rows. The predicate must be deterministic —
    * it runs once to find affected partitions and once in the rewrite,
    * and a nondeterministic condition could disagree between the two
    * passes.
    */
  def deleteWhere(store: TableStore, table: String, cond: org.apache.spark.sql.Column,
      partitionCol: Option[String] = None): Unit =
    rewrite(store, table, partitionCol, store.read(table).filter(cond))(
      _.filter(!coalesce(cond, lit(false))))

  /** `UPDATE table SET col = expr, ... WHERE cond` — the in-place edit
    * (Delta UPDATE; [[graft.tables.Upsert.merge]] is the keyed-source
    * form). Same partition-scoped rewrite discipline as [[deleteWhere]]:
    * only partitions holding matching rows move; assignments apply only
    * where `cond` is TRUE (SQL semantics — NULL leaves the row untouched).
    * The predicate and EVERY assignment RHS are evaluated against the OLD
    * row in one projection — `SET a = b, b = a` swaps, and a condition
    * referencing an assigned column never sees its new value — matching
    * SQL/Delta UPDATE, which a sequential withColumn fold would not.
    * Assignments may not touch the partition column: an updated row could
    * silently change directories mid-rewrite.
    */
  def updateWhere(store: TableStore, table: String,
      cond: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      partitionCol: Option[String] = None): Unit = {
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    partitionCol.foreach(pc => require(!assignments.contains(pc),
      s"assignment may not touch the partition column $pc " +
        "(a matched row could move across partitions)"))
    val hit = coalesce(cond, lit(false))
    rewrite(store, table, partitionCol, store.read(table).filter(cond)) { df =>
      val cols = df.columns.toIndexedSeq
      val missing = assignments.keySet -- cols
      require(missing.isEmpty,
        s"UPDATE assigns columns not in the table: ${missing.mkString(", ")}")
      df.select(cols.map { c =>
        assignments.get(c)
          .map(e => when(hit, e).otherwise(col(c)).as(c))
          .getOrElse(col(c))
      }: _*)
    }
  }

  /** The distinct values of `partitionCol` among `hits`: the partitions a
    * DML touches, NULL included. */
  private def partitionsOf(hits: DataFrame, partitionCol: String): Seq[Any] =
    hits.select(col(partitionCol)).distinct().collect().map(_.get(0)).toSeq

  /** Replace `table` with `f` of its rows: the whole table
    * ([[TableStore.overwrite]]) when there is no partition column, else
    * only the partitions holding `hits`, the rows the DML touches
    * ([[TableStore.rewritePartitions]]; a partition `f` empties is
    * removed, the NULL partition is reached like any other). */
  private def rewrite(store: TableStore, table: String, partitionCol: Option[String],
      hits: => DataFrame)(f: DataFrame => DataFrame): Unit = partitionCol match {
    case None => store.overwrite(table, f(store.read(table)))
    case Some(pc) => store.rewritePartitions(table, pc, partitionsOf(hits, pc))(f)
  }

  /** Takedown against a [[Versions]]-managed snapshot table: writes a new
    * version holding the survivors, so `Versions.diff(vPrev, vNew)` reads
    * exactly `removed` for the deleted ids and `unchanged` elsewhere — the
    * compliance audit artifact itself, produced by the mechanism the table
    * already has. Returns the new version number.
    */
  def deleteVersioned(store: TableStore, name: String, idCol: String,
      ids: DataFrame, keep: Int = 3): Long = {
    val keys = broadcast(ids.select(col(idCol)).distinct())
    Versions.overwrite(store, name,
      Versions.read(store, name).join(keys, Seq(idCol), "left_anti"), keep)
  }

  /** Re-pack ONLY the shards the deleted ids lived in. Pack granularity is
    * impossible by construction: `pack_id`/`pack_offset` are prefix sums
    * over the shard's ordered doc stream, so removing one doc shifts every
    * LATER doc in the same shard — the shard is the finest unit that can
    * recompute independently. Untouched shards' directories never move
    * (DeletesSpec pins their file listings byte-identical), the
    * s8_affected_months idiom at shard grain. Result equals
    * [[graft.ext.Packing.assign]] re-run from scratch on the survivors.
    */
  def repackShards(store: TableStore, spec: PackSpec, idCol: String,
      ids: DataFrame): Unit = {
    val keys = broadcast(ids.select(col(idCol)).distinct())
    val affected = partitionsOf(
      store.read(spec.table).join(keys, Seq(idCol), "left_semi"), spec.shardCol)
    store.rewritePartitions(spec.table, spec.shardCol, affected) { slice =>
      graft.ext.Packing.assign(
        slice.join(keys, Seq(idCol), "left_anti").drop("pack_id", "pack_offset"),
        spec.orderCol, spec.nTokCol, Seq(spec.shardCol), spec.budget)
    }
  }

  /** The full takedown cascade: delete `ids` from the corpus tables, every
    * listed dedup index, every listed ANN index, every listed BM25 index
    * ([[graft.ext.Bm25.deleteIds]] — doc-local row drops; df/N/avgdl are
    * derived from survivors by design, so retrieval scores equal a
    * from-scratch rebuild with no counter bookkeeping), every listed pack
    * table, and every listed versioned snapshot (in that order — the
    * content itself first, then derived artifacts; each leg is independent
    * and idempotent, so a crash anywhere is repaired by re-running with
    * the same ids).
    *
    * Doc-keyed DERIVED tables with no cross-row state — classifier-score
    * tables, per-doc quality/perplexity reports, redacted twins — need no
    * dedicated leg: their delete IS the corpus-leg semantics (row drops by
    * id, partition-scoped where laid out so). List them in `corpus`. The
    * dedicated legs exist only where a naive row drop would be WRONG:
    * dedup/ANN indexes (bucketed layouts), BM25 (global stats), packs
    * (prefix-sum shards), versioned snapshots (audit diff) — and
    * `pairTables`, the near-dup PAIR tables ([[graft.streaming.Streams
    * .nearDupSink]] / `indexedNearDupSink` / the ingest gate's audit
    * trail: `(id_a, id_b, …)` rows), where a single-column corpus-leg
    * drop would silently keep every row holding the deleted id on its
    * OTHER side; here a row dies when EITHER side is deleted (two
    * broadcast anti-joins, one atomic overwrite per table).
    */
  def cascade(store: TableStore, ids: DataFrame, idCol: String,
      corpus: Seq[String] = Nil, corpusPartitionCol: Option[String] = None,
      indexes: Seq[String] = Nil, annIndexes: Seq[String] = Nil,
      packs: Seq[PackSpec] = Nil,
      versioned: Seq[String] = Nil, keep: Int = 3,
      bm25Indexes: Seq[String] = Nil,
      pairTables: Seq[String] = Nil): Unit = {
    corpus.foreach(t => deleteRows(store, t, idCol, ids, corpusPartitionCol))
    indexes.foreach(n => graft.ext.DedupIndex.deleteIds(store, n, ids, idCol))
    annIndexes.foreach(n => graft.ext.AnnIndex.deleteIds(store, n, ids, idCol))
    bm25Indexes.foreach(n => graft.ext.Bm25.deleteIds(store, n, ids, idCol))
    pairTables.foreach { t =>
      val k = broadcast(ids.select(col(idCol)))
      store.overwrite(t, store.read(t)
        .join(k.select(col(idCol).as("id_a")), Seq("id_a"), "left_anti")
        .join(k.select(col(idCol).as("id_b")), Seq("id_b"), "left_anti"))
    }
    packs.foreach(p => repackShards(store, p, idCol, ids))
    versioned.foreach(n => deleteVersioned(store, n, idCol, ids, keep))
  }

  /** Compact the [[graft.streaming.Streams.takedownSink]] audit log to
    * ONE row per id — the maintenance the sink's contract tells callers
    * to run OUTSIDE the standing query, promoted from folklore to a
    * library function. Keeps each id's FIRST-processed row (earliest
    * `batch_id`, then earliest `processed_at` — the row that proves when
    * the takedown was first applied, which is what an audit needs), so
    * the log never shrinks below the id set the sink's replay guard
    * anti-joins against: a replayed or re-delivered id still hits the
    * guard and stays a no-op. That invariant is also CHECKED, not just
    * implied — the compacted set is staged beside the log
    * ([[TableStore.stage]], never a store table), its distinct-id count
    * compared against the live log's, and the atomic swap only happens
    * on equality (a belt-and-braces abort path for future edits, since
    * window-dedup cannot lose ids today). Idempotent: a second run finds
    * one row per id and rewrites the same content.
    *
    * Returns (rows before, rows after); `after` is summed from the
    * stage's parquet footers ([[TableStore.Staged.numRows]], no Spark
    * job). Scale shape: one id-keyed window over the log (the a2 dedup
    * shape) plus a narrow distinct count on each side of the swap; the log
    * is takedown-sized, not corpus-sized.
    */
  def compactTakedownLog(store: TableStore, logTable: String,
      idCol: String): (Long, Long) = {
    val log = store.read(logTable)
    val before = log.count()
    val staged = store.stage(logTable, graft.clean.Normalize.dedupKeep(log, Seq(idCol),
      Seq(col("batch_id"), col("processed_at"))))
    try {
      val liveIds = log.select(col(idCol)).distinct().count()
      val stagedIds = staged.rows.select(col(idCol)).distinct().count()
      require(stagedIds == liveIds,
        s"compactTakedownLog: staged log holds $stagedIds distinct ids, live " +
          s"holds $liveIds — refusing to swap below the replay-guard id set")
      store.overwrite(logTable, staged.rows)
      (before, staged.numRows)
    } finally store.discard(staged)
  }
}
