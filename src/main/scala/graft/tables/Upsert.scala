package graft.tables

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Delta-style `MERGE INTO` semantics as a DataFrame rewrite — the
  * consolidation primitive the reference uses at six call sites
  * (SURVEY.md §2.6; e.g. 1_customer_data_processing.py:315-318,
  * 3_pricing_data_processing.py:263-277, 2_incremental_load_fact.py:290-291).
  *
  * Semantics replicated: rows are matched by equality on `keys`; matched
  * target rows get `updateCols` (default: all non-key columns) replaced by
  * source values; unmatched source rows are inserted (when `insert`);
  * unmatched target rows pass through untouched; NULL keys never match
  * (same as SQL equality / Delta). More than one source row matching one
  * target key is an error in Delta — policy configurable via
  * [[Upsert.DuplicatePolicy]] (SURVEY §7.5: dedup-first or document).
  *
  * Scale notes: [[merge]] is a single full-outer join on the merge keys
  * (no repeated semi/anti passes over the target); with AQE on, skewed keys
  * split automatically. Spark cannot broadcast either side of a full-outer
  * equi-join, so both sides shuffle on the keys. [[mergeInto]] avoids that
  * join, and the full target rewrite behind it, whenever the source matches
  * no target row: the staged source's files are then published into the
  * table as they are. [[stageMerge]] splits an inserting MERGE into its two
  * phases — stage the source, then `commit()` — so a caller can derive more
  * from the staged rows before the table changes. On a partitioned table,
  * [[mergePartitioned]] merges into only the partitions the source touches
  * ([[TableStore.rewritePartitions]]).
  */
object Upsert {

  sealed trait DuplicatePolicy
  object DuplicatePolicy {
    /** Lazily raise at execution time if >1 source row shares a merge key
      * (Delta's behavior, kept distributed via `raise_error`).
      */
    case object Error extends DuplicatePolicy
    /** Keep one arbitrary-but-deterministic row per key (ordered by all
      * non-key columns) before merging.
      */
    case object DedupDeterministic extends DuplicatePolicy
    /** Keep the last row per key by `orderCol` descending. */
    final case class KeepLatest(orderCol: String) extends DuplicatePolicy
  }

  /** The source as [[merge]] consumes it: projected to the target's column
    * order, with `onDuplicate` applied per merge key.
    */
  private def prepareSource(
      source: DataFrame,
      tCols: Seq[String],
      keys: Seq[String],
      onDuplicate: DuplicatePolicy): DataFrame = {
    require(keys.nonEmpty, "merge keys must be non-empty")
    require(source.columns.toSet == tCols.toSet,
      s"source/target column mismatch: ${source.columns.toSeq} vs $tCols")
    val keyW = Window.partitionBy(keys.map(col): _*)
    val src0 = source.select(tCols.map(col): _*)
    onDuplicate match {
      case DuplicatePolicy.Error =>
        // Distributed lazy check — no extra driver action; the count window
        // rides the same shuffle as the merge join key.
        val err = raise_error(concat(
          lit(s"Upsert: multiple source rows share merge key ${keys.mkString(",")}: "),
          concat_ws(",", keys.map(k => col(k).cast("string")): _*)))
        val chk = src0.withColumn("_gm_cnt", count(lit(1)).over(keyW))
        tCols.find(!keys.contains(_)) match {
          case Some(guarded) =>
            // The raise_error guard wraps a NON-key column: rewriting a key
            // expression would hide the window's hashpartitioning(keys) from
            // the planner and force a second source shuffle before the join.
            chk.withColumn(guarded,
                when(col("_gm_cnt") > 1, err.cast(src0.schema(guarded).dataType))
                  .otherwise(col(guarded)))
              .drop("_gm_cnt")
          case None =>
            // Every column is a merge key: guard via a Filter instead of a
            // column rewrite, so no key expression is touched and the window's
            // hashpartitioning(keys) still reaches the merge join intact
            // (Filter preserves child output partitioning).
            chk.filter(when(col("_gm_cnt") > 1, err.cast("boolean"))
                .otherwise(lit(true)))
              .drop("_gm_cnt")
        }
      case DuplicatePolicy.DedupDeterministic =>
        val nonKeys = tCols.filterNot(keys.contains)
        val w = keyW.orderBy(nonKeys.map(c => col(c).asc_nulls_last): _*)
        src0.withColumn("_gm_rn", row_number().over(w))
          .filter(col("_gm_rn") === 1).drop("_gm_rn")
      case DuplicatePolicy.KeepLatest(orderCol) =>
        val w = keyW.orderBy(col(orderCol).desc_nulls_last)
        src0.withColumn("_gm_rn", row_number().over(w))
          .filter(col("_gm_rn") === 1).drop("_gm_rn")
    }
  }

  /** MERGE INTO target USING source ON keys
    * WHEN MATCHED THEN UPDATE SET updateCols (when `update`)
    * WHEN NOT MATCHED THEN INSERT * (when `insert`)
    */
  def merge(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      updateCols: Option[Seq[String]] = None,
      update: Boolean = true,
      insert: Boolean = true,
      onDuplicate: DuplicatePolicy = DuplicatePolicy.Error): DataFrame = {
    val src = prepareSource(source, target.columns.toSeq, keys, onDuplicate)
    mergePrepared(target, src, keys, updateCols, update, insert)
  }

  /** [[merge]] over a source [[prepareSource]] already prepared. */
  private def mergePrepared(
      target: DataFrame,
      src: DataFrame,
      keys: Seq[String],
      updateCols: Option[Seq[String]],
      update: Boolean,
      insert: Boolean): DataFrame = {
    val tCols = target.columns.toSeq

    // Presence markers — key nullability cannot signal side presence (a
    // null-key row exists on one side without matching anything).
    val t = target.withColumn("_gm_t", lit(true)).alias("t")
    val s = src.withColumn("_gm_s", lit(true)).alias("s")
    // NULL never matches: plain === (null keys fall out of both match sets,
    // landing as target-pass-through / source-insert rows — Delta-compatible).
    val cond = keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
    val joined = t.join(s, cond, "full_outer")

    val sMatched = col("s._gm_s").isNotNull
    val tMatched = col("t._gm_t").isNotNull
    val toUpdate = updateCols.getOrElse(tCols.filterNot(keys.contains)).toSet

    val out = tCols.map { c =>
      val fromS = col(s"s.$c")
      val fromT = col(s"t.$c")
      val v =
        if (keys.contains(c)) coalesce(fromT, fromS) // key: whichever side exists
        else when(tMatched && sMatched,
            if (update && toUpdate.contains(c)) fromS else fromT) // matched
          .when(tMatched && !sMatched, fromT) // target-only
          .otherwise(fromS) // source-only (insert candidate)
      v.as(c)
    }

    val merged = joined.select(out: _*)
    if (insert) merged
    else joined.filter(tMatched).select(out: _*)
  }

  /** [[merge]] applied to a stored, unpartitioned table.
    *
    *  - `insert = true`: `stageMerge(...).commit()` — the source is
    *    evaluated once, staged, probed, and published or merged in
    *    ([[stageMerge]]).
    *  - `insert = false` never inserts, so it writes no stage: the probe
    *    runs over the raw source keys (duplicate handling never changes the
    *    key set and NULL keys never match), and only a match rewrites the
    *    table through [[TableStore.overwrite]]'s atomic swap.
    *  - Table absent (either form): create it from `source` as given.
    *
    * An existing table ends up holding exactly the rows of
    * `overwrite(table, merge(read(table), source, ...))` on every path.
    * Partitioned tables go through [[mergePartitioned]].
    */
  def mergeInto(
      store: TableStore,
      table: String,
      source: DataFrame,
      keys: Seq[String],
      update: Boolean = true,
      insert: Boolean = true,
      onDuplicate: DuplicatePolicy = DuplicatePolicy.Error): Unit =
    if (insert) stageMerge(store, table, source, keys, update, onDuplicate).commit()
    else if (!store.exists(table)) store.overwrite(table, source)
    else {
      val target = store.read(table)
      if (!matchProbe(target, source, keys).isEmpty)
        store.overwrite(table, merge(target, source, keys, None, update, insert, onDuplicate))
    }

  /** An inserting MERGE between its two phases ([[stageMerge]]): `rows`
    * reads the staged, prepared source, and `commit()` applies it to the
    * table, once. */
  final class PendingMerge private[Upsert] (val rows: DataFrame, apply: () => Unit) {
    private var committed = false
    def commit(): Unit = {
      require(!committed, "Upsert: this merge was already committed")
      committed = true
      apply()
    }
  }

  /** The first phase of an inserting [[merge]] into a stored,
    * unpartitioned table, in Delta's two phases (stage the source once,
    * find the matches, then commit). Every later consumer of the source —
    * a downstream table derived from the same increment, a collect of the
    * values it touches — reads `rows`, the stage that is already written,
    * instead of evaluating the source again.
    *
    *  - Table absent: `rows` is `source` as given, and `commit()` creates
    *    the table from it ([[TableStore.overwrite]]).
    *  - Stage: the prepared source (column order and `onDuplicate`
    *    handling as in [[merge]]) is written once beside the table
    *    ([[TableStore.stage]]). A failed write, a `DuplicatePolicy.Error`
    *    raise included, leaves no stage and no new data file.
    *
    * `commit()` then, on an existing table:
    *  - Empty stage: the source matches and inserts nothing, so nothing
    *    is written. The row count is summed from the staged files' parquet
    *    footers on the driver ([[TableStore.Staged.numRows]]): no Spark
    *    job, and no footer-only file lands in the table.
    *  - Probe ([[matchProbe]]): the staged keys, broadcast, against the
    *    target's key columns.
    *  - No match: every staged row is an insert, so the stage's files are
    *    added to the table by rename ([[TableStore.publish]]: no Spark job,
    *    no second write, [[TableStore.append]]'s schema union). The
    *    existing data files stay as they are.
    *  - Any match: the full-outer [[merge]] of the target and the staged
    *    rows rewrites the table through [[TableStore.overwrite]]'s atomic
    *    swap.
    *  - The stage is discarded at the end of every path, a failed probe,
    *    rewrite or publish included.
    *
    * The target is read when the merge is staged, so no other write to
    * `table` may come between the two phases (the store's single-writer
    * contract). A merge that is never committed leaves its stage to the
    * sweep of the next stage of `table` ([[TableStore.stage]]).
    */
  def stageMerge(
      store: TableStore,
      table: String,
      source: DataFrame,
      keys: Seq[String],
      update: Boolean = true,
      onDuplicate: DuplicatePolicy = DuplicatePolicy.Error): PendingMerge =
    if (!store.exists(table)) new PendingMerge(source, () => store.overwrite(table, source))
    else {
      val target = store.read(table)
      val staged = store.stage(table,
        prepareSource(source, target.columns.toSeq, keys, onDuplicate))
      new PendingMerge(staged.rows, () =>
        try {
          if (staged.numRows > 0) {
            if (matchProbe(target, staged.rows, keys).isEmpty) store.publish(staged)
            else store.overwrite(table,
              mergePrepared(target, staged.rows, keys, None, update, insert = true))
          }
        } finally store.discard(staged)) // after a publish: nothing left to delete
    }

  /** Target key rows that some source row matches: a left-semi join of the
    * target's key columns (the only columns its scan reads) against the
    * broadcast source keys, so the target is scanned once and never
    * shuffled. The source is an increment, small beside the target, and
    * its keys need none of the window shuffle that duplicate handling
    * costs (a staged source has already paid it).
    */
  private[graft] def matchProbe(
      target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame =
    target.select(keys.map(col): _*)
      .join(broadcast(source.select(keys.map(col): _*)), keys, "left_semi")

  /** Partition-scoped MERGE into a partitioned table: only the partitions
    * the source touches are read and rewritten
    * ([[TableStore.rewritePartitions]]). The 100 TB incremental path: an
    * increment touching 2 months costs 2 partition scans + 2 directory
    * swaps, independent of table history length.
    *
    * `partitions` lists the partition values the source carries when the
    * caller already knows them (it must cover every value in `source`);
    * otherwise they are collected from the source, which runs it once more.
    * A NULL partition value never matches, so the NULL partition is read
    * whole and its existing rows pass through the rewrite.
    */
  def mergePartitioned(
      store: TableStore,
      table: String,
      source: DataFrame,
      keys: Seq[String],
      partitionCol: String,
      partitions: Option[Seq[Any]] = None): Unit = {
    require(keys.contains(partitionCol),
      s"partition column $partitionCol must be part of the merge keys " +
        "(otherwise a matched row could move across partitions)")
    if (!store.exists(table)) store.overwrite(table, source, Seq(partitionCol))
    else {
      val touched = partitions.getOrElse(
        source.select(col(partitionCol)).distinct().collect().map(_.get(0)).toSeq)
      store.rewritePartitions(table, partitionCol, touched)(merge(_, source, keys))
    }
  }
}
