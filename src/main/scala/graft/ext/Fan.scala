package graft.ext

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive map-parallelism fan-out for compute-heavy per-row stages.
  *
  * The problem (guide §2 / §6): scan parallelism is file-split parallelism.
  * A small input — one parquet row group — plans as ONE task, so every
  * expensive per-row expression downstream of it (the k MinHash md5s, the
  * SimHash vote decode, shingle explosion) runs on one core while the rest
  * of the machine idles. At 100 TB the scan has thousands of splits and the
  * problem does not exist; at bench/test scale it dominates the wall clock
  * of every hash-heavy operator.
  *
  * The fix must be scale-adaptive, not a constant: an unconditional
  * `repartition(n)` would shuffle the full corpus text at scale — exactly
  * the byte movement guide §2.3 exists to avoid. So the fan-out is gated on
  * the OPTIMIZER'S SIZE ESTIMATE of the frame (`stats.sizeInBytes`, a
  * planning-time figure — no job runs): only inputs the planner believes
  * are under `graft.fan.maxBytes` (default 64 MB — cheap to shuffle once on
  * any hardware) are hash-repartitioned to the session's default
  * parallelism. For a scan of a store table the estimate is its on-disk
  * bytes, which the store writes as zstd parquet: the dedup shingle table
  * measured 7.5 B/row (12.8 under snappy) and a ~260-char crawl document
  * table 148 B/row (266 under snappy), so 64 MB fans out up to ~8.9M
  * shingle rows or ~450k such documents (crawl_dedup seed-11 corpus, one
  * file per table). Anything larger, or anything whose size the planner cannot
  * bound (unknown stats default to huge), keeps its existing partitioning.
  *
  * The repartition hashes a caller-supplied KEY (normally the row id) —
  * deterministic per row, so task retries reproduce the same placement
  * (guide §2.5's warning about round-robin/rand keys), and no
  * sort-before-repartition cost is paid. Results are partitioning-invariant
  * for every consumer here (aggregations, joins, explodes), so this is a
  * pure plan change.
  */
object Fan {

  /** Size gate (bytes): frames estimated at or under this fan out. A set
    * but unparsable value fails loudly (the repo's precedent for
    * behavior-controlling confs, e.g. Scratch's graft.scratch.keepLast) —
    * silently falling back to the default would mask a typo'd override.
    */
  private def maxBytes(df: DataFrame): Long =
    df.sparkSession.conf.getOption("graft.fan.maxBytes") match {
      case None => 64L << 20
      case Some(v) => v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"graft.fan.maxBytes must be a long byte count, got '$v'"))
    }

  /** Hash-repartition `df` on `key` to the session default parallelism when
    * the planner estimates it small (see object doc); identity otherwise.
    */
  def out(df: DataFrame, key: Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (target <= 1) df
    else {
      val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      if (est <= maxBytes(df)) df.repartition(target, key) else df
    }
  }
}
