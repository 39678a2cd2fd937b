package graft.tables

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Small-file compaction with optional multi-dimensional (Z-order)
  * clustering — the `OPTIMIZE [ZORDER BY]` table maintenance a
  * streaming/incremental lakehouse needs.
  *
  * Every [[TableStore.append]] and every streaming `foreachBatch` upsert
  * adds a few parquet parts; after a day of micro-batches a 100 TB table is
  * millions of KB-sized files and the scan is bounded by file-open latency
  * and footer reads, not bytes. `compact` rewrites the table into
  * size-targeted files through the same staging + atomic-rename swap as
  * [[TableStore.overwrite]] — readers see the old generation until the
  * single promote rename, and the rewrite itself is fully distributed.
  *
  * Z-ordering: with `zorderBy`, rows are range-partitioned and sorted by a
  * Morton (bit-interleaved) key over the named columns, so each output file
  * covers a small hyper-rectangle of the clustered space. Parquet then gets
  * narrow per-file and per-row-group min/max ranges on ALL the zorder
  * columns at once — data skipping serves predicates on any of them, where
  * a plain sort serves only its leading column (CompactSpec measures
  * exactly that: per-file spans shrink on both dimensions). The key is
  * built from plain Column expressions (scale each column to 16 bits using
  * a one-row global min/max agg, interleave with shift/or) — fully
  * codegen'd, no UDF, one extra narrow shuffle.
  *
  * The reference has no compaction at all (Databricks OPTIMIZE would be the
  * managed-platform equivalent); this is engine surface the brief's
  * append-heavy training-data pipeline requires.
  */
object Compact {

  /** What a compaction run did: file/byte counts before and after. */
  final case class Stats(filesBefore: Int, bytesBefore: Long, filesAfter: Int)

  /** Recursive data-file listing under `dir` (skips `_`/`.` sidecars;
    * missing dir → empty). The ONE definition of "what counts as a data
    * file" — [[graft.ext.IndexState]]'s memo keys and fragmentation
    * trigger read this same listing, so a future sidecar-convention change
    * cannot desynchronize them. It is Spark's own file-index rule, which
    * [[TableStore.Staged.files]] reads: a `_` name holding `=` is a hive
    * partition dir (`_bkt64=3`), not a sidecar.
    */
  private[graft] def dataFiles(fs: FileSystem, dir: Path): Seq[(Path, Long)] = {
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".")) Nil
      else if (st.isDirectory) dataFiles(fs, st.getPath)
      else Seq(st.getPath -> st.getLen)
    }
  }

  /** Morton key: bit j of lane i lands at position j*n + i, so the sort
    * interleaves all lanes' bits — the classic Z-curve.
    *
    * Lane normalization to 16 bits: numeric / date / timestamp columns
    * scale linearly between the table-global min and max
    * (locality-preserving; dates go through a timestamp cast — a direct
    * date→double cast is illegal in Spark) — the mins/maxes for ALL lanes
    * come from ONE pass over the table (a single 1-row agg, the only
    * action this key construction costs); strings hash-bucket (equal
    * values cluster; no order locality — parquet still skips on
    * exact-equality stats). NULL and non-finite (NaN, ±Infinity) values
    * land in lane 0 for every lane type, strings included; non-finite
    * doubles are nulled BEFORE the stats agg too — one NaN or +Inf row
    * would otherwise poison min()/max() and with it every finite row's
    * scale (mx=+Inf maps all of them to bucket 0, silently erasing that
    * dimension's clustering).
    */
  private[tables] def mortonKey(df: DataFrame, cols: Seq[String]): Column = {
    require(cols.nonEmpty && cols.size <= 3, s"zorderBy supports 1-3 columns, got ${cols.size}")
    def asDouble(c: String): Column = df.schema(c).dataType match {
      // both timestamp flavors go through the dual-flavor epoch helper — a
      // direct NTZ→double cast is illegal, and date→double must route
      // through timestamp anyway
      case DateType | TimestampType | TimestampNTZType =>
        graft.clean.Dates.epochSeconds(col(c), df.schema(c).dataType)
      case DoubleType | FloatType =>
        val d = col(c).cast("double")
        when(isnan(d) || abs(d) === lit(Double.PositiveInfinity), lit(null)).otherwise(d)
      case _ => col(c).cast("double")
    }
    val numeric = cols.filter(c => df.schema(c).dataType != StringType)
    val stats: Map[String, (Double, Double)] =
      if (numeric.isEmpty) Map.empty
      else {
        val aggs = numeric.flatMap(c => Seq(min(asDouble(c)), max(asDouble(c))))
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        numeric.zipWithIndex.map { case (c, i) =>
          def v(j: Int) = if (row.isNullAt(j)) 0.0 else row.getDouble(j)
          c -> (v(2 * i), v(2 * i + 1))
        }.toMap
      }
    def lane(c: String): Column = df.schema(c).dataType match {
      // isNotNull guard: xxhash64(NULL) returns the seed (42), which would
      // park NULL strings in bucket 42 instead of the documented lane 0
      case StringType =>
        when(col(c).isNotNull, pmod(xxhash64(col(c)), lit(65536L))).otherwise(lit(0L))
      case _ =>
        val (mn, mx) = stats(c)
        if (mx <= mn) lit(0L)
        else coalesce( // clamp as DOUBLE first: ANSI long-cast of a stray
          // out-of-range value (e.g. +Inf) would otherwise throw mid-rewrite
          least(greatest(
            (asDouble(c) - lit(mn)) / lit(mx - mn) * lit(65535.0),
            lit(0.0)), lit(65535.0)).cast("long"),
          lit(0L)) // NULL/NaN rows
    }
    val lanes = cols.map(lane)
    val n = lanes.size
    (0 until 16).flatMap { bit =>
      lanes.zipWithIndex.map { case (l, i) =>
        shiftleft(shiftright(l, bit).bitwiseAND(lit(1L)), bit * n + i)
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** Run [[compact]] only when the table's data-file count exceeds
    * `maxFiles` — the per-batch health-check trigger the durable indexes
    * already use ([[graft.ext.IndexState.compactIfFragmented]]),
    * generalized to any plain table a streaming sink appends to (the
    * corpus leg of [[graft.streaming.Streams.retrievalIngestSink]]). One
    * driver-side directory listing per call; `None` = healthy, no work.
    * Content-neutral (atomic swap), so it belongs AFTER a sink's done
    * marker like the other triggers.
    */
  def compactIfFragmented(store: TableStore, name: String, maxFiles: Int = 64,
      targetBytes: Long = 128L << 20,
      partitionBy: Seq[String] = Nil): Option[Stats] = {
    require(maxFiles >= 1, s"maxFiles must be >= 1, got $maxFiles")
    val spark = org.apache.spark.sql.SparkSession.active
    val p = new Path(store.path(name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (dataFiles(fs, p).size > maxFiles)
      Some(compact(store, name, targetBytes, partitionBy = partitionBy))
    else None
  }

  /** Rewrite `name` into ~`targetBytes`-sized files (or exactly `numFiles`
    * when given), optionally Z-ordered by `zorderBy`. `partitionBy` must
    * restate the table's hive layout, like [[TableStore.append]]. Atomic:
    * same staging + rename swap as overwrite. Single-writer, like every
    * TableStore mutation.
    */
  def compact(store: TableStore, name: String, targetBytes: Long = 128L << 20,
      numFiles: Option[Int] = None, zorderBy: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil): Stats = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val df = store.read(name)
    val fs = new Path(store.path(name))
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val before = dataFiles(fs, new Path(store.path(name)))
    val bytes = before.map(_._2).sum
    require(numFiles.forall(_ >= 1), s"numFiles must be >= 1, got $numFiles")
    val nOutL = numFiles.map(_.toLong)
      .getOrElse(math.max(1L, (bytes + targetBytes - 1) / targetBytes))
    require(nOutL <= Int.MaxValue, // Long math: a TB-scale table with a KB
      // target would wrap a 32-bit count negative and crash the repartition
      s"compact: $bytes bytes / $targetBytes-byte target = $nOutL files — raise targetBytes")
    val nOut = nOutL.toInt

    val out =
      if (zorderBy.nonEmpty) {
        // range-partition on (partition dirs, z) so hive partitions stay
        // contiguous and each writes whole files; sort within for row-group
        // locality inside each file
        val z = df.withColumn("_z", mortonKey(df, zorderBy))
        val keys = partitionBy.map(col) :+ col("_z")
        z.repartitionByRange(nOut, keys: _*)
          .sortWithinPartitions(keys: _*)
          .drop("_z")
      } else if (partitionBy.nonEmpty)
        df.repartitionByRange(nOut, partitionBy.map(col): _*)
      else
        // pure bin-packing: coalesce is a narrow dependency — input splits
        // merge without a shuffle, the cheap path for the daily small-file
        // sweep (a full repartition would move every byte twice)
        df.coalesce(nOut)

    store.overwrite(name, out, partitionBy)
    Stats(before.size, bytes, dataFiles(fs, new Path(store.path(name))).size)
  }
}
