package graft.tables

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Parquet-backed managed tables with atomic overwrite.
  *
  * Replaces the reference's Delta managed tables (SURVEY.md §2.1 S4/S5;
  * reference: `df.write.format("delta").mode("overwrite").saveAsTable(t)` at
  * e.g. consolidated_pipeline/2_dimension_data_processing/
  * 1_customer_data_processing.py:50-53). Vanilla Spark's
  * `saveAsTable(Overwrite)` cannot overwrite a table that feeds its own input
  * (it truncates before the read completes), which the MERGE rewrite needs —
  * so overwrite here materializes to a staging dir first, then swaps via
  * filesystem rename (atomic on HDFS/local; on object stores pair with a
  * manifest or committer). Single-writer semantics, matching the reference's
  * one-notebook-at-a-time pipeline.
  *
  * At cluster scale the staging write is fully distributed (executors write
  * parquet parts); only the final rename is a driver-side metadata operation.
  *
  * Physical format: every data file this store writes is parquet with zstd
  * column chunks at parquet's default level (3), fixed here by one writer
  * ([[writeParquet]]) that all four write paths share. It is a property of
  * the store, not of the session: a conf key would let Bench, Verify, a
  * test session or a notebook each write a different format into the same
  * table, and the writer's `compression` option takes precedence over
  * `spark.sql.parquet.compression.codec` in every session. zstd is chosen
  * for bytes written and kept: the crawl index's shingle and band files
  * measured ~40% and the order fact tables ~26% smaller than under snappy,
  * with no consistent CPU cost. Files an older writer left (snappy) stay readable,
  * since parquet records the codec per column chunk; the next overwrite or
  * compaction of their table rewrites them as zstd.
  *
  * Byte gates read these on-disk bytes: a scan's size estimate is its file
  * lengths, so Spark's `autoBroadcastJoinThreshold` (10 MB by default),
  * `Fan.out`'s `graft.fan.maxBytes` and `DedupIndex.probeIncrement`'s
  * `broadcastCandBytes` each admit more rows than under snappy. Measured
  * per row, one file per table, zstd (snappy): `sb_fact_orders` 4.7 (6.3)
  * B, `gold_dim_customers` 15.6 (21.7) B, `gold_dim_products` 55.3 (79.9)
  * B — a 10 MB broadcast now admits ~1.35-1.45× the rows of a store table.
  */
final class TableStore(spark: SparkSession, root: String) {

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def path(name: String): String = s"$root/$name"

  /** The store's one parquet writer (see the class doc for the format):
    * `df` to `dir` in `mode`, hive-partitioned by `partitionBy`. */
  private def writeParquet(df: DataFrame, mode: SaveMode, dir: String,
      partitionBy: Seq[String]): Unit = {
    val w = df.write.mode(mode).option("compression", TableStore.Codec)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(dir)
  }

  def exists(name: String): Boolean = {
    val p = new Path(path(name))
    if (fs.exists(p)) true
    else { recoverIfInterrupted(name); fs.exists(p) }
  }

  /** Crash recovery for [[overwrite]]'s two-rename swap. The swap is
    * live→trash then staging→live; a crash between the renames leaves the
    * table observably missing even though the staging dir holds the
    * complete new table (data + schema sidecar are fully durable before
    * any rename starts — the overwrite is logically committed at that
    * point). So: live absent + a sidecar-complete staging dir → promote
    * the staging (finishing the interrupted overwrite); live absent + only
    * a trash dir (unreachable under the rename order, defended anyway) →
    * restore the trash. Runs lazily from [[exists]] (which [[read]] and
    * [[schemaOf]] route through), so no caller ever observes the missing
    * window; a staging dir without its sidecar is an abandoned mid-write
    * crash and is left for [[overwrite]]'s sweep. No-op in the normal
    * case beyond one exists() probe.
    */
  private def recoverIfInterrupted(name: String): Unit = {
    val live = new Path(path(name))
    def dirs(prefix: String) = swapDirs(prefix, name)
    val staged = dirs("staging").filter(st => fs.exists(schemaSidecar(st.getPath)))
    val candidate =
      if (staged.nonEmpty) Some(staged.maxBy(_.getModificationTime).getPath)
      else dirs("trash") match {
        case t if t.nonEmpty => Some(t.maxBy(_.getModificationTime).getPath)
        case _ => None
      }
    candidate.foreach { c =>
      if (fs.rename(c, live)) {
        (dirs("trash") ++ dirs("staging")).foreach(st => fs.delete(st.getPath, true))
        spark.catalog.refreshByPath(live.toString)
      }
    }
  }

  /** The swap dirs belonging to exactly table `name`: the suffix must be
    * the 8-hex-char UUID [[overwrite]] appends — a bare `{name}_*` glob
    * would also match tables that merely share the prefix (`idx` vs
    * `idx_codes`), and recovery/sweep must never touch a neighbor's dirs.
    */
  private def swapDirs(prefix: String, name: String): Array[org.apache.hadoop.fs.FileStatus] = {
    val re = ("\\." + prefix + "_" + java.util.regex.Pattern.quote(name) +
      "_[0-9a-f]{8}").r
    Option(fs.globStatus(new Path(s"$root/.${prefix}_${name}_*")))
      .getOrElse(Array.empty[org.apache.hadoop.fs.FileStatus])
      .filter(st => re.pattern.matcher(st.getPath.getName).matches())
  }

  /** Read with the table's recorded schema when one exists: files written
    * before a schema evolution lack the newer columns in their footers, and
    * an explicit read schema null-fills them (parquet reads missing columns
    * as NULL) — without paying a mergeSchema footer sweep over every file,
    * which is the 100 TB-hostile alternative.
    */
  def read(name: String): DataFrame = schemaOf(name) match {
    case Some(st) => spark.read.schema(st).parquet(path(name))
    case None => spark.read.parquet(path(name))
  }

  // ---- schema evolution (reference S7: `option("mergeSchema", true)` on
  // every silver write, e.g. 1_customer_data_processing.py:255) ----

  /** Sidecar file inside the table dir recording the authoritative table
    * schema. Underscore-prefixed, so Spark's file listing ignores it (same
    * convention as `_SUCCESS`). Rewritten by every write that can change
    * the schema; swapped atomically with the data on overwrite.
    */
  private def schemaSidecar(dir: Path): Path = new Path(dir, "_graft_schema.json")

  /** The table's recorded schema (sidecar), or footer-inferred for tables
    * predating the sidecar, or None when the table doesn't exist.
    */
  def schemaOf(name: String): Option[StructType] = recorded(name).map(_._1)

  /** [[schemaOf]] plus whether it came from the sidecar — the one probe
    * [[append]], [[publish]] and [[overwritePartitions]] decide their
    * sidecar write from. */
  private def recorded(name: String): Option[(StructType, Boolean)] = {
    if (!exists(name)) None
    else {
      val sc = schemaSidecar(new Path(path(name)))
      if (fs.exists(sc)) {
        val in = fs.open(sc)
        val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        Some((DataType.fromJson(json).asInstanceOf[StructType], true))
      } else Some((spark.read.parquet(path(name)).schema, false))
    }
  }

  private def writeSidecar(dir: Path, schema: StructType): Unit = {
    val out = fs.create(schemaSidecar(dir), true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
  }

  /** Union of table and incoming schemas: table columns keep their position,
    * brand-new incoming columns append at the end (Delta mergeSchema order);
    * same-name columns must agree on type — conflicting types are rejected
    * rather than silently written as mixed parquet footers.
    */
  /** Recursively force every nested nullability flag to true (StructField
    * nullable, ArrayType containsNull, MapType valueContainsNull) so types
    * differing only in those flags compare equal. Spark's own
    * `DataType.asNullable` is `private[sql]`, so this is a local equivalent.
    */
  private def permissive(dt: DataType): DataType = dt match {
    case st: StructType =>
      StructType(st.fields.map(f => f.copy(dataType = permissive(f.dataType), nullable = true)))
    case at: org.apache.spark.sql.types.ArrayType =>
      at.copy(elementType = permissive(at.elementType), containsNull = true)
    case mt: org.apache.spark.sql.types.MapType =>
      mt.copy(keyType = permissive(mt.keyType), valueType = permissive(mt.valueType),
        valueContainsNull = true)
    case other => other
  }

  private def unionSchema(table: String, existing: StructType, incoming: StructType): StructType = {
    val byName = incoming.fields.map(f => f.name -> f).toMap
    val merged = existing.fields.map { ef =>
      byName.get(ef.name) match {
        // nested types differing only in inner-field nullability /
        // containsNull (CSV-inferred all-nullable vs computed frames) are
        // compatible — merge to the permissive shape instead of rejecting
        case Some(inf) if permissive(inf.dataType) != permissive(ef.dataType) =>
          throw new IllegalArgumentException(
            s"TableStore: schema conflict on $table.${ef.name}: " +
              s"table has ${ef.dataType.simpleString}, incoming has ${inf.dataType.simpleString}")
        case Some(inf) =>
          val dt = if (inf.dataType == ef.dataType) ef.dataType else permissive(ef.dataType)
          ef.copy(dataType = dt, nullable = ef.nullable || inf.nullable)
        case None => ef.copy(nullable = true) // incoming lacks it → null-filled
      }
    }
    val existingNames = existing.fieldNames.toSet
    val added = incoming.fields.filterNot(f => existingNames(f.name))
      .map(_.copy(nullable = true)) // older files lack it → reads as NULL
    StructType(merged ++ added)
  }

  /** Project `df` onto `target`: matching columns pass through, columns the
    * frame lacks are null-filled at the target type.
    */
  private def alignTo(df: DataFrame, target: StructType): DataFrame = {
    val have = df.columns.toSet
    df.select(target.fields.toIndexedSeq.map { (f: StructField) =>
      if (have(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Atomic overwrite: write staging, swap, drop previous. Safe when `df`
    * reads from the table being replaced.
    *
    * `partitionBy` lays the table out hive-style (e.g. month partitions for
    * the consolidated fact): partition-pruned scans + dynamic partition
    * pruning on dim-filtered star joins come free from Catalyst, and the
    * incremental affected-month rewrite touches only the changed
    * directories.
    */
  def overwrite(name: String, df: DataFrame, partitionBy: Seq[String] = Nil,
      mergeSchema: Boolean = false): Unit = {
    // mergeSchema: Delta's overwrite+mergeSchema keeps columns the new frame
    // dropped (null-filled) instead of narrowing the table (reference S7).
    val toWrite =
      if (mergeSchema) schemaOf(name).fold(df)(ex => alignTo(df, unionSchema(name, ex, df.schema)))
      else df
    // sweep leftovers of crashed swaps on this table: stale trash from a
    // crash after the promote, abandoned staging from a crash mid-write —
    // whatever is still here is superseded by this overwrite
    (swapDirs("staging", name) ++ swapDirs("trash", name))
      .foreach(st => fs.delete(st.getPath, true))
    val staging = new Path(s"$root/.staging_${name}_${java.util.UUID.randomUUID().toString.take(8)}")
    val live = new Path(path(name))
    val trash = new Path(s"$root/.trash_${name}_${java.util.UUID.randomUUID().toString.take(8)}")
    writeParquet(toWrite, SaveMode.Overwrite, staging.toString, partitionBy)
    writeSidecar(staging, toWrite.schema)
    val f = fs
    if (f.exists(live)) {
      if (!f.rename(live, trash))
        throw new IllegalStateException(s"TableStore: could not stage out $live")
    }
    if (!f.rename(staging, live))
      throw new IllegalStateException(s"TableStore: could not promote $staging to $live")
    f.delete(trash, true)
    spark.catalog.refreshByPath(live.toString)
  }

  /** Append (reference S5: fact bronze accumulates landed files,
    * 1_full_load_fact.py:59-63). `partitionBy` must match the table's
    * existing layout.
    *
    * Schema evolution (reference S7, mergeSchema=true default to match the
    * reference's silver writes): an appended frame may add columns (older
    * files read back NULL there via the recorded union schema) or omit
    * columns (null-filled at write). Same-name/different-type conflicts are
    * rejected — the failure mode this replaces was silently appending mixed
    * parquet footers that read back wrong. With `mergeSchema=false` any
    * schema drift is rejected outright (Delta's strict default).
    */
  def append(name: String, df: DataFrame, partitionBy: Seq[String] = Nil,
      mergeSchema: Boolean = true): Unit = {
    val prior = recorded(name)
    val toWrite = prior match {
      case Some((existing, fromSidecar)) if mergeSchema =>
        alignTo(df, widen(name, existing, fromSidecar, df.schema))
      case Some((existing, _)) =>
        require(StructType(existing.map(_.copy(nullable = true))) ==
            StructType(df.schema.map(_.copy(nullable = true))),
          s"TableStore: append schema mismatch on $name (mergeSchema=false): " +
            s"table ${existing.simpleString} vs incoming ${df.schema.simpleString}")
        df
      case None => df
    }
    writeParquet(toWrite, SaveMode.Append, path(name), partitionBy)
    // the probe above already answered "does the table exist, and does it
    // record its schema": a new table, or a sidecar-less one that widen()
    // did not just record, gets its sidecar now
    val recordedNow = prior.exists { case (_, fromSidecar) => fromSidecar || mergeSchema }
    if (!recordedNow) writeSidecar(new Path(path(name)), toWrite.schema)
  }

  /** Record the union of the table's schema and `incoming` BEFORE any
    * incoming data file lands — so a reader never meets a file carrying a
    * column the sidecar lacks — and only when the union differs from what
    * the sidecar already says (or there is no sidecar): an append of the
    * table's own schema rewrites nothing. Returns the union. */
  private def widen(name: String, existing: StructType, fromSidecar: Boolean,
      incoming: StructType): StructType = {
    val union = unionSchema(name, existing, incoming)
    if (!fromSidecar || union != existing) writeSidecar(new Path(path(name)), union)
    union
  }

  /** Write `df` as parquet beside table `table`, in `partitionBy`'s hive
    * layout, once and in place: under this store's root at
    * `.publish/<table>/<application id>_g<n>`, a fresh generation dir of a
    * per-family counter. The `.` prefix keeps it out of every table read,
    * data-file listing and freshness key. The returned handle's `rows` read
    * the staged files back with the written schema (partition columns
    * last, as a partitioned table reads).
    *
    * The one stage primitive. Its users:
    *  - [[Upsert.mergeInto]] stages every inserting MERGE's prepared
    *    source, then publishes it (no key matched) or reads it into the
    *    full rewrite and discards it;
    *  - [[graft.pipeline.Pipelines]]' fact loads stage the landed CSVs
    *    beside `bronze_orders`, clean the stage's rows into silver and
    *    publish it as the bronze append;
    *  - the dedup index stages its shingle increments and publishes them
    *    at commit;
    *  - [[Scratch.stage]] stages every scratch intermediate here, under
    *    the scratch root, and never publishes it.
    *
    * Lifetime: each call sweeps this family's stages more than
    * `graft.scratch.keepLast` generations behind ([[TableStore.keepLast]]),
    * and every stage a different application wrote — a crashed or finished
    * writer's, since a store has one writer at a time.
    */
  def stage(table: String, df: DataFrame, partitionBy: Seq[String] = Nil): TableStore.Staged = {
    val f = fs
    val base = f.makeQualified(new Path(path(s".publish/$table")))
    val app = spark.sparkContext.applicationId
    val g = TableStore.gens.computeIfAbsent(base.toString,
      _ => new java.util.concurrent.atomic.AtomicLong(0)).incrementAndGet()
    val keep = TableStore.keepLast(spark)
    if (f.exists(base)) f.listStatus(base).foreach { st =>
      st.getPath.getName match {
        case TableStore.StageDir(a, n) if a != app || n.toLong <= g - keep =>
          f.delete(st.getPath, true)
        case _ => ()
      }
    }
    val dir = new Path(base, s"${app}_g$g")
    // a failed write leaves no stage dir behind
    try writeParquet(df, SaveMode.Overwrite, dir.toString, partitionBy)
    catch { case e: Throwable => f.delete(dir, true); throw e }
    TableStore.Staged(table, dir.toString, spark.read.schema(df.schema).parquet(dir.toString))
  }

  /** Add already-written parquet files to table `staged.table` by
    * per-file rename — the commit action for rows written once, straight
    * into storage form, by [[TableStore.stage]]'s caller, where [[append]]
    * would read them back and write them a second time. No Spark job
    * runs: one existence probe per staged file, the sidecar step, one
    * rename per file, one delete of the emptied stage dir. Its users: the
    * no-match path of [[Upsert.mergeInto]], the bronze append of the fact
    * loads, and [[graft.ext.DedupIndex.commitIncrement]]'s shingle files.
    *
    *   1. Every staged file must still be where it was written. A stage
    *      that was already published, or swept, throws
    *      FileNotFoundException here, before anything moves.
    *   2. The schema sidecar records the union of the table's schema and
    *      the stage's, by [[append]]'s union rule and before any file
    *      lands; a new table is created with the stage's schema.
    *   3. Each data file (`_SUCCESS` and other `_`/`.` sidecars never)
    *      moves to the same relative path under the table, so a stage
    *      written in the table's hive layout lands in its partition dirs;
    *      a partition dir the table lacks is created.
    *   4. The stage dir is deleted and the path refreshed, as [[overwrite]]
    *      does.
    *
    * Crash contract: the files are whole before step 1 and every rename is
    * atomic, so a crash leaves the table with some of the stage's files —
    * a partial append, never a torn file — and the rest still staged. A
    * caller needing all-or-nothing visibility orders its commit so a
    * partial publish is recoverable (the dedup index keeps its membership
    * table last); re-publishing the same stage throws at step 1.
    * The stage must live under this store's root ([[TableStore.stage]]
    * puts it there), so each rename stays on one file system.
    */
  def publish(staged: TableStore.Staged): Unit = {
    val f = fs
    val dir = new Path(staged.dir)
    val lost = staged.files.filterNot(r => f.exists(new Path(dir, r)))
    if (lost.nonEmpty)
      throw new java.io.FileNotFoundException(
        s"TableStore: stage $dir for ${staged.table} lost ${lost.size} of " +
          s"${staged.files.size} files (already published, or swept): ${lost.head}")
    val live = new Path(path(staged.table))
    recorded(staged.table) match {
      case Some((existing, fromSidecar)) =>
        widen(staged.table, existing, fromSidecar, staged.rows.schema)
      case None =>
        f.mkdirs(live)
        writeSidecar(live, staged.rows.schema)
    }
    val targets = staged.files.map(r => r -> new Path(live, r))
    targets.map(_._2.getParent).distinct.filterNot(f.exists).foreach(f.mkdirs)
    targets.foreach { case (r, dst) =>
      if (!f.rename(new Path(dir, r), dst))
        throw new IllegalStateException(s"TableStore: could not publish $r into $live")
    }
    f.delete(dir, true)
    spark.catalog.refreshByPath(live.toString)
  }

  /** Delete a stage that will not be published (a no-op on a stage
    * [[publish]] already moved away). */
  def discard(staged: TableStore.Staged): Unit = fs.delete(new Path(staged.dir), true)

  /** Replace ONLY the partitions present in `df`, leaving all other
    * partition directories untouched (dynamic-partition-overwrite
    * semantics, catalog-free). This is what makes incremental recompute
    * partition-local at scale: an increment touching 2 months moves 2
    * directories, not a 10-year table.
    */
  def overwritePartitions(name: String, df: DataFrame, partitionBy: Seq[String]): Unit = {
    require(partitionBy.nonEmpty, "overwritePartitions needs partition columns")
    // Same sidecar discipline as append: validate the incoming schema
    // against the recorded one (type drift rejected), align to the union,
    // and record the union before any file lands, only when it changed —
    // otherwise a partition rewrite adding a column would write files whose
    // column every subsequent sidecar-schema'd read silently drops.
    val (existing, fromSidecar) = recorded(name) match {
      case Some(r) => r
      case None => overwrite(name, df, partitionBy); return
    }
    val aligned = alignTo(df, widen(name, existing, fromSidecar, df.schema))
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val staging = new Path(s"$root/.staging_${name}_$stamp")
    val trash = new Path(s"$root/.trash_${name}_$stamp")
    writeParquet(aligned, SaveMode.Overwrite, staging.toString, partitionBy)
    val f = fs
    def leafDirs(base: Path, depth: Int): Seq[Path] =
      if (depth == 0) Seq(base)
      else f.listStatus(base).filter(_.isDirectory).toSeq
        .flatMap(st => leafDirs(st.getPath, depth - 1))
    val live = new Path(path(name))
    f.mkdirs(trash)
    val stagingPath = f.makeQualified(staging).toUri.getPath
    leafDirs(staging, partitionBy.length).foreach { sp =>
      val rel = sp.toUri.getPath.stripPrefix(stagingPath).stripPrefix("/")
      val lp = new Path(live, rel)
      if (f.exists(lp) && !f.rename(lp, new Path(trash, rel.replace("/", "_"))))
        throw new IllegalStateException(s"TableStore: could not stage out partition $lp")
      if (!f.exists(lp.getParent)) f.mkdirs(lp.getParent)
      if (!f.rename(sp, lp))
        throw new IllegalStateException(s"TableStore: could not promote partition $sp")
    }
    f.delete(staging, true)
    f.delete(trash, true)
    spark.catalog.refreshByPath(live.toString)
  }

  /** Remove the listed partition directories outright — DELETE of whole
    * partitions. The complement [[overwritePartitions]] cannot express: it
    * replaces only partitions PRESENT in the incoming frame, so a delete
    * that empties a partition would leave the old directory — and every
    * "deleted" row in it — live. Driver-side metadata operation: one
    * listing plus one rename-to-nothing per dropped directory, independent
    * of table size. Values match against the hive dir name after undoing
    * Spark's %-hex path escaping via `valueOf` equality (longs, dates and
    * plain strings — the partition-key types this store uses); NULL
    * partitions (`__HIVE_DEFAULT_PARTITION__`) are not addressable here.
    */
  def dropPartitions(name: String, partitionCol: String, values: Seq[Any]): Unit = {
    val base = new Path(path(name))
    if (values.isEmpty || !fs.exists(base)) return
    val want = values.map(String.valueOf).toSet
    def unescape(s: String): String = {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length) {
          try { sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3 }
          catch { case _: NumberFormatException => sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
    fs.listStatus(base).filter(_.isDirectory).foreach { st =>
      val n = st.getPath.getName
      val eq = n.indexOf('=')
      if (eq > 0 && n.substring(0, eq) == partitionCol && want(unescape(n.substring(eq + 1))))
        fs.delete(st.getPath, true)
    }
    spark.catalog.refreshByPath(base.toString)
  }

  /** DROP TABLE (reference S15: staging teardown, 2_incremental:300-306). */
  def drop(name: String): Unit = fs.delete(new Path(path(name)), true)

  /** Create-or-merge decision support (reference S18:
    * `spark.catalog.tableExists`, 1_full_load_fact:155): create `name`
    * from `df`, or overwrite it with `merge` of its current rows — a full
    * rewrite every call. No program sink uses it: keyed sinks call
    * [[Upsert.mergeInto]], which appends when no key matches. It stays
    * for the benchmark's `crawl_dedup` op (perfbench), which upserts its
    * pairs through it.
    */
  def overwriteIfAbsentElse(name: String, df: DataFrame)(merge: DataFrame => DataFrame): Unit =
    if (!exists(name)) overwrite(name, df)
    else overwrite(name, merge(read(name)))
}

object TableStore {

  /** The column-chunk codec of every parquet file a [[TableStore]] writes. */
  private val Codec = "zstd"

  /** Parquet files [[TableStore.stage]] wrote beside `table`, waiting for
    * [[TableStore.publish]]: the stage dir and a reader over its files. */
  final case class Staged(table: String, dir: String, rows: DataFrame) {

    /** The stage's data files relative to `dir` (hive partition dirs
      * included): the listing `rows`' file index made when the stage was
      * read back, so a stage is listed once whether or not it is ever
      * published. */
    lazy val files: Seq[String] = {
      val prefix = new Path(dir).toUri.getPath + "/"
      rows.inputFiles.toSeq.map(f => java.net.URI.create(f).getPath.stripPrefix(prefix))
    }
  }

  private val StageDir = "^(.+)_g([0-9]+)$".r

  // per stage-family generation counters, keyed by the family's dir
  private val gens =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  /** The generation bound [[TableStore.stage]] sweeps by:
    * `graft.scratch.keepLast`, default 16. It is the concurrency bound — a
    * stage is safe to read as long as fewer than `keepLast` newer stages of
    * the SAME family started since it was written; the `keepLast+1`-th
    * deletes the files under a still-unexecuted DataFrame, which then fails
    * at action time with FileNotFoundException. The default accommodates
    * wide fan-outs of lazily-consumed results (e.g. building many dedup
    * DataFrames before executing any); raise it for wider fan-outs, at the
    * cost of on-disk footprint.
    */
  private def keepLast(spark: SparkSession): Int =
    // this conf controls DELETION — a malformed or non-positive value must
    // fail fast with the key named, not silently fall back to a smaller
    // bound (keep <= 0 would delete the generation just written)
    spark.conf.getOption("graft.scratch.keepLast").map(_.trim)
      .map(v => v.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
        s"graft.scratch.keepLast must be an integer >= 1, got '$v'")))
      .getOrElse(16)
}
