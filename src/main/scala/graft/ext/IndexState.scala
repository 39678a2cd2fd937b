package graft.ext

import graft.tables.{Compact, TableStore}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import scala.util.control.NonFatal

/** The one module that knows what "fresh" means for state a durable index
  * derives from its own tables — the health caches, AnnIndex's `csizes`,
  * and the hot-key sketches and witnesses ([[HotKeySketch]]).
  *
  * Such state is a MEMO: a small table whose last column `fp` stamps the
  * [[Key]] of its source tables at write time. It is read only while that
  * stamp equals the sources' current key, so any mutation it did not see —
  * an append, a takedown, a rebuild, a crash between a source write and
  * the memo's update — makes it read as absent and the caller recomputes.
  * The key is the data-file listing: parquet writers name every part file
  * with a task UUID, so every rewrite, append or compaction moves it.
  * Replacing the listing with a table-log version changes this module and
  * nothing else.
  *
  * Memos are best-effort: a memo read or write that fails (a concurrent
  * poller swapped the memo's files mid-read, or won the write race) is a
  * cache miss here and nowhere else — never an error, never a wrong value.
  * Memos are small by contract (one row, nlist rows, or a fixed-geometry
  * sketch), so reads collect them inside the freshness check.
  */
private[graft] object IndexState {

  /** The freshness key of a list of source tables: their listing
    * fingerprints joined by `:`, and each table's data-file count. */
  final case class Key(fp: String, files: Seq[Int])

  /** A memo table and the source tables its key covers. */
  final case class Memo(table: String, sources: Seq[String])

  /** The current key of `sources`: per table, md5 over the sorted
    * (path, length) pairs of its data files ([[Compact.dataFiles]]). One
    * driver-side listing per table, no Spark job. */
  def key(store: TableStore, sources: String*): Key = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val listed = sources.map { t =>
      val p = new Path(store.path(t))
      val files = Compact.dataFiles(p.getFileSystem(conf), p)
        .map { case (path, len) => s"${path.toUri.getPath}:$len" }.sorted
      val md = java.security.MessageDigest.getInstance("MD5")
      files.foreach(f => md.update(f.getBytes("UTF-8")))
      (md.digest().map("%02x".format(_)).mkString, files.size)
    }
    Key(listed.map(_._1).mkString(":"), listed.map(_._2))
  }

  /** `decode` of the memo's rows (as a local frame, `fp` dropped) when
    * `memo` exists and is stamped `key`; None when it is absent, stale or
    * unreadable. An EMPTY memo carries no stamp row: it is fresh exactly
    * when every source is empty too. The rows are collected inside the
    * check, so a lazily consumed result can never race a later swap of
    * the memo's files.
    */
  def read[T](store: TableStore, memo: String, key: Key)(
      decode: DataFrame => T): Option[T] =
    try {
      if (!store.exists(memo)) None
      else {
        val df = store.read(memo)
        val rows = df.collect()
        val fresh =
          if (rows.isEmpty) key.files.forall(_ == 0)
          else rows(0).getString(rows(0).fieldIndex("fp")) == key.fp
        if (!fresh) None
        else Some(decode(SparkSession.active.createDataFrame(
          java.util.Arrays.asList(rows: _*), df.schema).drop("fp")))
      }
    } catch { case NonFatal(_) => None } // a swapped or legacy memo: a miss

  /** Write `rows` as `memo`, stamped `key`. Best-effort: `rows` is built
    * inside the write, and any failure leaves the old memo, which the
    * next read finds stale (or still right, when the sources never
    * moved) — a recompute, never a wrong value.
    */
  def write(store: TableStore, memo: String, key: Key)(rows: => DataFrame): Unit =
    try store.overwrite(memo, rows.withColumn("fp", lit(key.fp)))
    catch { case NonFatal(_) => () } // a lost write race: the next read misses

  /** Drop `memo` if it exists. Best-effort: absent is always a valid memo
    * state, and a memo that survives a failed drop is dropped or re-stamped
    * by the next writer. */
  def drop(store: TableStore, memo: String): Unit =
    try { if (store.exists(memo)) store.drop(memo) }
    catch { case NonFatal(_) => () } // a leftover memo is only hygiene

  /** The one compaction trigger of the durable indexes: compact `tables`
    * when any of them has more than `maxFiles` data files (driver-side
    * listings, no Spark job, and nothing read from a never-built index),
    * else None. `layout` names each table's hive partition columns; it is
    * evaluated only when the compaction runs. */
  def compactIfFragmented(store: TableStore, tables: Seq[String],
      memos: Seq[Memo], maxFiles: Int, targetBytes: Long,
      layout: String => Seq[String] = _ => Nil)
      : Option[Map[String, Compact.Stats]] = {
    require(maxFiles >= 1, s"maxFiles must be >= 1, got $maxFiles")
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    def nFiles(t: String): Int = {
      val p = new Path(store.path(t))
      Compact.dataFiles(p.getFileSystem(conf), p).size
    }
    if (tables.exists(nFiles(_) > maxFiles))
      Some(compact(store, tables, memos, targetBytes, layout))
    else None
  }

  /** Compact `tables` into `targetBytes`-sized files and re-stamp every
    * memo that was fresh going in to its sources' new key. Compaction is
    * content-neutral, so a fresh memo stays right without a recompute; a
    * stale one is left stale — re-stamping it would freeze wrong values.
    */
  def compact(store: TableStore, tables: Seq[String], memos: Seq[Memo],
      targetBytes: Long, layout: String => Seq[String] = _ => Nil)
      : Map[String, Compact.Stats] = {
    val fresh = memos.filter(m =>
      store.exists(m.table) && read(store, m.table, key(store, m.sources: _*))(_ => ()).nonEmpty)
    val stats = tables.map(t =>
      t -> Compact.compact(store, t, targetBytes, partitionBy = layout(t))).toMap
    fresh.foreach(m => write(store, m.table, key(store, m.sources: _*))(
      store.read(m.table).drop("fp")))
    stats
  }
}
