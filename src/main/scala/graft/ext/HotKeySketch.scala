package graft.ext

import graft.tables.TableStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The ONE implementation of the hot-key CMS that bounds a clapper's
  * routine poll by the batch instead of the corpus — shared by
  * [[DedupIndex.capIfUnhealthy]] (hot band buckets) and
  * [[Bm25.capIfUnhealthy]] (hot terms) through [[Clapper.ask]], the same
  * drift-risk rationale as [[Clapper]]: two hand-kept mirrors of upper-bound
  * arbitration state WILL diverge, and this state has a
  * correctness-critical invariant.
  *
  * Mechanics: a fixed-geometry [[graft.functions.CountMin]] sketch of the
  * index's hot-key occurrences (d = 4 × w = 8192), persisted as an
  * [[IndexState]] memo of the SOURCE table. [[upperBound]] reads min over
  * hash rows of the row max — for the true-max key every row holds a cell
  * ≥ its count, so each row's max dominates the true hot count. One-sided
  * by construction: collisions only ADD, so the bound never underestimates
  * the counts it saw.
  *
  * The INVARIANT the memo key enforces: the sketch must never reflect
  * FEWER occurrences than the source table holds (an undercount could
  * prove a decline that isn't true). Any mutation the fold did not see —
  * a crash between a source append and its fold, an external delete, a
  * rebuild — moves the source key away from the stamp, and the sketch
  * reads as absent; the caller then pays the exact aggregate and
  * [[rebuild]]s.
  *
  * Single-writer contract (the same one every index mutation here already
  * has): folds and rebuilds are read-merge-overwrite.
  *
  * Sizing rule, documented once: the bound inflates by ≈ total source
  * rows / width of background mass, so routine polls stay short-circuited
  * while source rows ≲ width × the caller's budget; past that the poll
  * degrades to the exact aggregate it replaces — never to a wrong
  * decision. Shard the index at that boundary.
  *
  * The hot WITNESS is the LOWER bound beside the CMS's upper bound. The
  * sketch can prove a metric SMALL (declines, retires) but never LARGE —
  * an upper bound over the retire band is inconclusive. The witness is a
  * 1-row memo (k, cnt) holding the EXACT occurrence count of ONE
  * designated key — the hottest at the last exact pass — under the same
  * key contract as the sketch. Since the true hottest count is ≥ ANY
  * single key's count, a fresh witness over the retire band DISPROVES the
  * retire in O(1). It may only UNDERSTATE the metric, so using it only to
  * DISPROVE retires (never to prove one, never to ring) keeps every
  * decision identical to the exact path's.
  */
private[graft] object HotKeySketch {

  private val Depth = 4
  private val Width = 8192

  /** Rebuild the sketch from the full key stream (one occurrence per
    * row of `keys`, single column `k`) — the re-baseline every
    * exact-pay moment performs, shedding delete inflation and collision
    * drift. `key` is the source key captured by the caller.
    */
  def rebuild(store: TableStore, sketchT: String, keys: DataFrame,
      key: IndexState.Key): Unit =
    IndexState.write(store, sketchT, key)(
      graft.functions.CountMin.build(keys, "k", d = Depth, w = Width))

  /** The sketch's upper bound on the hottest key's occurrence count, or
    * None when no fresh sketch exists at `key` (the live source key) —
    * the caller falls back to the exact aggregate.
    */
  def upperBound(store: TableStore, sketchT: String,
      key: IndexState.Key): Option[Long] =
    IndexState.read(store, sketchT, key) { cells =>
      cells.collect().groupBy(_.getInt(0)).values
        .map(_.map(_.getLong(2)).max).minOption.getOrElse(0L)
    }

  /** Write the witness at the exact-pass moment: `hotKey`'s exact count
    * as the caller's aggregate just measured it, stamped `key`. */
  def writeWitness(store: TableStore, witnessT: String, hotKey: String,
      cnt: Long, key: IndexState.Key): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    IndexState.write(store, witnessT, key)(Seq((hotKey, cnt)).toDF("k", "cnt"))
  }

  /** The witness (key, count) when one exists and is fresh at `key`. */
  def readWitness(store: TableStore, witnessT: String,
      key: IndexState.Key): Option[(String, Long)] =
    IndexState.read(store, witnessT, key) { w =>
      val r = w.collect()(0)
      (r.getString(0), r.getLong(1))
    }

  /** A fold a commit opens BEFORE it mutates `source`: the sketch and
    * witness tables that exist (each probed once) and the source key
    * they must be fresh at to be extended. */
  final case class Fold(sketchT: Option[String], witnessT: Option[String],
      source: String, before: IndexState.Key)

  /** None when neither the sketch nor the witness exists — the commit then
    * pays no listing and no fold (both are built lazily by the clapper,
    * so an index nobody polls never pays either). */
  def open(store: TableStore, sketchT: String, witnessT: String,
      source: String): Option[Fold] = {
    val sk = Some(sketchT).filter(store.exists)
    val wt = Some(witnessT).filter(store.exists)
    if (sk.isEmpty && wt.isEmpty) None
    else Some(Fold(sk, wt, source, IndexState.key(store, source)))
  }

  /** Fold a committed increment's keys (column `k`) into the sketch, the
    * witness, or both, scanning the batch ONCE: each occurrence explodes
    * to its d CMS row-buckets when the sketch folds, plus — when it is the
    * witness key — one synthetic `(-1, 0)` cell, so the witness increment
    * is a cell of the same aggregate. The aggregate is bounded by geometry
    * (≤ d×w + 1 cells), never by the batch. By CMS linearity the folded
    * sketch equals a [[rebuild]] over base ∪ increment, cell for cell.
    *
    * A side that is not fresh at `fold.before` missed a mutation and
    * drops while the fresh side still folds; any failure drops both —
    * an absent side costs one exact poll, a wrong one costs correctness.
    */
  def foldAll(store: TableStore, fold: Fold, newKeys: DataFrame): Unit =
    try {
      val cur = fold.sketchT.flatMap(IndexState.read(store, _, fold.before)(identity))
      val wit = fold.witnessT.flatMap(readWitness(store, _, fold.before))
      if (cur.isEmpty) fold.sketchT.foreach(store.drop)
      if (wit.isEmpty) fold.witnessT.foreach(store.drop)
      if (cur.nonEmpty || wit.nonEmpty) {
        val after = IndexState.key(store, fold.source)
        val rows = (if (cur.nonEmpty) (0 until Depth).map(i => lit(i)) else Nil) ++
          wit.map(_ => lit(-1))
        val cells = newKeys
          .select(explode(array(rows: _*)).as("row"), col("k"))
          .filter(col("row") >= 0 || wit.fold(lit(false))(w => col("k") === w._1))
          .select(col("row"),
            when(col("row") >= 0,
              graft.functions.CountMin.bucket(col("row"), col("k"), Width))
              .otherwise(lit(0L)).as("bucket"))
          .groupBy("row", "bucket").agg(count(lit(1)).as("cnt"))
          .collect()
        val spark = org.apache.spark.sql.SparkSession.active
        import spark.implicits._
        for (c <- cur; t <- fold.sketchT) {
          // a null key yields a null CMS bucket, which CountMin.build keeps
          // as a null-bucket cell — decode it null-safely, or the fold
          // would throw and drop both sides
          val inc = cells.filter(_.getInt(0) >= 0)
            .map(r => (r.getInt(0),
              if (r.isNullAt(1)) null
              else java.lang.Long.valueOf(r.getLong(1)), r.getLong(2))).toSeq
            .toDF("row", "bucket", "cnt")
          IndexState.write(store, t, after)(graft.functions.CountMin.merge(c, inc))
        }
        for ((k, n) <- wit; t <- fold.witnessT) {
          val add = cells.find(_.getInt(0) == -1).map(_.getLong(2)).getOrElse(0L)
          writeWitness(store, t, k, n + add, after)
        }
      }
    } catch { case scala.util.control.NonFatal(_) =>
      // a failed fold: absent costs one exact poll, a wrong side costs correctness
      (fold.sketchT ++ fold.witnessT).foreach(IndexState.drop(store, _))
    }
}
