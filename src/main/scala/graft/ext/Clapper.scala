package graft.ext

/** The ONE definition of the ring / rearm / retire semantics shared by the
  * three measured-bell clappers — [[AnnIndex.rebuildIfUnhealthy]]'s skew and
  * collapse bells, [[DedupIndex.capIfUnhealthy]]'s hot-bucket bell, and
  * [[Bm25.capIfUnhealthy]]'s hot-term bell. The three surfaces were
  * hand-kept mirrors through r18 and the review history showed the drift
  * risk is real (shared-validator fixes landed twice); this extracts the
  * arbitration those reviews kept re-aligning, without changing any
  * measured behavior:
  *
  *   - RING: `metric ≥ bar`, gated by liveness (an empty index has no
  *     signal to judge) and by the THRASH GUARD — when a policy/baseline
  *     from a previous ring is in force, re-ring only at `rearmFactor ×`
  *     that baseline, so a condition the action cannot fix (a still-
  *     flooded corpus, a rebuild the data defeats) does not re-fire on
  *     every ask of a per-batch cadence. `rearmFactor = 0` disables the
  *     guard (absolute bar only).
  *   - RETIRE (the un-ring, opt-in, evaluated only when the bell did NOT
  *     ring): a policy in force while the metric has fallen to
  *     `≤ retireFraction × bar` is cleared by the caller — the fraction
  *     is a HYSTERESIS band (keep it well under 1) so a signal
  *     oscillating around the bar cannot flap the policy on and off
  *     batch to batch. The `metric < bar` conjunct is explicit: at
  *     `retireFraction = 1` the fraction bar alone would retire a
  *     rearm-declined policy mid-flood.
  *
  * Callers own everything else — what the metric is, what the persisted
  * policy/baseline looks like, and what action a ring takes.
  */
private[graft] object Clapper {

  /** Does the bell ring? `baseline` is the persisted ringing metric from
    * the policy in force (None = no policy / fresh bell). Pass the
    * baseline unconditionally — the `rearmFactor == 0` escape hatch is
    * resolved here, not at the read site.
    */
  def rings(metric: Double, bar: Double, baseline: Option[Double],
      rearmFactor: Double, live: Boolean): Boolean =
    live && metric >= bar &&
      (rearmFactor == 0 || baseline.forall(b => metric >= rearmFactor * b))

  /** Should the policy in force retire? Evaluate only on a no-ring ask. */
  def retires(metric: Double, bar: Double, retireFraction: Double,
      hasPolicy: Boolean): Boolean =
    hasPolicy && retireFraction > 0 && metric < bar &&
      metric <= retireFraction * bar

  /** The ONE statement of the sketch-gated ask — how a clapper
    * arbitrates from a [[HotKeySketch]] UPPER BOUND `ub` on its metric
    * without ever reading the corpus-sized exact aggregate, exploiting
    * one-sided error (true metric ≤ ub, never above):
    *
    *   - ub under every bar that could RING proves the decline
    *     (`onSketchDecline`) — the metric is at most ub.
    *   - ub inside the RETIRE band proves the retire (`onSketchRetire`)
    *     — both retire conjuncts are <-closed under metric ≤ ub.
    *   - a possible ring (ub clears the ring bars) must be confirmed or
    *     refuted exactly (`exact`).
    *   - a policy in force with `retireFraction > 0` whose retire the
    *     upper bound cannot prove consults `witnessHot` — the
    *     [[HotKeySketch]] WITNESS, an exact LOWER bound on the metric
    *     (one designated key's exact count, ≤ the true max by
    *     construction). A witness strictly over the retire band
    *     disproves BOTH retire conjuncts' reachability (`metric ≥
    *     witness > retireFraction × bar`), so the ask declines flat —
    *     this is the r19 close of the r18 honest-cost note: the
    *     standing-policy state (an organic stopword policy that never
    *     retires) polls O(1) again, paying exact only at transitions
    *     (the witness key itself declined, or ub cleared a ring bar).
    *     A witness at/below the band, absent, or stale is
    *     INCONCLUSIVE — another key could still sit in (band, ub] — and
    *     pays `exact`: takedown/collision inflation can mask a true
    *     retire, and only the exact pass can discover it. The witness
    *     can therefore DELAY nothing and DISPROVE only truthfully: it
    *     never retires, never rings, never substitutes for `exact` in
    *     any branch that could change the policy.
    *   - no sketch at all (None) pays `exact`.
    *
    * [[ask]] re-baselines the sketch and the witness inside `exact` (the
    * already-paying moment), which keeps every branch's next ask cheap.
    */
  def sketchGated[D](ub: Option[Long], bar: Long, baselineHot: Option[Long],
      rearmFactor: Double, retireFraction: Double, hasPolicy: Boolean,
      witnessHot: => Option[Long] = None)(
      onSketchRetire: Long => D)(onSketchDecline: Long => D)(
      exact: => D): D =
    ub match {
      case Some(u) =>
        val ringPossible = rings(u.toDouble, bar.toDouble,
          baselineHot.map(_.toDouble), rearmFactor, live = u > 0)
        if (ringPossible) exact
        else if (retires(u.toDouble, bar.toDouble, retireFraction,
            hasPolicy)) onSketchRetire(u)
        else if (hasPolicy && retireFraction > 0) {
          if (witnessHot.exists(_.toDouble > retireFraction * bar))
            onSketchDecline(u)
          else exact
        } else onSketchDecline(u)
      case None => exact
    }

  /** What an exact pass measured: the hottest key's count, whether the
    * index holds anything (an empty index has no signal to judge), the
    * hottest key itself ("" on an empty index), and the caller's ring
    * action. */
  final case class Exact[D](hot: Long, live: Boolean, hotKey: String,
      ring: () => D)

  /** The ONE clapper ask of the lexical indexes ([[DedupIndex
    * .capIfUnhealthy]], [[Bm25.capIfUnhealthy]]): the sketch bound, then
    * — when it proves nothing — the exact pass, the re-baseline of the
    * sketch at that already-paying moment (also its lazy FIRST build — an
    * index nobody polls never carries one), and the witness kept or
    * dropped. `source` is the table the sketch and witness are memos of;
    * `keys` its full hot-key stream (column `k`); `baseline` the ringing
    * metric persisted with the policy in force (None = no policy).
    * `decided(metric, retired)` is the caller's non-ring decision; a
    * retire runs `clear` first. The witness is kept only while a policy
    * stays in force AND `retireFraction > 0` — the only state that
    * consults one, so rf = 0 configs keep no witness and pay no fold.
    */
  def ask[D](store: graft.tables.TableStore, sketchT: String,
      witnessT: String, source: String, keys: => org.apache.spark.sql.DataFrame,
      bar: Long, baseline: Option[Long], rearmFactor: Double,
      retireFraction: Double, clear: => Unit)(
      decided: (Long, Boolean) => D)(exact: => Exact[D]): D = {
    val key = IndexState.key(store, source)
    val hasPolicy = baseline.nonEmpty
    def retired(hot: Long): D = { clear; decided(hot, true) }
    sketchGated(HotKeySketch.upperBound(store, sketchT, key), bar, baseline,
      rearmFactor, retireFraction, hasPolicy,
      witnessHot = HotKeySketch.readWitness(store, witnessT, key).map(_._2))(
      retired)(decided(_, false)) {
      val e = exact
      val rang = rings(e.hot.toDouble, bar.toDouble, baseline.map(_.toDouble),
        rearmFactor, e.live)
      val retire = !rang &&
        retires(e.hot.toDouble, bar.toDouble, retireFraction, hasPolicy)
      val dec =
        if (rang) e.ring() else if (retire) retired(e.hot) else decided(e.hot, false)
      HotKeySketch.rebuild(store, sketchT, keys, key)
      if (retireFraction > 0 && (rang || (hasPolicy && !retire)) && e.hotKey.nonEmpty)
        HotKeySketch.writeWitness(store, witnessT, e.hotKey, e.hot, key)
      else IndexState.drop(store, witnessT)
      dec
    }
  }

  /** The ONE reader of a clapper's persisted policy tables: `decode` of
    * `table`, or None when it is absent. One retry covers the writer's
    * two-rename overwrite swap, where the table is briefly absent — a
    * reader that took that window for "no policy" would run one batch
    * uncapped on a flooded index. A table that exists but cannot be read
    * or decoded (corrupt, schema-drifted) throws, naming it: an
    * unreadable policy must never silently read as "no policy".
    */
  def readPolicy[P](store: graft.tables.TableStore, table: String)(
      decode: org.apache.spark.sql.DataFrame => P): Option[P] = {
    def once(): Option[P] =
      if (!store.exists(table)) None
      else try Some(decode(store.read(table)))
      catch { case e: Exception =>
        throw new IllegalStateException(s"policy table '$table' is unreadable", e)
      }
    once().orElse(once())
  }

  /** Drop a clapper's policy tables (the first is the policy row, whose
    * presence is the returned "a policy existed") and its witness: no
    * policy → no witness, since nothing would consult it and a leaked
    * one would tax every commit with a dead fold. */
  def clearPolicy(store: graft.tables.TableStore, tables: Seq[String],
      witnessT: String): Boolean = {
    val had = store.exists(tables.head)
    tables.foreach(t => if (store.exists(t)) store.drop(t))
    IndexState.drop(store, witnessT)
    had
  }

  /** The shared parameter bounds every clapper states through its own
    * `require*Params` mirror (which sink policies call at CONSTRUCTION).
    */
  def requireRearm(rearmFactor: Double): Unit =
    require(rearmFactor >= 0,
      s"rearmFactor must be >= 0 (0 disables the thrash guard), got $rearmFactor")

  def requireRetire(retireFraction: Double): Unit =
    require(retireFraction >= 0 && retireFraction <= 1,
      s"retireFraction must be in [0, 1] (0 = never retire; keep it well " +
        s"under 1 for hysteresis), got $retireFraction")
}
