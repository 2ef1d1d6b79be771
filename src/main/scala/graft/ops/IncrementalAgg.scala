package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Algebraic materialized-view maintenance: apply a keyed CDC delta to a
  * per-key (count, sum) aggregate WITHOUT rescanning the base facts — the
  * consumer side of `Warehouse.snapshotDiff`'s producer, and the classic
  * incremental-view-maintenance algebra (inserts add, deletes subtract,
  * updates contribute their difference) that works for any aggregate with
  * an abelian-group structure (count, sum, and anything derived from them;
  * min/max need the base back only for the keys a departure puts at risk —
  * [[maintainExtrema]] implements that selective-recompute extension,
  * [[maintainTopK]] generalizes it from 1 to k, and
  * [[maintainDistinctSupport]] serves the class neither trick covers
  * through a support table — the four aggregate classes a serving layer
  * actually maintains).
  *
  * At 100 TB the point is the asymptotics: refreshing a per-key rollup
  * over a slowly-changing fact estate costs O(|delta| + |MV|) — one
  * map-side-combinable aggregation of the delta plus one keyed merge with
  * the at-rest MV, exchange-free when the MV is bucketed on its key
  * (`Warehouse.writeBucketed`, the same co-location contract as
  * snapshotDiff) — instead of the O(|facts|) rescan the batch aggregate
  * pays. Correctness relies on exact addition: integer counts always, and
  * DECIMAL (never double) value sums, because `sum(base) + sum(delta) =
  * sum(all)` holds bit-exactly in decimal under ANY grouping or order.
  *
  * ==Intra-batch event multiplicity (the CDC feed contract)==
  *
  * The ALGEBRAIC maintainers ([[maintain]], [[maintainDistinctSupport]])
  * tolerate multiple events for the same physical row inside one batch —
  * an insert-then-update chain contributes `new + (newer - new)` to the
  * sum and `+1@v, -1@v, +1@v'` to the support table, both exactly the
  * net effect, in any order (spec-pinned). The SELECTIVE-RECOMPUTE
  * maintainers ([[maintainExtrema]], [[maintainTopK]]) do NOT: they
  * treat each arriving value as a candidate that exists in the post
  * state, so an intra-batch chain (insert 5 then update it to 50) would
  * leave the superseded 5 as a live candidate. Their contract is AT MOST
  * ONE EVENT PER PHYSICAL ROW PER BATCH — which this library's own CDC
  * producer guarantees by construction
  * ([[graft.sources.Warehouse.snapshotDiff]] full-outer-joins on the
  * key, so each row yields at most one added/removed/changed event per
  * diff); a deployment feeding a raw multi-event log (e.g. an
  * uncompacted binlog) must compact to net events per row first — the
  * standard CDC-consumer discipline. [[maintainTopK]] ENFORCES the
  * contract (its events are id-named, so a second event for one
  * (key, id) in a batch is detectable and raises loudly);
  * [[maintainExtrema]] cannot (no row id — two same-key events are
  * indistinguishable from two distinct rows) and states the limit in
  * its scaladoc rather than pretending to check it.
  *
  * Null keys: every maintainer merges on key EQUALITY, which can never
  * address a null key — the merge would manufacture a spurious second
  * null-key row instead of updating the group (silent divergence). All
  * four maintainers therefore fail loudly on a CDC row with a null key
  * (and, for top-k, a null id); a null-key group in the base/MV is
  * untargetable by definition and simply passes through.
  */
object IncrementalAgg {

  /** Merge a CDC delta into a per-key (count, sum) materialized view.
    *
    * `mv` carries `keyCols`, `countCol` (long) and `sumCol` (decimal).
    * `cdc` carries `op` ('insert' | 'delete' | 'update'), `keyCols`, and
    * `old_value` / `new_value` (decimal; old for delete/update, new for
    * insert/update — the before/after image of the aggregated value).
    * Any other `op` string fails the job loudly (`raise_error`) rather
    * than silently corrupting the view.
    *
    * A key whose maintained count reaches 0 leaves the view (its group no
    * longer exists); a NEGATIVE maintained count is corruption evidence
    * (a delete for a row the view never aggregated) and is deliberately
    * KEPT in the output so the mismatch is visible to the caller instead
    * of being filtered into silence. */
  def maintain(mv: DataFrame, cdc: DataFrame, keyCols: Seq[String],
      countCol: String = "n_rows", sumCol: String = "sum_value"): DataFrame = {
    require(keyCols.nonEmpty, "maintain needs at least one key column")
    val op = col("op")
    // null keys fail loudly: every merge below joins on key EQUALITY, so
    // a null-key CDC row could never address its MV group — it would
    // full-outer into a spurious second null-key row instead (silent
    // divergence, the failure mode the unknown-op guard exists for too)
    val nullKey = keyCols.map(col(_).isNull).reduce(_ || _)
    val dCount: Column =
      when(nullKey, raise_error(lit(
        "CDC row with a null key column: equality joins cannot address " +
          "it (incremental maintenance requires non-null keys)")))
        .when(op === "insert", 1L).when(op === "delete", -1L)
        .when(op === "update", 0L)
        .otherwise(raise_error(concat(lit("unknown CDC op: "), op)))
    val dSum: Column =
      when(op === "insert", col("new_value"))
        .when(op === "delete", -col("old_value"))
        .otherwise(col("new_value") - col("old_value"))
    val delta = cdc.groupBy(keyCols.map(col): _*)
      .agg(sum(dCount).as("_d_count"), sum(dSum).as("_d_sum"))
    // full outer on the key list: Spark coalesces the USING columns, so
    // MV-only keys pass through and delta-only (new) keys enter the view
    mv.join(delta, keyCols, "full_outer")
      .select(keyCols.map(col) ++ Seq(
        (coalesce(col(countCol), lit(0L)) + coalesce(col("_d_count"), lit(0L)))
          .as(countCol),
        (coalesce(col(sumCol), lit(0).cast("decimal(18,4)")) +
          coalesce(col("_d_sum"), lit(0).cast("decimal(18,4)"))).as(sumCol)): _*)
      .filter(col(countCol) =!= 0)
  }

  /** [[maintain]] extended to (count, sum, min, max) — the non-group
    * aggregates the plain algebra cannot maintain: an arriving value
    * tightens an extremum incrementally (`least`/`greatest`), but a
    * DEPARTING value that ties the current extremum leaves "second
    * smallest/largest" unknowable from the MV alone. The standard IVM
    * answer, implemented here: detect exactly the keys whose extremum is
    * AT RISK (a departing old_value <= the view's min, or >= its max —
    * anything else cannot move the bound) and recompute min/max for ONLY
    * those keys from `base`, the POST-delta fact table (the state the
    * warehouse holds once the CDC batch has landed — the natural
    * co-resident of the CDC feed). count/sum stay algebraic for every
    * key; no full rescan ever happens.
    *
    * Cost: O(|delta| + |MV|) for the algebra (maintain's bound), plus
    * ONE semi-join-filtered aggregation of base whose OUTPUT is bounded
    * by the at-risk key count (itself delta-bounded). The semi join's
    * probe still reads base once; partition/bucket base on the key so
    * dynamic pruning cuts that scan to the at-risk keys' files — and a
    * delta that only inserts, or only deletes non-extremal rows, leaves
    * the at-risk set empty, so nothing from base survives the semi join
    * and no base row ever reaches an exchange.
    *
    * `mv` carries keyCols + countCol/sumCol/minCol/maxCol; `base`
    * carries keyCols + `valueCol`. Negative-count corruption keys stay
    * visible (maintain's rule); their extrema come from base, which at
    * that point is the only trustworthy witness. Feed contract: at most
    * one event per physical row per batch (see the object scaladoc —
    * an intra-batch insert-then-update chain would leave the superseded
    * value as a live extremum candidate; snapshotDiff satisfies this by
    * construction). Honest limit: UNLIKE [[maintainTopK]], this
    * contract is NOT enforceable here — the CDC rows carry no row id,
    * so two same-key events in one batch are indistinguishable from
    * two legitimately distinct physical rows of that key (a perfectly
    * valid delta). A deployment that cannot guarantee the contract at
    * the source should route through the id-carrying top-k maintainer
    * with k = 1 (same extrema, enforced contract) — packaged as
    * [[maintainExtremaEnforced]], so nobody hand-assembles the mapping
    * (and inverts the min direction's negation) — or compact its feed
    * to net events per row first.
    *
    * The merged (MV-sized) frame is a lazy staged checkpoint, so it
    * evaluates ONCE per refresh instead of once per downstream reference;
    * its blocks pin at the first action on the returned frame and are
    * released as [[Staged]] states — [[maintainExtremaBatch]] scopes each
    * trigger. */
  def maintainExtrema(mv: DataFrame, cdc: DataFrame, base: DataFrame,
      keyCols: Seq[String], valueCol: String = "v",
      countCol: String = "n_rows", sumCol: String = "sum_value",
      minCol: String = "min_value", maxCol: String = "max_value"): DataFrame = {
    require(keyCols.nonEmpty, "maintainExtrema needs at least one key column")
    val op = col("op")
    // null keys fail loudly: every merge below joins on key EQUALITY, so
    // a null-key CDC row could never address its MV group — it would
    // full-outer into a spurious second null-key row instead (silent
    // divergence, the failure mode the unknown-op guard exists for too)
    val nullKey = keyCols.map(col(_).isNull).reduce(_ || _)
    val dCount: Column =
      when(nullKey, raise_error(lit(
        "CDC row with a null key column: equality joins cannot address " +
          "it (incremental maintenance requires non-null keys)")))
        .when(op === "insert", 1L).when(op === "delete", -1L)
        .when(op === "update", 0L)
        .otherwise(raise_error(concat(lit("unknown CDC op: "), op)))
    val dSum: Column =
      when(op === "insert", col("new_value"))
        .when(op === "delete", -col("old_value"))
        .otherwise(col("new_value") - col("old_value"))
    val arriving = when(op =!= "delete", col("new_value"))
    val departing = when(op =!= "insert", col("old_value"))
    val delta = cdc.groupBy(keyCols.map(col): _*)
      .agg(sum(dCount).as("_d_count"), sum(dSum).as("_d_sum"),
        min(arriving).as("_ins_min"), max(arriving).as("_ins_max"),
        min(departing).as("_dep_min"), max(departing).as("_dep_max"))
    // materialized ONCE (lazy checkpoint, components()' block
    // discipline): the merge is referenced below by both the at-risk key
    // projection (feeding the semi join) and the final repair join —
    // without materialization Spark re-evaluates the O(|delta|+|MV|)
    // full-outer join per reference, so the merge actually ran ~3x per
    // refresh at MV scale (the r11 advisory). LAZY (eager = false) so
    // building the plan stays side-effect-free (explain costs nothing);
    // the blocks pin at the first action.
    val merged = Staged.checkpoint(mv.join(delta, keyCols, "full_outer")
      .select(keyCols.map(col) ++ Seq(
        (coalesce(col(countCol), lit(0L)) + coalesce(col("_d_count"), lit(0L)))
          .as(countCol),
        (coalesce(col(sumCol), lit(0).cast("decimal(18,4)")) +
          coalesce(col("_d_sum"), lit(0).cast("decimal(18,4)"))).as(sumCol),
        least(col(minCol), col("_ins_min")).as("_cand_min"),
        greatest(col(maxCol), col("_ins_max")).as("_cand_max"),
        // a departure can only move a bound it reaches; a departure
        // against a key the view never held (null mv bound) is the
        // corruption case — base is the only trustworthy witness
        (col("_dep_min").isNotNull &&
          (col(minCol).isNull || col("_dep_min") <= col(minCol)))
          .as("_risk_min"),
        (col("_dep_max").isNotNull &&
          (col(maxCol).isNull || col("_dep_max") >= col(maxCol)))
          .as("_risk_max")): _*)
      .filter(col(countCol) =!= 0), eager = false)
    val recomputed = base
      .join(merged.filter(col("_risk_min") || col("_risk_max"))
        .select(keyCols.map(col): _*), keyCols, "left_semi")
      .groupBy(keyCols.map(col): _*)
      .agg(min(col(valueCol)).as("_rc_min"), max(col(valueCol)).as("_rc_max"))
    // one left join against the (delta-bounded, broadcast-able) recompute
    // table repairs everything: safe rows see no recomputed match and
    // keep their (still-valid) incremental candidates; only the at-risk
    // bound takes the recomputed value
    merged.join(recomputed, keyCols, "left")
      .select(keyCols.map(col) ++ Seq(col(countCol), col(sumCol),
        when(col("_risk_min"), col("_rc_min")).otherwise(col("_cand_min"))
          .as(minCol),
        when(col("_risk_max"), col("_rc_max")).otherwise(col("_cand_max"))
          .as(maxCol)): _*)
  }

  /** The third aggregate class a real rollup needs (after [[maintain]]'s
    * abelian count/sum and [[maintainExtrema]]'s semi-maintainable
    * min/max): count(DISTINCT value) — not algebraically maintainable (a
    * departing value's multiplicity among the key's OTHER rows is
    * unknowable from the count alone), and not bounded by the at-risk
    * trick (EVERY delete puts the distinct count at risk). The standard
    * IVM answer, implemented here: maintain a per-(key, value) SUPPORT
    * table of multiplicities — delta-bounded updates, no base rescan
    * ever — and derive the MV's distinct count from it
    * ([[distinctCounts]]): a value counts iff its multiplicity != 0.
    *
    * `support` carries keyCols + valueCol + multCol (long, > 0 in a
    * healthy table); `cdc` is [[maintain]]'s shape, with old_value /
    * new_value over valueCol's domain (any type — strings included).
    * Each refresh costs O(|delta| + |support|): one map-side-combinable
    * aggregation of the CDC rows to (key, value) grain plus one keyed
    * merge, exchange-free when the support table is bucketed on the
    * (key…, value) join key ([[graft.sources.Warehouse.writeBucketed]]).
    * The support table is bounded by the base's distinct (key, value)
    * pairs — the price of an EXACT maintainable distinct count under
    * deletes. (The sketch alternative, HLL, is insert-only: it cannot
    * unsee a departed value; a deployment on an append-only feed can
    * swap it in, but this operator exists for the full CDC regime.)
    *
    * A (key, value) whose multiplicity reaches 0 leaves the table; a
    * NEGATIVE multiplicity (a delete for a value the table never held)
    * is corruption evidence and is kept visible — [[maintain]]'s rule.
    * Returns the updated support table. */
  def maintainDistinctSupport(support: DataFrame, cdc: DataFrame,
      keyCols: Seq[String], valueCol: String = "v",
      multCol: String = "n_rows"): DataFrame = {
    require(keyCols.nonEmpty,
      "maintainDistinctSupport needs at least one key column")
    val op = col("op")
    // each CDC row contributes ±1 at one or two (key, value) points:
    // insert +1 @ new, delete -1 @ old, update -1 @ old AND +1 @ new
    val nullKey = keyCols.map(col(_).isNull).reduce(_ || _)
    val contrib =
      when(nullKey, raise_error(lit(
        "CDC row with a null key column: equality joins cannot address " +
          "it (incremental maintenance requires non-null keys)")))
      .when(op === "insert",
        array(struct(col("new_value").as("pv"), lit(1L).as("d"))))
      .when(op === "delete",
        array(struct(col("old_value").as("pv"), lit(-1L).as("d"))))
      .when(op === "update",
        array(struct(col("old_value").as("pv"), lit(-1L).as("d")),
          struct(col("new_value").as("pv"), lit(1L).as("d"))))
      .otherwise(raise_error(concat(lit("unknown CDC op: "), op)))
    val grain = keyCols :+ valueCol
    val delta = cdc
      .select(keyCols.map(col) :+ explode(contrib).as("c"): _*)
      .select(keyCols.map(col) ++
        Seq(col("c.pv").as(valueCol), col("c.d").as("_d")): _*)
      .groupBy(grain.map(col): _*)
      .agg(sum(col("_d")).as("_d_mult"))
    support.join(delta, grain, "full_outer")
      .select(grain.map(col) :+
        (coalesce(col(multCol), lit(0L)) + coalesce(col("_d_mult"), lit(0L)))
          .as(multCol): _*)
      .filter(col(multCol) =!= 0)
  }

  /** The distinct-count MV a support table answers, one row per key:
    * `n_distinct` (rows present = values with nonzero multiplicity) and
    * `n_rows` (the summed multiplicities — [[maintain]]'s count, derived
    * for free). Map-side-combinable; exchange-free on a key-bucketed
    * support table. */
  def distinctCounts(support: DataFrame, keyCols: Seq[String],
      multCol: String = "n_rows", distinctCol: String = "n_distinct"): DataFrame =
    support.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as(distinctCol), sum(col(multCol)).as(multCol))

  /** The fourth aggregate class a real serving layer needs (after
    * [[maintain]]'s abelian count/sum, [[maintainExtrema]]'s at-risk
    * min/max, and [[maintainDistinctSupport]]'s support-table distinct):
    * per-key TOP-K — the k best (id, value) rows per key under the
    * [[graft.expressions.TopKByScore]] total order (value descending,
    * ties to the LOWER id). Min/max is the k = 1 special case, and the
    * same IVM structure generalizes exactly as the r12 review predicted:
    *
    *   - ARRIVALS are algebraic: an insert (or the arriving half of an
    *     update) can only improve a key's top-k, so folding the MV's
    *     kept rows together with the arriving rows through the
    *     `graft_topk` bounded-heap merge is exact — O(k) state per key,
    *     map-side combinable, no base access;
    *   - a DEPARTURE that misses every kept row cannot move the top-k
    *     (it was already below the k-th kept value, and the post-delta
    *     base only lost a non-contender), so it costs nothing;
    *   - a departure that HITS a kept row (delete of a kept id, or
    *     update re-scoring one) opens a slot whose refill — the (k+1)-th
    *     best — the MV discarded, exactly [[maintainExtrema]]'s
    *     "second-smallest is unknowable" problem generalized from 1 to
    *     k: the key is AT RISK and recomputes its top-k from `base`,
    *     the POST-delta fact table. Only those keys touch base.
    *
    * `mv` carries keyCols + `idCol` (bigint or string — graft_topk's id
    * domain) + `valueCol` (numeric); `cdc` is [[maintain]]'s shape plus
    * `idCol` (old_value/new_value carry the departing/arriving VALUE,
    * the id names the row); `base` carries keyCols + idCol + valueCol.
    * Bootstrapping, and RAISING k (see below), are [[rebuildTopK]] over
    * the full base — the same fold kernel run once from scratch.
    * Returns the refreshed exploded MV — one row per kept (key, id,
    * value), value widened to DOUBLE (graft_topk's buffer type, so the
    * output is fold-stable: feeding it back as next refresh's `mv`
    * round-trips). Cost: O(|delta| + |MV|) for the safe path (the
    * at-risk probe is a delta-bounded broadcast semi/anti join) plus one
    * semi-join-filtered aggregation of base whose OUTPUT is bounded by
    * k x at-risk keys — bucket/partition base on the key so dynamic
    * pruning cuts that scan's files, and a delta with no kept-row
    * departures never reads base at all.
    *
    * Feed contract: at most one event per physical row per batch (see
    * the object scaladoc — an intra-batch insert-then-update chain for
    * one id would leave the superseded value as a second live candidate
    * under the same id; snapshotDiff satisfies this by construction).
    * Unlike the documentation-only situation the r13 review flagged,
    * the contract is ENFORCED here: the id makes a violation cheaply
    * detectable (two events for one (key, id) in a batch), so a
    * delta-sized windowed count raises loudly — the module's
    * fail-loudly rule, same class as the null-key and unknown-op
    * guards — instead of silently diverging the view.
    * ([[maintainExtrema]] has no id column: two same-key events in one
    * batch are indistinguishable from two legitimately distinct
    * physical rows, so its contract stays documentation + the
    * snapshotDiff-by-construction guarantee — stated honestly there.)
    * `k` is part of the MV's identity: folding an MV built at a smaller
    * k with a larger one cannot refill ranks the smaller MV discarded
    * (and the gap is undetectable from the MV — a key can legitimately
    * hold fewer than k rows), so RAISING k means rebuilding from base
    * — [[rebuildTopK]], the one-call form of exactly that rebuild;
    * lowering it is just a tighter fold.
    *
    * Corruption visibility caveat (weaker than [[maintain]]'s negative
    * count, stated honestly): a delete naming a (key, id) the MV never
    * kept is indistinguishable from a legitimate below-threshold delete
    * without consulting base, so it folds silently; deployments that
    * need full delete auditing run [[maintain]]'s counts beside this
    * (the intended pairing — one CDC feed, two views). A key whose
    * at-risk recompute finds no base rows leaves the view (its group no
    * longer exists). */
  def maintainTopK(mv: DataFrame, cdc: DataFrame, base: DataFrame,
      keyCols: Seq[String], k: Int, idCol: String = "id",
      valueCol: String = "v"): DataFrame = {
    require(keyCols.nonEmpty, "maintainTopK needs at least one key column")
    require(k >= 1, s"maintainTopK needs k >= 1, got $k")
    val op = col("op")
    // evaluated per CDC row BEFORE the op-based routing below. Two loud
    // failures, both maintain's fail-loudly rule: an unknown op must not
    // fall through both filters and silently vanish from the fold, and a
    // NULL key (or id) must not slip past the equality joins — the
    // at-risk probe and the safe-path anti join can never match a null
    // key, so a delete of a null-key kept row would be served forever,
    // the view silently diverging instead of erroring.
    val nullKey = (keyCols :+ idCol).map(col(_).isNull).reduce(_ || _)
    val keyAndId = keyCols :+ idCol
    // the feed contract (at most one event per physical row per batch)
    // is cheaply checkable here because the row HAS a name: a second
    // event for one (key, id) within the batch is one delta-sized
    // windowed count away from a loud failure. Without this, an
    // intra-batch insert-then-update chain folds the superseded value
    // as a second live candidate — silent divergence, against the
    // module's fail-loudly rule. The window shuffles only the delta
    // (the small, broadcast-bound side). Enforcement path: the guards
    // live in `_op`, and BOTH consumers of `checked` force its
    // evaluation through an `_op`-referencing filter — `arriving`'s
    // not-delete filter on the safe side, and `touched`'s tautological
    // op filter below (a no-op for valid feeds that exists precisely so
    // a refactor consuming only the recompute side cannot prune the
    // check away with the projection).
    val eventsPerRow = count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(keyAndId.map(col): _*))
    val checked = cdc.withColumn("_op",
      when(nullKey, raise_error(lit(
        "CDC row with a null key/id column: equality joins cannot " +
          "address it (maintainTopK requires non-null keys and ids)")))
        .when(eventsPerRow > 1, raise_error(concat(
          lit("maintainTopK feed contract violated: "),
          eventsPerRow.cast("string"),
          lit(" events for one (key, id) within a single batch — the " +
            "contract is at most one event per physical row per batch " +
            "(compact the CDC feed to net events per row first; " +
            "snapshotDiff satisfies this by construction)"))))
        .when(op.isin("insert", "delete", "update"), op)
        .otherwise(raise_error(concat(lit("unknown CDC op: "), op))))
    // the probe covers EVERY event's (key, id), not just departures: a
    // departure hitting a kept row opens a slot (the classic at-risk
    // case), and an ARRIVAL naming an already-kept id — an update
    // mislabeled as insert, the second feed fault the r13 review
    // flagged — would otherwise fold as a phantom second candidate
    // under the same id. Any kept-row hit routes through the base
    // recompute instead (exact: base is the post-delta truth), and a
    // valid feed's inserts are fresh ids that never match, so the
    // valid path pays the same single MV-vs-delta semi probe as before.
    // the filter is semantically a no-op (the op guard already raises on
    // anything outside the set) but REFERENCES _op, so column pruning
    // cannot drop the guard expression from this branch — the raise
    // survives even if arriving's filter is refactored away
    val touched = checked
      .filter(col("_op").isin("insert", "delete", "update"))
      .select(keyAndId.map(col): _*)
    // at-risk = keys where an event hits a KEPT row; delta-bounded,
    // so both the anti join (safe side) and semi join (base side) below
    // broadcast it. Materialized ONCE (lazy localCheckpoint, the same
    // discipline as maintainExtrema's merged frame): it is referenced by
    // both the anti and semi joins, and without materialization each
    // reference re-evaluates the MV-sized semi probe — one extra full MV
    // scan per refresh (the exact repeated-evaluation cost the r11
    // advisory fixed in maintainExtrema).
    val atRisk = Staged.checkpoint(mv.join(touched, keyAndId, "left_semi")
      .select(keyCols.map(col): _*).distinct(), eager = false)
    val arriving = checked.filter(col("_op") =!= "delete")
      .select(keyCols.map(col) ++ Seq(col(idCol),
        col("new_value").cast("double").as(valueCol)): _*)
    val safe = rebuildTopK(
      mv.select(keyCols.map(col) ++ Seq(col(idCol),
          col(valueCol).cast("double").as(valueCol)): _*)
        .unionByName(arriving)
        .join(atRisk, keyCols, "left_anti"), keyCols, k, idCol, valueCol)
    val recomputed = rebuildTopK(
      base.join(atRisk, keyCols, "left_semi"), keyCols, k, idCol, valueCol)
    safe.unionByName(recomputed)
  }

  /** The from-scratch top-k build [[maintainTopK]]'s fold is the
    * incremental form of: one `graft_topk` bounded-heap aggregation of
    * `rows` (keyCols + idCol + valueCol; extra columns ignored),
    * exploded to the MV's one-row-per-kept-(key, id, value) shape with
    * valueCol widened to double — byte-identical to what maintainTopK's
    * at-risk recompute produces for a key, because it IS that kernel.
    * This is the one-call answer to the two operations the fold cannot
    * express: BOOTSTRAPPING the MV before the first delta, and RAISING
    * k (the fold cannot refill ranks a smaller-k MV discarded — see
    * maintainTopK's k-identity rule), where hand-writing the
    * bootstrap aggregation risks a subtly different total order than
    * the heap's (value descending, ties to the LOWER id). The output is
    * fold-stable: feeding it to maintainTopK as `mv` with an empty
    * delta is a fixpoint (spec-pinned). O(|rows|), map-side combinable
    * at O(k) state per key — the same scan the batch aggregate pays,
    * paid once. */
  def rebuildTopK(rows: DataFrame, keyCols: Seq[String], k: Int,
      idCol: String = "id", valueCol: String = "v"): DataFrame = {
    require(keyCols.nonEmpty, "rebuildTopK needs at least one key column")
    require(k >= 1, s"rebuildTopK needs k >= 1, got $k")
    rows
      .select(keyCols.map(col) ++ Seq(col(idCol),
        col(valueCol).cast("double").as(valueCol)): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(call_function("graft_topk",
        col(valueCol), col(idCol), lit(k)).as("_top"))
      .select(keyCols.map(col) :+ explode(col("_top")).as("_t"): _*)
      .select(keyCols.map(col) ++
        Seq(col("_t.id").as(idCol), col("_t.score").as(valueCol)): _*)
  }

  /** The ENFORCED min/max maintainer [[maintainExtrema]]'s scaladoc
    * points at: both extrema routed through the id-carrying
    * [[maintainTopK]] with k = 1, packaged as one call so a deployment
    * that cannot guarantee the feed contract at the source doesn't
    * hand-assemble the mapping — the max direction is top-1 verbatim,
    * the MIN direction is top-1 over NEGATED values (and negated CDC
    * old/new values, and a negated base), un-negated on the way out —
    * exactly the inversion a hand-written wrapper gets subtly wrong.
    *
    * What enforcement buys (the difference from [[maintainExtrema]]):
    * the CDC rows carry `idCol`, so an intra-batch duplicate (key, id)
    * RAISES instead of silently folding a superseded value as a live
    * candidate, and an insert naming an already-kept id routes through
    * the at-risk base recompute — both checks inherited from
    * maintainTopK, firing identically in both directions. The price is
    * the id column itself plus top-k's per-direction machinery (two
    * delta-bounded probes instead of one merged frame).
    *
    * `mv` carries keyCols + minIdCol/minCol/maxIdCol/maxCol — the
    * extremum VALUES and the row ids holding them (the ids are what
    * make the contract checkable; ties go to the lower id, graft_topk's
    * total order). `cdc` is [[maintainTopK]]'s shape; `base` carries
    * keyCols + idCol + valueCol. Values widen to DOUBLE (graft_topk's
    * buffer type), so the output is fold-stable: feeding it back as the
    * next refresh's `mv` round-trips (spec-pinned, both directions).
    * On a valid feed the min/max VALUES equal [[maintainExtrema]]'s
    * (spec-pinned); count/sum stay with [[maintain]] run beside this —
    * the module's one-CDC-feed-many-views pairing. A key whose rows all
    * departed leaves both directions; a key present in only ONE
    * direction is corruption evidence (an inconsistent mv pair) and
    * stays VISIBLE as a half-null row — [[maintain]]'s rule — via the
    * full-outer merge. Cost: 2x maintainTopK(k = 1) = O(|delta| + |MV|)
    * twice plus at-risk-bounded base recomputes; partition/bucket base
    * on the key so dynamic pruning serves both probes. */
  def maintainExtremaEnforced(mv: DataFrame, cdc: DataFrame,
      base: DataFrame, keyCols: Seq[String], idCol: String = "id",
      valueCol: String = "v",
      minCol: String = "min_value", maxCol: String = "max_value",
      minIdCol: String = "min_id", maxIdCol: String = "max_id"): DataFrame = {
    require(keyCols.nonEmpty,
      "maintainExtremaEnforced needs at least one key column")
    val maxMv = mv.select(keyCols.map(col) ++ Seq(
      col(maxIdCol).as(idCol), col(maxCol).cast("double").as(valueCol)): _*)
    // the min direction is max over the NEGATED value axis: negate the
    // stored bound, the CDC's departing/arriving values, and base —
    // one sign, applied in one place, un-applied once on the way out
    val minMv = mv.select(keyCols.map(col) ++ Seq(
      col(minIdCol).as(idCol),
      (-col(minCol).cast("double")).as(valueCol)): _*)
    val negCdc = cdc
      .withColumn("old_value", -col("old_value").cast("double"))
      .withColumn("new_value", -col("new_value").cast("double"))
    val negBase = base.withColumn(valueCol, -col(valueCol).cast("double"))
    val newMax = maintainTopK(maxMv, cdc, base, keyCols, 1, idCol, valueCol)
    val newMin = maintainTopK(minMv, negCdc, negBase, keyCols, 1, idCol,
      valueCol)
    // full outer, not inner: a consistent mv pair yields identical key
    // sets (both directions fold the same base/delta), so an asymmetric
    // key is corruption evidence and must stay visible as a half-null
    // row, not silently drop (maintain's negative-count rule)
    newMax.select(keyCols.map(col) ++ Seq(
        col(idCol).as(maxIdCol), col(valueCol).as(maxCol)): _*)
      .join(newMin.select(keyCols.map(col) ++ Seq(
          col(idCol).as(minIdCol), (-col(valueCol)).as(minCol)): _*),
        keyCols, "full_outer")
      .select(keyCols.map(col) ++ Seq(col(minIdCol), col(minCol),
        col(maxIdCol), col(maxCol)): _*)
  }

  private val AppliedMarker = "_applied_batch"

  /** The shared exactly-once fold harness behind all four `foreachBatch`
    * maintainers: recover the target dir, read the `_applied_batch`
    * marker (an underscore file — invisible to parquet readers, and
    * swapped atomically WITH the data it describes), SKIP a replayed
    * micro-batch id, apply `next` to the current table (or `bootstrap`
    * on first trigger), and publish result + new marker through the
    * crash-safe directory swap. One definition, so a protocol fix
    * (marker encoding, recover ordering, swap rules) cannot land in one
    * fold and miss the others. A crash between the maintain and the
    * swap leaves the old table + old marker — the replay re-applies
    * cleanly. The maintain and its publish run in one [[Staged.scope]],
    * so any blocks the maintained frame staged are released after the
    * publish.
    *
    * Bootstrap semantics: `bootstrap` is the EMPTY view, which is
    * correct when the CDC stream replays the base's history from its
    * beginning (or base and stream start together). A deployment whose
    * base PREDATES the stream seeds the target dir with a base-derived
    * view before the first trigger — an existing dir is picked up as
    * the current table (the `fs.exists` branch), marker or no marker,
    * so seeding needs no special protocol.
    *
    * Emptied-dir rule: a complete erasure ([[graft.sources.Warehouse
    * .deleteWhere]] over the whole view — tenant offboarding, a GDPR
    * sweep across the derived estates) drops every DATA file but leaves
    * the `_SUCCESS` and `_applied_batch` markers (underscore-invisible
    * to its visible-files walk), so the dir EXISTS with zero readable
    * files. That is a valid EMPTY view — real published history emptied,
    * GateState's emptied-batch rule — so the next trigger folds against
    * `bootstrap` instead of dying on zero-file schema inference, while
    * the surviving marker still gates replay (found by
    * IncrementalVolumeSpec's emptied-estate stage, the same hazard
    * family GateVolumeSpec caught in `GateState.resume`). */
  private def foldExactlyOnce(spark: org.apache.spark.sql.SparkSession,
      dir: String, batchId: Long)(bootstrap: => DataFrame)(
      next: DataFrame => DataFrame): Unit = {
    graft.sources.Warehouse.recover(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(p, AppliedMarker)
    val applied: Long =
      if (!fs.exists(marker)) -1L
      else {
        val in = fs.open(marker)
        try new String(in.readAllBytes(), "UTF-8").trim.toLong finally in.close()
      }
    if (batchId <= applied) return // replayed micro-batch: already folded
    // exists-but-no-visible-data = erasure-emptied view (see the
    // emptied-dir rule above): fold as empty, never schema-infer
    val cur = graft.sources.Warehouse.readIfPresent(spark, dir).getOrElse(bootstrap)
    Staged.scope {
      val out = next(cur)
      graft.sources.Warehouse.replaceDirWith(spark, dir) { staging =>
        out.write.parquet(staging)
        val w = fs.create(
          new org.apache.hadoop.fs.Path(staging, AppliedMarker), true)
        try w.write(batchId.toString.getBytes("UTF-8")) finally w.close()
      }
    }
  }

  /** The per-trigger base read shared by the folds that consult the
    * post-delta fact table ([[maintainExtremaBatch]],
    * [[maintainTopKBatch]], [[maintainExtremaEnforcedBatch]]). Same
    * emptied-dir rule as [[foldExactlyOnce]]'s view read: a base dir
    * that EXISTS but holds zero visible data files is an
    * erasure-emptied table — the post-delta state really is "no rows"
    * (the erasure arrives as this very batch's CDC deletes), so the
    * at-risk recompute consults `empty`, a zero-row frame typed from
    * the batch's own columns (the CDC old/new values carry the value
    * domain), instead of dying on schema inference (found by
    * IncrementalVolumeSpec's emptied-base stage). A MISSING dir stays
    * a loud failure: the fold was wired ahead of the base table's own
    * writer, the wiring error the batch folds' scaladocs forbid —
    * folding it as empty would silently diverge every at-risk key. */
  private def baseOrEmpty(spark: org.apache.spark.sql.SparkSession,
      baseDir: String)(empty: => DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(baseDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && !graft.sources.Warehouse.dirHasVisibleData(fs, p)) empty
    else spark.read.parquet(baseDir)
  }

  /** Continuous aggregation: the `foreachBatch` fold that maintains an
    * at-rest MV parquet from a CDC micro-batch stream — wire it as
    * `cdcStream.writeStream.foreachBatch(IncrementalAgg.maintainAggBatch(
    * mvDir, keys))`. Each micro-batch applies [[maintain]] against the
    * current MV under [[foldExactlyOnce]]'s marker/replay-skip/swap
    * discipline (the same batch-dir-swap exactly-once as
    * CorpusStreamMain).
    *
    * Scale: per trigger this costs O(|batch| + |MV|) — the continuous
    * form of the same asymptotics, with the MV read fresh from disk each
    * batch (nothing MV-sized held in executor memory between triggers). */
  def maintainAggBatch(mvDir: String, keyCols: Seq[String],
      countCol: String = "n_rows", sumCol: String = "sum_value")(
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      batchId: Long): Unit =
    foldExactlyOnce(batch.sparkSession, mvDir, batchId)(
      batch.select(keyCols.map(col): _*).limit(0)
        .withColumn(countCol, lit(0L))
        .withColumn(sumCol, lit(0).cast("decimal(38,4)")))(mv =>
      maintain(mv, batch.toDF(), keyCols, countCol, sumCol)
        .withColumn(sumCol, col(sumCol).cast("decimal(38,4)")))

  /** [[maintainAggBatch]] for the distinct-count view: the `foreachBatch`
    * fold that maintains the at-rest (key, value) -> multiplicity SUPPORT
    * table via [[maintainDistinctSupport]]. The support table IS the
    * published artifact — the distinct-count MV derives from it on read
    * ([[distinctCounts]] over the parquet, O(|support|)); publishing both
    * under one marker would need a two-directory atomic swap the
    * protocol deliberately does not promise. Per trigger this costs
    * O(|batch| + |support|). */
  def maintainDistinctBatch(supportDir: String, keyCols: Seq[String],
      valueCol: String = "v", multCol: String = "n_rows")(
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      batchId: Long): Unit =
    foldExactlyOnce(batch.sparkSession, supportDir, batchId)(
      batch.select(keyCols.map(col) :+ col("new_value").as(valueCol): _*)
        .limit(0)
        .withColumn(multCol, lit(0L)))(support =>
      maintainDistinctSupport(support, batch.toDF(), keyCols, valueCol, multCol))

  /** [[maintainAggBatch]] for the extrema view: the `foreachBatch` fold
    * that maintains an at-rest (count, sum, min, max) MV via
    * [[maintainExtrema]]. `baseDir` is the POST-delta fact table read
    * fresh each trigger for the at-risk extrema recompute — in a CDC
    * topology the feed is emitted by the base table's own writer, so by
    * the time a batch's CDC rows arrive the base already reflects them;
    * wire this fold downstream of that writer, never ahead of it.
    * [[foldExactlyOnce]] also releases maintainExtrema's checkpointed
    * merge after each publish — the per-trigger half of its block-release
    * contract. */
  /** [[maintainAggBatch]] for the top-k view: the `foreachBatch` fold
    * that maintains an at-rest exploded top-k MV via [[maintainTopK]].
    * Same post-delta `baseDir` contract as [[maintainExtremaBatch]] —
    * wire it downstream of the base table's own writer, never ahead of
    * it. Per trigger: O(|batch| + |MV|) plus the at-risk keys' base
    * aggregation. */
  def maintainTopKBatch(mvDir: String, baseDir: String, keyCols: Seq[String],
      k: Int, idCol: String = "id", valueCol: String = "v")(
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      batchId: Long): Unit =
    foldExactlyOnce(batch.sparkSession, mvDir, batchId)(
      batch.select((keyCols :+ idCol).map(col): _*).limit(0)
        .withColumn(valueCol, lit(null).cast("double")))(mv =>
      maintainTopK(mv, batch.toDF(),
        baseOrEmpty(batch.sparkSession, baseDir)(
          batch.select(keyCols.map(col) ++ Seq(col(idCol),
            col("old_value").as(valueCol)): _*).limit(0)),
        keyCols, k, idCol, valueCol))

  def maintainExtremaBatch(mvDir: String, baseDir: String, keyCols: Seq[String],
      valueCol: String = "v", countCol: String = "n_rows",
      sumCol: String = "sum_value", minCol: String = "min_value",
      maxCol: String = "max_value")(
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      batchId: Long): Unit =
    foldExactlyOnce(batch.sparkSession, mvDir, batchId)(
      batch.select(keyCols.map(col): _*).limit(0)
        .withColumn(countCol, lit(0L))
        .withColumn(sumCol, lit(0).cast("decimal(38,4)"))
        .withColumn(minCol, lit(null).cast("decimal(18,4)"))
        .withColumn(maxCol, lit(null).cast("decimal(18,4)")))(mv =>
      maintainExtrema(mv, batch.toDF(),
          baseOrEmpty(batch.sparkSession, baseDir)(
            batch.select(keyCols.map(col) :+
              col("old_value").as(valueCol): _*).limit(0)),
          keyCols, valueCol, countCol, sumCol, minCol, maxCol)
        .withColumn(sumCol, col(sumCol).cast("decimal(38,4)")))

  /** [[maintainAggBatch]] for the ENFORCED extrema view: the
    * `foreachBatch` fold that maintains an at-rest argmin/argmax MV via
    * [[maintainExtremaEnforced]] — the continuous form every other view
    * class already carries (agg/extrema/distinct/top-k), so the enforced
    * variant is a first-class serving choice rather than a one-shot
    * call. Same post-delta `baseDir` contract as
    * [[maintainExtremaBatch]] — wire it downstream of the base table's
    * own writer, never ahead of it — and the same exactly-once
    * marker/replay-skip/swap discipline from [[foldExactlyOnce]],
    * including the per-trigger release of maintainTopK's checkpointed
    * at-risk probes (one per direction). The bootstrap MV is empty with
    * the id columns typed from the batch's own `idCol` and the bound
    * columns DOUBLE (graft_topk's buffer type — the fold-stable shape
    * maintainExtremaEnforced both consumes and emits). Per trigger:
    * O(|batch| + |MV|) twice (one top-1 fold per direction) plus the
    * at-risk keys' base aggregations. */
  def maintainExtremaEnforcedBatch(mvDir: String, baseDir: String,
      keyCols: Seq[String], idCol: String = "id", valueCol: String = "v",
      minCol: String = "min_value", maxCol: String = "max_value",
      minIdCol: String = "min_id", maxIdCol: String = "max_id")(
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      batchId: Long): Unit =
    foldExactlyOnce(batch.sparkSession, mvDir, batchId)(
      batch.select(keyCols.map(col) :+ col(idCol).as(minIdCol): _*).limit(0)
        .withColumn(minCol, lit(null).cast("double"))
        .withColumn(maxIdCol, col(minIdCol))
        .withColumn(maxCol, lit(null).cast("double")))(mv =>
      maintainExtremaEnforced(mv, batch.toDF(),
        baseOrEmpty(batch.sparkSession, baseDir)(
          batch.select(keyCols.map(col) ++ Seq(col(idCol),
            col("old_value").as(valueCol)): _*).limit(0)),
        keyCols, idCol, valueCol, minCol, maxCol, minIdCol, maxIdCol))
}
