package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** INCREMENTAL VIEW MAINTENANCE over the TxTable change feed — the consumer
  * that makes [[TxTable.readChanges]] pay for itself: a keyed
  * `(key, n, <sum>)` aggregate table is kept current by applying each CDF
  * window's DELTA, never by re-aggregating the fact table.
  *
  * The classic IVM identity for self-maintainable aggregates (SUM/COUNT are
  * distributive): feed rows contribute `+1` for insert / update_postimage
  * and `-1` for update_preimage / delete, so
  * `new_agg(k) = old_agg(k) + Σ sign·measure` over the window's change rows
  * for k.  A key whose count reaches zero leaves the view (the HAVING
  * COUNT(*) > 0 of the recompute).
  *
  * Scale shape — everything after the feed read is CHANGE-sized:
  * the delta is one hash aggregate over the window's change rows; the old
  * rows it touches come from a semi-join of the view against the BROADCAST
  * delta key set (the view is scanned but never shuffled); old rows and
  * delta then merge through one union + hash aggregate between
  * change-sized frames; and the publish is ONE segment-pruned
  * [[TxTable.commitRewriteHit]] (keys that zeroed out simply do not
  * reappear), so a window touching 0.1% of keys rewrites ~0.1% of the view,
  * transactionally.
  *
  * The measure accumulates in DECIMAL(38,6): decimal addition is exact and
  * order-independent, so the incrementally-maintained sum equals a
  * from-scratch recompute BIT FOR BIT — the property the oracle checks.
  */
object Ivm {

  private val Dec = DecimalType(38, 6)

  /** The conf one whole refresh runs under, in a [[Scoped.run]] child.
    * Adaptive execution is OFF: every plan a refresh executes is
    * STATICALLY decided already — each join carries an explicit
    * `broadcast()` hint, the merge is one union + hash aggregate, and the
    * shuffles are change-sized — so AQE cannot improve a strategy, but its
    * per-stage query-stage materialization turns each refresh action into
    * 3-5 scheduled jobs, roughly doubling the refresh's fixed overhead
    * (measured at sf0.1: ~35 extra jobs per maintained query).
    *
    * With AQE off the refresh would shuffle at the SESSION width — the
    * machine's core count — fanning a change-sized delta into dozens of
    * near-empty partitions and writing the rewritten view segment as that
    * many near-empty files.  The window's row count is already in hand
    * from footer metadata (the emptiness probe), so the static width comes
    * from the DATA: ~1M change rows per partition (the advisory-byte
    * ballpark for these narrow keyed-agg rows), never wider than the
    * session setting.  A 10M-row window gets 11 partitions (n/1M + 1); an
    * unknowable count (no footer metadata) keeps the session width. */
  private def refreshConf(spark: SparkSession, feedRows: Option[Long])
      : Map[String, String] = {
    val sp = spark.conf.get("spark.sql.shuffle.partitions").toLong
    Map("spark.sql.adaptive.enabled" -> "false") ++ feedRows.map(n =>
      "spark.sql.shuffle.partitions" -> math.max(1L, math.min(sp, n / 1000000L + 1L)).toString)
  }

  /** Refresh the `(key, nCol, sumCol)` view at `aggRoot` with the fact
    * table's changes in versions `(fromVersion, toVersion]` (which must
    * have been written with `cdf = true`).  Bootstraps the view when
    * `aggRoot` has no commits.  Returns the view's new head version.
    *
    * EXACTLY-ONCE: the view commit records `toVersion` as its batch id
    * (the fact version the view has applied through), so a replayed
    * refresh of an already-applied window is a no-op — the same guard the
    * streaming sinks use, which makes the view safe to maintain from
    * inside `foreachBatch` (see [[refreshLatest]]).  Callers composing
    * windows by hand must keep them contiguous: apply `(a, b]` then
    * `(b, c]`, never overlapping ranges. */
  def refreshSumCount(spark: SparkSession, factRoot: String, aggRoot: String,
                      fromVersion: Long, toVersion: Long,
                      key: String, valueCol: String,
                      nCol: String = "n", sumCol: String = "sum"): Long = {
    if (TxTable.lastCommittedBatch(spark, aggRoot).exists(_ >= toVersion))
      return TxTable.latestVersion(spark, aggRoot).get // replay: already applied
    // window emptiness from manifest + footer METADATA (zero Spark jobs):
    // a layout-only window returns here without planning anything, and a
    // provably non-empty feed lets the apply skip its delta isEmpty probe
    // (grouping a non-empty feed always yields at least one group)
    val feedRows = TxTable.changeWindowRows(spark, factRoot, fromVersion, toVersion)
    if (feedRows.contains(0L))
      return TxTable.latestVersion(spark, aggRoot).getOrElse(0L)
    Scoped.run(spark, refreshConf(spark, feedRows)) { child =>
      val ch = TxTable.readChanges(child, factRoot, fromVersion, toVersion)
      val sign = when(col("_change_type").isin("insert", "update_postimage"), 1L)
        .otherwise(-1L)
      // persist the CHANGE-SIZED delta: the apply consumes it up to three
      // times (emptiness fallback, rewrite key set, the union arm), so
      // without the cache the feed scan + aggregate would re-run per consumer
      val delta = ch.groupBy(key).agg(
        sum(sign).cast(LongType).as("__dn"),
        sum(col(valueCol).cast(Dec) * sign).cast(Dec).as("__dsum"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try applySignedDelta(child, aggRoot, delta, key, nCol, sumCol, toVersion,
        knownNonEmpty = feedRows.exists(_ > 0L))
      finally delta.unpersist(false)
    }
  }

  /** Publish a `(key, __dn, __dsum)` signed delta into the view at
    * `aggRoot` (bootstrap when the view has no commits) as ONE atomic
    * commit.  Non-bootstrap rides [[TxTable.commitRewriteHit]]: only the
    * view segments containing a delta key are rewritten, and the
    * replacement is old rows ∪ delta rows through one union + hash
    * aggregate (a full-outer join would cost two shuffles and a sort
    * where the union-agg costs one exchange — addition is the same merge
    * the join's coalesce arithmetic expressed).  Untouched rows inside a
    * hit segment pass through the aggregate unchanged (they group alone);
    * keys whose count reaches zero are filtered out and thus LEAVE the
    * view; delta keys absent from every segment insert.  The single
    * commit records `batchId` as the applied-through horizon, so the
    * apply is crash-atomic by construction — any failure leaves the head
    * untouched and the whole window replays (the two-commit delete-then-
    * merge dance this replaces needed a delete-first ordering argument;
    * one commit needs none).  An EMPTY delta (layout-only window)
    * publishes nothing.  Returns the view head. */
  private def applySignedDelta(spark: SparkSession, aggRoot: String,
                               delta: DataFrame, key: String,
                               nCol: String, sumCol: String,
                               batchId: Long,
                               knownNonEmpty: Boolean = false): Long = {
    // An EMPTY delta must publish nothing.  Callers that can PROVE
    // non-emptiness from window metadata (changeWindowRows > 0 on a
    // single-table feed) pass knownNonEmpty and no probe runs at all;
    // otherwise emptiness is decided as cheaply as the path allows:
    // bootstrap needs a real probe action (there is no write to ride),
    // while the non-bootstrap path OBSERVES the delta arm's row count on
    // the rewrite write itself and discards the staged segment pre-publish
    // when it contributed zero rows — the probe costs no dedicated action.
    val headOpt = TxTable.latestVersion(spark, aggRoot)
    val asView = delta.select(col(key), col("__dn").as(nCol), col("__dsum").as(sumCol))
    if (headOpt.isEmpty) {
      if (!knownNonEmpty && delta.isEmpty) return 0L
      TxTable.commitMerge(spark, aggRoot, asView.filter(col(nCol) > 0),
        Seq(key), Seq(nCol, sumCol), Nil, batch = Some(batchId))
    } else {
      val obs =
        if (knownNonEmpty) None
        else Some(org.apache.spark.sql.Observation(s"ivm_delta_rows_$batchId"))
      TxTable.commitRewriteHit(spark, aggRoot, delta.select(key), Seq(key),
        batch = Some(batchId),
        discardStaged = obs.map(o => () => o.get("rows") == 0L)) { touched =>
        touched.select(col(key), col(nCol), col(sumCol).cast(Dec).as(sumCol))
          .unionByName(obs.fold(asView)(o =>
            asView.observe(o, count(lit(1)).as("rows"))))
          .groupBy(key).agg(
            sum(col(nCol)).cast(LongType).as(nCol),
            sum(col(sumCol)).cast(Dec).as(sumCol))
          .filter(col(nCol) > 0)
      }
    }
  }

  /** JOIN-VIEW IVM — maintain a `(groupKey, n, sum)` aggregate of
    * `fact ⋈ dim` (inner equi-join on `factKey = dimKey`, grouped by a DIM
    * attribute) from BOTH tables' change feeds, never re-running the join.
    *
    * The bilinear delta identity: with signed deltas Δ and snapshots
    * `F_old` (fact at `factFrom`) and `D_new` (dim at `dimTo`),
    *
    * {{{ Δ(F ⋈ D) = ΔF ⋈ D_new  ∪  F_old ⋈ ΔD }}}
    *
    * (expand `(F+ΔF)⋈(D+ΔD)`: the cross term `ΔF⋈ΔD` lands in the first
    * part because `D_new` already contains `ΔD`).  A joined row's sign is
    * the sign of the change row that produced it — dim preimage/postimage
    * pairs therefore MOVE a fact row's contribution between groups, dim
    * deletes retract every joined fact row, dim inserts admit previously
    * unmatched facts: every case is the same algebra, no special-casing.
    *
    * Both snapshots come straight from the table format: `D_new` is a
    * time-travel read at `dimTo`, `F_old` at `factFrom` — IVM rides on
    * snapshot isolation instead of keeping shadow copies.
    *
    * Scale shape: part 1 joins the CHANGE-sized fact delta against the
    * broadcast dim (dims that fit the broadcast budget — the star-schema
    * case); part 2 scans the old fact snapshot but joins it against the
    * BROADCAST change-sized dim delta (the scan is the price of a dim
    * change; an unchanged dim makes part 2 empty without touching the
    * fact).  Everything downstream is delta-sized and the publish is the
    * same segment-pruned merge as [[refreshSumCount]].
    *
    * EXACTLY-ONCE: the view's applied-through horizon covers TWO tables,
    * packed into one batch id as `factTo << 20 | dimTo` (dim versions must
    * stay below 2^20) — monotone because windows must advance JOINTLY and
    * contiguously: apply `(fa,fb]×(da,db]` then `(fb,fc]×(db,dc]`.  A
    * replayed refresh of an applied window is a no-op. */
  def refreshJoinSumCount(spark: SparkSession, factRoot: String,
                          dimRoot: String, aggRoot: String,
                          factFrom: Long, factTo: Long,
                          dimFrom: Long, dimTo: Long,
                          factKey: String, dimKey: String,
                          groupKey: String, valueCol: String,
                          nCol: String = "n", sumCol: String = "sum"): Long = {
    require(dimTo < (1L << 20),
      s"Ivm.refreshJoinSumCount: dim version $dimTo overflows the packed horizon")
    val packed = (factTo << 20) | dimTo
    if (TxTable.lastCommittedBatch(spark, aggRoot).exists(_ >= packed))
      return TxTable.latestVersion(spark, aggRoot).get // replay: already applied
    // both windows layout-only (decided from manifest + footer metadata,
    // zero Spark jobs) ⇒ the joined delta is empty: nothing to plan.  A
    // non-empty feed does NOT prove a non-empty joined delta (every change
    // row can miss the join), so the apply's emptiness check below rides
    // the rewrite write as an observed metric instead of a probe action.
    val factRows = TxTable.changeWindowRows(spark, factRoot, factFrom, factTo)
    val dimRows =
      if (dimFrom >= dimTo) Some(0L)
      else TxTable.changeWindowRows(spark, dimRoot, dimFrom, dimTo)
    if (factRows.contains(0L) && dimRows.contains(0L))
      return TxTable.latestVersion(spark, aggRoot).getOrElse(0L)
    // width hint = both feeds' change rows; part 2's fact-snapshot arm only
    // ever SCANS (broadcast-joined, partially aggregated before its one
    // group-sized shuffle), so change rows are the honest width driver
    Scoped.run(spark, refreshConf(spark,
        for (f <- factRows; d <- dimRows) yield f + d)) { child =>
    val sign = when(col("_change_type").isin("insert", "update_postimage"), 1L)
      .otherwise(-1L)
    // part 1: fact delta ⋈ dim head — change-sized ⋈ broadcast dim
    val p1 = {
      val chF = TxTable.readChanges(child, factRoot, factFrom, factTo)
        .select(col(factKey).as("__k"), col(valueCol).cast(Dec).as("__v"),
          sign.as("__s"))
      val dNew = TxTable.readVersion(child, dimRoot, dimTo)
        .select(col(dimKey).as("__k"), col(groupKey))
      chF.join(broadcast(dNew), "__k").select(col(groupKey), col("__v"), col("__s"))
    }
    // part 2: old fact snapshot ⋈ dim delta — fact ⋈ broadcast change set.
    // PROVABLY EMPTY when the fact has no old snapshot (bootstrap window:
    // every joined row already lands in part 1 via D_new) or the dim
    // window is empty — skip BUILDING it then, so those refreshes plan
    // and scan nothing for the fact-snapshot ⋈ dim-delta arm
    val p2 =
      if (factFrom == 0L || dimFrom >= dimTo) None
      else Some {
        val chD = TxTable.readChanges(child, dimRoot, dimFrom, dimTo)
          .select(col(dimKey).as("__k"), col(groupKey), sign.as("__s"))
        TxTable.readVersion(child, factRoot, factFrom)
          .select(col(factKey).as("__k"), col(valueCol).cast(Dec).as("__v"))
          .join(broadcast(chD), "__k")
          .select(col(groupKey), col("__v"), col("__s"))
      }
    // persist the GROUP-SIZED delta: the apply's two consumers would
    // otherwise re-run both delta parts — including part 2's old-fact
    // snapshot scan — twice inside one action; a layout-only (empty)
    // window is detected by the apply's empty probe
    val delta = p2.fold(p1)(p1.unionByName).groupBy(groupKey).agg(
      sum(col("__s")).cast(LongType).as("__dn"),
      sum(col("__v") * col("__s")).cast(Dec).as("__dsum"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try applySignedDelta(child, aggRoot, delta, groupKey, nCol, sumCol, packed)
    finally delta.unpersist(false)
    }
  }

  /** Catch the view up to the fact table's HEAD, exactly-once and
    * self-driving: the window starts at the fact version the view last
    * applied (its recorded batch id) and ends at the current fact head —
    * the call a `foreachBatch` sink makes right after its fact commit to
    * maintain a STREAMING MATERIALIZED VIEW.  Replays no-op; windows are
    * contiguous by construction.  Returns the view head. */
  def refreshLatest(spark: SparkSession, factRoot: String, aggRoot: String,
                    key: String, valueCol: String,
                    nCol: String = "n", sumCol: String = "sum"): Long = {
    val to = TxTable.latestVersion(spark, factRoot).getOrElse(
      return TxTable.latestVersion(spark, aggRoot).getOrElse(0L))
    val from = TxTable.lastCommittedBatch(spark, aggRoot).getOrElse(0L)
    if (from >= to) TxTable.latestVersion(spark, aggRoot).getOrElse(0L)
    else refreshSumCount(spark, factRoot, aggRoot, from, to, key, valueCol,
      nCol, sumCol)
  }
}
