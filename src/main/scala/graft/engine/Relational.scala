package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Relational operators: filters, projections, explode, joins, aggregation,
  * windows, top-k, set ops (SURVEY §2.2, §2.4–2.9).
  *
  * Scale notes (100 TB):
  *  - joins against dimension tables take an explicit `broadcast()` hint so a
  *    1000-executor plan never sort-merge-shuffles a 25-row table;
  *  - `topK` is expressed as `orderBy().limit(k)` which Spark plans as
  *    `TakeOrderedAndProject` — a per-partition heap + single driver merge,
  *    never a global sort;
  *  - aggregations are plain `groupBy().agg()` so Catalyst emits
  *    partial (map-side) + final HashAggregate automatically.
  */
object Relational {

  /** P1 — footer-row filter: drop rows whose first cell, trimmed+lowered, is
    * "total" (ref `ingest_harvest_data.py:246`, `ingest_population_data.py:191`). */
  def dropFooterRows(df: DataFrame, firstCol: String): DataFrame =
    df.filter(lower(trim(col(firstCol))) =!= "total")

  /** P3 — production gate: only numeric CSV lists survive
    * (ref `load_population_production.sql:28`). */
  def numericCsvOnly(c: Column): Column = trim(c).rlike("^[0-9 ,]+$")

  /** G1+C10 — the reference's single most engine-like op: split a CSV string
    * and explode to one row per GMU (ref `load_population_production.sql:18-29`).
    * Catalyst plans this as `Generate` — fully pipelined, no shuffle. */
  def explodeCsv(df: DataFrame, csvCol: String, as: String): DataFrame =
    df.filter(numericCsvOnly(col(csvCol)))
      .withColumn(as, explode(Clean.csvToIntArray(col(csvCol))))
      .drop(csvCol)

  /** O3 — top-k: plans as TakeOrderedAndProject (no global sort). */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** W1 — rank rows within a partition; `tiebreak` must make the order total
    * or the result is nondeterministic under retries. */
  def rankWithin(df: DataFrame, partCols: Seq[String], order: Seq[Column],
                 as: String = "rn"): DataFrame =
    df.withColumn(as, row_number().over(
      Window.partitionBy(partCols.map(col): _*).orderBy(order: _*)))

  /** J1 — dimension join with an explicit broadcast hint (SURVEY §2.4): the
    * implied population⋈harvest equi-join generalized. */
  def joinDim(fact: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    fact.join(broadcast(dim), keys)

  /** Two-stage salted aggregation for skewed keys: stage 1 groups by
    * (key, salt) so a hot key spreads over `saltBuckets` reducers; stage 2
    * combines partials per key.  Identical results to a direct groupBy for
    * algebraic aggregates (sum/count), because addition reassociates.  The
    * salt is a deterministic hash of `spreadCol` (a high-cardinality column),
    * not a random number — results stay stable under retries. */
  def saltedSum(df: DataFrame, keys: Seq[String], valueCol: Column,
                spreadCol: Column, saltBuckets: Int,
                as: String): DataFrame =
    df.withColumn("__salt", pmod(hash(spreadCol), lit(saltBuckets)))
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(sum(valueCol).as("__partial"), count(lit(1)).as("__pn"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__partial")).as(as), sum(col("__pn")).cast("long").as("n"))

  /** Sessionization: assign a per-user session id from event-time gaps
    * greater than `gapMicros` — the batch form of the Structured Streaming
    * `mapGroupsWithState` session pattern.  One shuffle on `userCol`; the
    * lag and running-sum windows share the same partitioning, so Catalyst
    * reuses a single exchange.  At 100 TB this is the scalable shape:
    * state never leaves the executor owning the user's partition. */
  def sessionize(df: DataFrame, userCol: String, tsCol: String, idCol: String,
                 gapMicros: Long): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val us = unix_micros(col(tsCol))
    val prev = lag(us, 1).over(w)
    df.withColumn("__new_s",
        when(prev.isNull || (us - prev) > gapMicros, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__new_s")
  }

  /** As-of join — for each left row, the MOST RECENT right row with
    * `right.ts <= left.ts` on the same key (ties at equal ts match the right
    * row) — the time-series join Spark has no native operator for (DuckDB
    * spells it `ASOF JOIN`, which is exactly the oracle used).
    *
    * Spark-first composition instead of a custom SparkPlan: tag and UNION
    * both sides, then one window per key ordered by (ts, tag) carrying the
    * last non-null right attributes forward (`last(ignoreNulls)` over an
    * unbounded-preceding row frame), keep the left rows.  ONE shuffle on the
    * key for any number of right columns — versus the naive
    * join-then-filter-then-rank which shuffles both sides AND explodes
    * matches quadratically per key.  The frame is running (not full-window),
    * so state per key during execution is the last-seen right row: skew-safe.
    *
    * `right` must be unique per (keys, ts) — pre-dedup with
    * `Upsert.dedupLastWins` otherwise (equal-ts right duplicates would make
    * the winner window-order-dependent).  Right rows with a NULL timestamp
    * are DROPPED before the union: ASOF semantics (`r.ts <= l.ts`) can never
    * match them, but Spark's ascending sort would place them FIRST in the
    * window and carry their struct into every left row of the key. */
  def asofJoin(left: DataFrame, right0: DataFrame, keys: Seq[String],
               tsCol: String, rightCols: Seq[String],
               prefix: String = "r_"): DataFrame = {
    val right = right0.filter(col(tsCol).isNotNull)
    // The right attributes travel as ONE struct: `last(ignoreNulls)` must
    // skip only "no right row yet", never a NULL VALUE inside the matched
    // row — per-column carries would resurrect older rows' values for
    // columns that are NULL on the matched row (and mix columns across
    // different right rows).
    val rStructType = org.apache.spark.sql.types.StructType(
      rightCols.map(c => right.schema(c)))
    val leftOnly = left.columns.toSeq.filterNot((keys :+ tsCol).contains)
    val l = left.withColumn("__tag", lit(1))
      .withColumn("__r", lit(null).cast(rStructType))
    val r = leftOnly.foldLeft(
        right.select((keys :+ tsCol).map(col) :+
          struct(rightCols.map(col): _*).as("__r"): _*)
          .withColumn("__tag", lit(0))) { (d, c) =>
        d.withColumn(c, lit(null).cast(left.schema(c).dataType))
      }
    val u = l.unionByName(r.select(l.columns.map(col): _*))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__r", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .select(left.columns.map(col) ++
        rightCols.map(c => col("__r").getField(c).as(prefix + c)): _*)
  }

  /** Range join via time-binning — matched pairs of (left, right) rows on
    * the same key with `right.ts ∈ [left.ts − windowMicros, left.ts]`
    * (inclusive).  The non-equi predicate alone would force Spark into a
    * nested-loop/cartesian per key; binning event time into window-width
    * buckets turns it into an EQUI-join: a right row lives in exactly one
    * bin, a left row probes its own bin and the previous one (2× bounded
    * fanout of the left side), and the exact range predicate filters the
    * candidates.  Shuffles on (key, bin) — at 100 TB this is the same
    * bucketed-candidate shape as the LSH joins: linear in matches, never
    * quadratic in rows.  Right columns arrive `prefix`-renamed. */
  def rangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                lTs: String, rTs: String, windowMicros: Long,
                prefix: String = "r_"): DataFrame = {
    // exact integer bin: (us - us mod w) / w — the numerator is an exact
    // multiple of w, so the double division is exact (a bare floor(us / w)
    // can misplace a boundary timestamp by one bin).
    def binOf(us: Column): Column =
      ((us - pmod(us, lit(windowMicros))) / windowMicros).cast("long")
    val lus = unix_micros(col(lTs))
    val l = left.withColumn("__bin",
      explode(array(binOf(lus) - 1, binOf(lus))))
    val rCols = right.columns.filterNot(keys.contains).toSeq
    val r = rCols.foldLeft(right)((d, c) => d.withColumnRenamed(c, prefix + c))
      .withColumn("__bin", binOf(unix_micros(col(prefix + rTs))))
    l.join(r, keys :+ "__bin")
      .filter(unix_micros(col(prefix + rTs))
        .between(lus - windowMicros, lus))
      .drop("__bin")
  }

  /** INTERVAL × INTERVAL overlap join — matched pairs on the same key with
    * `[lStart, lEnd] ∩ [prefix+rStart, prefix+rEnd] ≠ ∅` (closed
    * intervals): the attribution/coverage shape ([[rangeJoin]] is its
    * point-in-window special case).  Each interval explodes to the time
    * bins it covers (fanout = ⌈len/binWidth⌉ — pick binWidth near the
    * typical interval length), candidates equi-join on (key, bin), the
    * exact predicate filters, and each surviving pair is ATTRIBUTED to
    * exactly one bin — the bin of `greatest(lStart, rStart)`, which lies
    * in both intervals whenever they overlap — so no distinct-shuffle
    * dedup pass exists in the plan.  Shuffles once on (key, bin); linear
    * in candidates, never quadratic in rows.  Malformed intervals
    * (end < start) are dropped before exploding — Spark's `sequence`
    * REVERSES on a negative span instead of failing, which would
    * fabricate bins.  Right columns arrive `prefix`-renamed. */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   lStart: String, lEnd: String, rStart: String, rEnd: String,
                   binWidthMicros: Long, prefix: String = "r_"): DataFrame = {
    require(binWidthMicros > 0, s"intervalJoin: binWidth $binWidthMicros <= 0")
    def binOf(us: Column): Column =
      ((us - pmod(us, lit(binWidthMicros))) / binWidthMicros).cast("long")
    val (ls, le) = (unix_micros(col(lStart)), unix_micros(col(lEnd)))
    val l = left.filter(ls <= le)
      .withColumn("__bin", explode(sequence(binOf(ls), binOf(le))))
    val rCols = right.columns.filterNot(keys.contains).toSeq
    val rr = rCols.foldLeft(right)((d, c) => d.withColumnRenamed(c, prefix + c))
    val (rs, re) = (unix_micros(col(prefix + rStart)), unix_micros(col(prefix + rEnd)))
    val r = rr.filter(rs <= re)
      .withColumn("__bin", explode(sequence(binOf(rs), binOf(re))))
    l.join(r, keys :+ "__bin")
      .filter(ls <= re && rs <= le && col("__bin") === binOf(greatest(ls, rs)))
      .drop("__bin")
  }

  /** Two-stage global row numbering — the scale-safe replacement for a
    * partition-less `row_number().over(Window.orderBy(page, row))` (which
    * funnels every row through ONE task):
    *
    *   stage 1: per-page row_number, shuffled by `pageCol` — every page
    *            numbers its rows in parallel;
    *   stage 2: per-page cumulative offsets folded on the DRIVER from the
    *            per-page COUNTs (rows = #pages, bounded metadata — never
    *            #rows) and broadcast-joined back onto the data.
    *
    * `global_row = offset(page) + row_number within page` is identical to
    * the single-window form whenever (pageCol, rowCol) is unique — NULL
    * pages sort first (Spark's ascending default) and are kept via the
    * null-safe join.  The plan has no partition-less Window (asserted by
    * RelationalSpec at the two registered call sites), global_row is LONG
    * (an INT would wrap past 2^31 rows at corpus scale), and the one eager
    * action collects #pages count rows, nothing data-sized. */
  def withGlobalRowOffsets(df: DataFrame, pageCol: String, rowCol: String): DataFrame =
    withPageOffsets(df, pageCol, rowCol, df.groupBy(pageCol).agg(count(lit(1)))
      .orderBy(col(pageCol)).collect().map(r => r.get(0) -> r.getLong(1)).toSeq)

  /** [[withGlobalRowOffsets]] for a caller that already holds the per-page
    * row counts, `(page, count)` in ascending page order (NULL first) —
    * no action of its own. */
  def withPageOffsets(df: DataFrame, pageCol: String, rowCol: String,
                      pageCounts: Seq[(Any, Long)]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = df.sparkSession
    var acc = 0L
    val offsetRows = pageCounts.map { case (p, n) =>
      val o = acc; acc += n; Row(p, o)
    }
    val offsets = spark.createDataFrame(
      spark.sparkContext.parallelize(offsetRows, 1),
      StructType(Seq(df.schema(pageCol).copy(name = "__pg"),
        StructField("__off", LongType, false))))
    df.join(broadcast(offsets), df(pageCol) <=> offsets("__pg"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(pageCol).orderBy(col(rowCol))))
      .withColumn("global_row", (col("__off") + col("__rn")).cast("long"))
      .drop("__pg", "__off", "__rn")
  }

  /** Gaps-and-islands: consecutive-day activity streaks per user.  The
    * classic island key `day − row_number()` (constant within a consecutive
    * run) makes streak detection two partitioned windows/aggregations on the
    * user key — one shuffle, reused across both stages; no self-join, no
    * per-user materialization.  Day binning is exact integer arithmetic
    * (`(us − us mod D)/D`, never `floor(us/D)` — a double division can
    * misbin a boundary timestamp). */
  def dailyStreaks(df: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val D = 86400000000L
    val us = unix_micros(col(tsCol))
    val day = ((us - pmod(us, lit(D))) / D).cast("long")
    val days = df.select(col(userCol).as("user"), day.as("day")).distinct()
    val w = Window.partitionBy("user").orderBy("day")
    days.withColumn("grp", col("day") - row_number().over(w))
      .groupBy("user", "grp").agg(count(lit(1)).as("len"))
      .groupBy("user")
      .agg(count(lit(1)).as("n_streaks"), max("len").as("max_streak"),
        sum("len").cast("long").as("n_days"))
  }

  /** Snapshot diff — classify every key across two lake generations as
    * added / removed / changed / unchanged (the regression gate between
    * pipeline runs: "this rebuild touched 0.1% of rows" vs "silently
    * rewrote everything").  Each side reduces to (key, md5-signature of the
    * compared columns) BEFORE the join, so the full-outer join shuffles two
    * narrow relations, not two copies of the lake — at 100 TB the diff
    * costs two scans plus a key-width shuffle.  Signature columns are
    * null-safed with sentinel separators so (NULL, "x") ≠ ("x", NULL). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    def sig(df: DataFrame): Column = md5(concat_ws("\u0001",
      compareCols.map(c => coalesce(df(c).cast("string"), lit("\u0002"))): _*))
    val o = oldDf.select(keys.map(oldDf(_)) :+ sig(oldDf).as("__old_sig"): _*)
    val n = newDf.select(keys.map(newDf(_)) :+ sig(newDf).as("__new_sig"): _*)
    o.join(n, keys, "full_outer")
      .select(keys.map(col) :+
        when(col("__old_sig").isNull, "added")
          .when(col("__new_sig").isNull, "removed")
          .when(col("__old_sig") =!= col("__new_sig"), "changed")
          .otherwise("unchanged").as("status"): _*)
  }

  /** U1 — multi-page concatenation with a running row offset
    * (ref `ingest_harvest_data.py:188-209`): union pages then re-number
    * globally via [[withGlobalRowOffsets]] — no partition-less window, so the
    * union scales past one PDF to the whole corpus. */
  def unionWithOffsets(pages: Seq[DataFrame], pageCol: String, rowCol: String): DataFrame =
    withGlobalRowOffsets(pages.reduce(_ unionByName _), pageCol, rowCol)

  /** Skew-salted equi-join: when a handful of join-key values carry most of
    * the big side (a `WHERE type = 'click'`-shaped key with 5 distinct
    * values over 10¹¹ rows), a plain shuffle join sends each hot key to ONE
    * reducer.  Salting splits every hot key `nSalts` ways: the big side gets
    * a deterministic salt from `saltFrom` (any well-distributed column —
    * row id, hash of the row), the small side is replicated once per salt
    * value, and the join runs on (keys, salt).  The result is EXACTLY the
    * plain join (every big row still meets its one small match, whichever
    * replica shares its salt) — only the partitioning changes, max reducer
    * load drops nSalts×.  Complements AQE's skew splitting ([[GraftSession]]
    * enables that too): salting works even when one KEY GROUP must not be
    * split-and-recombined, e.g. under a downstream co-partitioning
    * requirement.  Small side grows nSalts× — keep it broadcast-sized or
    * keep nSalts modest. */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 saltFrom: Column, nSalts: Int): DataFrame = {
    require(nSalts > 0, s"saltedJoin: nSalts must be positive, got $nSalts")
    val b = big.withColumn("__salt", pmod(hash(saltFrom), lit(nSalts)))
    val s = small.withColumn("__salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    b.join(s, keys :+ "__salt").drop("__salt")
  }

  /** Differentiated (split) skew join: route the HOT join keys down a
    * broadcast join and everything else down the ordinary shuffle join,
    * then union — the other classic skew weapon next to [[saltedJoin]].
    * Salting helps when the small side is broadcastable anyway; splitting
    * helps when it is NOT (a 100 GB dim cannot broadcast, but the ≤ dozens
    * of rows matching the hot keys can).  Hot fact rows never shuffle at
    * all, cold keys keep an even shuffle — so one 30%-of-the-table key no
    * longer pins a reducer while the dim stays shuffle-sized.
    *
    * `hotKeys` is a small frame of key tuples (driver-estimated or
    * sketch-found — see [[Sketch.cmsSketch]]: probe the dim's keys against
    * a Count-Min sketch of the fact and take the heavy hitters).  The
    * result is EXACTLY the plain inner join for ANY hot set (the two
    * branches partition the key space), so the choice tunes only the
    * physical plan — same contract as salting.
    *
    * Scale shape: `hotKeys` is broadcast three ways (two semi/anti routers
    * + the hot dim slice filter); the hot branch joins broadcast-sized
    * data; the cold branch is the plain shuffle join minus the skew. */
  def skewSplitJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                    hotKeys: DataFrame): DataFrame = {
    val hk = hotKeys.select(keys.map(col): _*).distinct()
    val hotSmall = small.join(broadcast(hk), keys, "left_semi")
    big.join(broadcast(hk), keys, "left_semi")
      .join(broadcast(hotSmall), keys)
      .unionByName(
        big.join(broadcast(hk), keys, "left_anti")
          .join(small.join(broadcast(hk), keys, "left_anti"), keys))
  }

  /** Time-series resample + gap-fill: bucket events to a fixed grain per
    * key, densify each key's range onto a complete time grid, and
    * forward-fill (LOCF) the holes.  The missing-interval repair every
    * metrics/feature pipeline needs before windowed math — a gap otherwise
    * silently shortens averages.
    *
    * Scale shape: the aggregation shuffles once on (key, bucket); the grid
    * is generated from the per-key [min, max] BOUNDS frame (|keys| rows, not
    * data-sized) via `sequence`+`explode`, so no driver loop and no
    * cross join; the LOCF window is per-key with a running frame (state =
    * last non-null value, skew-safe).  Callers bound grid blowup by grain
    * choice: a key spanning years at 1-second grain is the caller's bug.
    *
    * Returns (key, bucket, filled value, is_gap). */
  def resampleLocf(df: DataFrame, keyCol: String, tsCol: String,
                   agg: Column, grain: String, step: String): DataFrame = {
    val bucketed = df
      .groupBy(col(keyCol), date_trunc(grain, col(tsCol)).as("bucket"))
      .agg(agg.as("__v"))
    val bounds = bucketed.groupBy(keyCol)
      .agg(min("bucket").as("__lo"), max("bucket").as("__hi"))
    val grid = bounds.select(col(keyCol),
      explode(sequence(col("__lo"), col("__hi"),
        expr(s"interval $step"))).as("bucket"))
    val w = Window.partitionBy(keyCol).orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(bucketed, Seq(keyCol, "bucket"), "left")
      .select(col(keyCol), col("bucket"),
        last(col("__v"), ignoreNulls = true).over(w).as("value_filled"),
        col("__v").isNull.as("is_gap"))
  }

  /** Incremental join maintenance (append-only IVM): given a materialized
    * join of two snapshots and their APPEND deltas, the refreshed join is
    *
    *   old ⋈ old  ∪  ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB
    *
    * — three delta-sized joins instead of one lake-sized recompute.  At
    * 100 TB with a 0.1% daily delta this is the difference between joining
    * gigabytes and joining everything; the deltas broadcast when small, so
    * often the refresh adds ZERO shuffle of the big snapshots.  Append-only
    * by contract (updates/deletes need a retraction term — pair with
    * [[snapshotDiff]] to derive deltas and route changed keys through a
    * delete-then-append).  Column layout of `oldJoin` must match what
    * `a.join(b, keys)` produces. */
  def incrementalJoin(oldJoin: DataFrame, oldA: DataFrame, deltaA: DataFrame,
                      oldB: DataFrame, deltaB: DataFrame,
                      keys: Seq[String]): DataFrame =
    oldJoin
      .unionByName(deltaA.join(oldB, keys))
      .unionByName(oldA.join(deltaB, keys))
      .unionByName(deltaA.join(deltaB, keys))

  /** Mergeable partial-aggregate state — the incremental-rollup pattern: at
    * 100 TB you never re-scan history to refresh a serving aggregate; each
    * ingest batch (shard) reduces to constant-size state per (key, shard),
    * and the rollup is a merge of states.  Everything in the state is
    * re-aggregatable (count→sum, sum→sum, min→min, max→max; avg is DERIVED
    * at merge, never stored — stored averages don't merge).  Sums
    * accumulate in DECIMAL(38,6): double addition is order-sensitive and
    * both the shard partials and the merge would otherwise depend on
    * partition layout. */
  def partialAggState(df: DataFrame, keys: Seq[String], shardCol: Column,
                      valueCol: Column): DataFrame =
    df.groupBy(keys.map(col) :+ shardCol.as("shard"): _*)
      .agg(count(valueCol).as("n"),
        sum(valueCol.cast(DecimalType(38, 6))).as("sum"),
        min(valueCol).as("min"), max(valueCol).as("max"))

  /** Merge [[partialAggState]] shards to the final per-key rollup —
    * identical to aggregating the raw data directly (the invariant the
    * registered query's oracle checks). */
  def mergeAggState(partials: DataFrame, keys: Seq[String]): DataFrame =
    partials.groupBy(keys.map(col): _*)
      .agg(sum("n").cast("long").as("n"),
        sum("sum").cast(DoubleType).as("sum"),
        min("min").as("min"), max("max").as("max"),
        // double/long division (NOT decimal division — engines disagree on
        // result scale there); identical operands → identical IEEE result
        (sum("sum").cast(DoubleType) / sum("n")).as("avg"))

  /** Per-key EWMA (exponentially-weighted moving average), final value per
    * key: `y_1 = x_1; y_t = (1-α)·y_{t-1} + α·x_t` over `(tsCol, idCol)`
    * event order — the smoothing every monitoring/decay-weighting pipeline
    * reaches for, and inherently SEQUENTIAL per key (the recursion does not
    * decompose into a commutative aggregate).
    *
    * Bounded-memory shape, same as the sessionization fold: repartition by
    * key, sortWithinPartitions (Spark's spillable sort machinery), then one
    * streaming fold per partition holding four scalars — a key with a
    * billion events streams through at O(1) memory.  Bit-exactness: the
    * fold is nothing but IEEE `*`/`+` on doubles applied in event order, so
    * any engine folding the same sequence (the DuckDB oracle's
    * `list_reduce` over an ordered list) produces the identical bits when
    * α is binary-representable (0.25 here — document α choices that are). */
  def ewmaLast(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
               valCol: String, alpha: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val oneMinus = 1.0 - alpha
    val sorted = df.select(col(keyCol).cast("long").as("k"),
        unix_micros(col(tsCol)).as("t"), col(idCol).cast("long").as("i"),
        col(valCol).cast("double").as("v"))
      .repartition(col("k"))
      .sortWithinPartitions("k", "t", "i")
      .as[(Long, Long, Long, Double)]
    sorted.mapPartitions { it =>
      new Iterator[(Long, Long, Double)] {
        private var pending: Option[(Long, Long, Double)] = None
        private var exhausted = false
        private var haveKey = false
        private var curKey, nEv = 0L
        private var y = 0.0
        private def advance(): Unit =
          while (pending.isEmpty && !exhausted) {
            if (it.hasNext) {
              val (k, _, _, v) = it.next()
              if (haveKey && k != curKey) {
                pending = Some((curKey, nEv, y)); haveKey = false
              }
              if (!haveKey) { haveKey = true; curKey = k; nEv = 0L; y = v }
              else y = y * oneMinus + v * alpha
              nEv += 1
            } else {
              exhausted = true
              if (haveKey) pending = Some((curKey, nEv, y))
            }
          }
        def hasNext: Boolean = { advance(); pending.nonEmpty }
        def next(): (Long, Long, Double) = {
          advance(); val r = pending.get; pending = None; r
        }
      }
    }.toDF(keyCol, "n_events", "ewma")
  }

  /** Sample autocorrelation of an INTEGER-valued regular series at lags
    * 1..`maxLag` — the seasonality probe for a monitoring/ingest-volume
    * series (a weekly cycle spikes acf at lag 7): for global mean μ over
    * all n points, acf(k) = Σ(xₜ−μ)(xₜ₊ₖ−μ) / Σ(xₜ−μ)², expanded to
    * moment form so every sum is an exact BIGINT and the division order
    * is fixed — numerator sxy − μ·sx₁ − μ·sx₂ + n_k·μ·μ, denominator
    * svv − 2μ·sv + n·μ·μ (the [[Text.burstiness]]/corr-moments
    * discipline: never sum floats, derive them from integer moments).
    * Gaps in `tCol` simply drop pairs (n_pairs reports how many remain).
    * Input: `(tCol, vCol)` both integral.  Returns `(lag, n_pairs, sxy,
    * acf)` ordered by lag, acf 9-dp-rounded.
    *
    * Scale shape: the series is an AGGREGATE (one point per time bucket
    * — bounded by the time axis, not the data), so the lag self-join is
    * lags×|series| rows through a broadcast of the lag spine; global
    * moments cross in as a broadcast 1-row frame. */
  def acf(df: DataFrame, tCol: Column, vCol: Column, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"Relational.acf: maxLag $maxLag < 1")
    val spark = df.sparkSession
    val s = df.select(tCol.cast("long").as("t"), vCol.cast("long").as("v"))
    val g = s.agg(count(lit(1)).as("__n"), sum("v").as("__sv"),
      sum(col("v") * col("v")).as("__svv"))
    val lags = spark.range(1, maxLag + 1).toDF("lag")
    val p = s.crossJoin(broadcast(lags))
      .withColumn("__t2", col("t") + col("lag"))
      .join(s.select(col("t").as("__t2"), col("v").as("__v2")), Seq("__t2"))
      .groupBy("lag").agg(count(lit(1)).as("n_pairs"),
        sum(col("v") * col("__v2")).as("sxy"),
        sum("v").as("__sx1"), sum("__v2").as("__sx2"))
    val mu = col("__sv") / col("__n")
    p.crossJoin(broadcast(g))
      .withColumn("acf", round(
        (col("sxy") - mu * col("__sx1") - mu * col("__sx2")
          + col("n_pairs") * mu * mu) /
          (col("__svv") - lit(2) * mu * col("__sv") + col("__n") * mu * mu), 9))
      .select("lag", "n_pairs", "sxy", "acf")
      .orderBy("lag")
  }

  /** Sub-octave page of a positive double — a finer bounded prefix of
    * numeric order than the bare octave: exponent ⌊log₂x⌋ splits into 16
    * sub-bins by the top mantissa bits (x/2^(e−4) ∈ [16,32), computed
    * with EXACT power-of-two scaling), so a value distribution that dumps
    * half its mass into one octave still pages into window partitions of
    * ≤ 1/16 octave.  ≤ ~2100 pages for any positive finite doubles —
    * still driver-safe metadata for [[withGlobalRowOffsets]]. */
  private def subOctavePage(x: Column): Column = {
    val e = floor(log2(x))
    (e * 32 + floor(x / pow(lit(2.0), e - 4))).cast("long")
  }

  /** Spearman rank correlation between two positive numeric columns — the
    * monotone-association lens beside the Pearson-from-moments query
    * (outlier-robust, captures any monotone link, not just linear): rank
    * both columns globally, Pearson on the ranks.  TIES take distinct
    * ranks by the `idCol` tie-break (mirrored exactly in the oracle), not
    * fractional average ranks — deterministic, and equal to textbook
    * Spearman in the tie-free case.  Rows where either value ≤ 0 are
    * excluded (the log paging's domain).  Returns ONE row `(n, rho)`.
    *
    * Scale shape: TWO [[withGlobalRowOffsets]] passes paged by
    * [[subOctavePage]] (bounded pages even under octave-skewed mass), an
    * id-keyed self-join of the two rank columns, then one aggregation of
    * five rank moments — rank products computed in double (exact to
    * n ≈ 6.7·10⁷) and summed in DECIMAL(38,6), so the statistic is
    * order-independent and engine-identical; ρ is 9-dp-rounded. */
  def spearman(df: DataFrame, xCol: Column, yCol: Column,
               idCol: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val base = df.select(xCol.cast("double").as("__x"),
        yCol.cast("double").as("__y"), idCol.as("__id"))
      .filter(col("__x") > 0 && col("__y") > 0)
    def ranked(v: String, out: String) = withGlobalRowOffsets(
        base.select(col(v), col("__id"))
          .withColumn("__page", subOctavePage(col(v)))
          .withColumn("__k", struct(col(v), col("__id"))),
        "__page", "__k")
      .select(col("__id"), col("global_row").cast("double").as(out))
    def dsum(c: Column) = sum(c.cast(DecimalType(38, 6))).cast("double")
    ranked("__x", "__rx").join(ranked("__y", "__ry"), Seq("__id"))
      .agg(count(lit(1)).as("n"),
        dsum(col("__rx")).as("__sx"), dsum(col("__ry")).as("__sy"),
        dsum(col("__rx") * col("__rx")).as("__sxx"),
        dsum(col("__ry") * col("__ry")).as("__syy"),
        dsum(col("__rx") * col("__ry")).as("__sxy"))
      .withColumn("rho", round(
        (col("__sxy") - col("__sx") * col("__sy") / col("n")) /
          sqrt((col("__sxx") - col("__sx") * col("__sx") / col("n")) *
            (col("__syy") - col("__sy") * col("__sy") / col("n"))), 9))
      .select("n", "rho")
  }

  /** Cross-correlation between two INTEGER-valued regular series sharing
    * one time axis, at lags −`maxLag`..`maxLag` — the lead/lag probe
    * ([[acf]]'s two-series sibling): a peak at lag k>0 means x LEADS y by
    * k steps (ccf(k) correlates xₜ with yₜ₊ₖ), the causality-direction
    * hint an ingest/monitoring investigation wants ("do error spikes
    * follow deploy spikes, and by how long?").  Same integer-moment
    * discipline as [[acf]]: normalized by the full-series central moments
    * √(Σ(x−μx)²·Σ(y−μy)²), every sum an exact BIGINT, the two divisions
    * and the IEEE-exact sqrt in fixed order, 9-dp-rounded.  Input
    * `(tCol, xCol, yCol)` all integral; gaps drop pairs.  Returns
    * `(lag, n_pairs, sxy, ccf)` ordered by lag. */
  def ccf(df: DataFrame, tCol: Column, xCol: Column, yCol: Column,
          maxLag: Int): DataFrame = {
    require(maxLag >= 0, s"Relational.ccf: maxLag $maxLag < 0")
    val spark = df.sparkSession
    val s = df.select(tCol.cast("long").as("t"), xCol.cast("long").as("x"),
      yCol.cast("long").as("y"))
    val g = s.agg(count(lit(1)).as("__n"),
      sum("x").as("__sx"), sum(col("x") * col("x")).as("__sxx"),
      sum("y").as("__sy"), sum(col("y") * col("y")).as("__syy"))
    val lags = spark.range(-maxLag, maxLag + 1).toDF("lag")
    val p = s.select(col("t"), col("x")).crossJoin(broadcast(lags))
      .withColumn("__t2", col("t") + col("lag"))
      .join(s.select(col("t").as("__t2"), col("y").as("__y2")), Seq("__t2"))
      .groupBy("lag").agg(count(lit(1)).as("n_pairs"),
        sum(col("x") * col("__y2")).as("sxy"),
        sum("x").as("__px"), sum("__y2").as("__py"))
    val mx = col("__sx") / col("__n")
    val my = col("__sy") / col("__n")
    p.crossJoin(broadcast(g))
      .withColumn("ccf", round(
        (col("sxy") - my * col("__px") - mx * col("__py")
          + col("n_pairs") * mx * my) /
          sqrt((col("__sxx") - lit(2) * mx * col("__sx") + col("__n") * mx * mx) *
            (col("__syy") - lit(2) * my * col("__sy") + col("__n") * my * my)), 9))
      .select("lag", "n_pairs", "sxy", "ccf")
      .orderBy("lag")
  }
}
