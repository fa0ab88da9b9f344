package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** S10 — keyed upsert with column-selective update
  * (ref `sql/load/load_population_production.sql:30-32`):
  * `ON CONFLICT (state,species,year,unit) DO UPDATE SET post_hunt_estimate=…,
  * male_female_ratio=…` — note `herd_name` is NOT updated on conflict.
  *
  * Spark has no ON CONFLICT; the idiomatic rewrite is dedup-then-outer-join:
  * per-side last-wins dedup (deterministic `row_number`), then a full-outer
  * join on the key with per-column precedence:
  *   - `updateCols`:   incoming value wins, fall back to existing;
  *   - `preserveCols`: existing value wins, fall back to incoming (the
  *     reference's keep-old-`herd_name` semantics).
  *
  * Scale: both sides shuffle once on the same key → the join is co-partitioned.
  * At 100 TB the existing side must not be rewritten wholesale: use
  * `upsertPartitioned`, which restricts the rewrite to the partitions present
  * in the incoming batch (swapped in by rename), so a 1-year incremental
  * load touches 1 year of the lake, not all of it.
  */
object Upsert {

  /** Deterministic within-batch last-wins: keep one row per key under an
    * explicit total order (DuckDB applies conflicting rows sequentially;
    * we pick an explicit order instead — SURVEY §7.4.1).  Callers should pass
    * enough order columns that ties are identical rows, or the survivor is
    * nondeterministic under retries. */
  def dedupLastWins(df: DataFrame, keys: Seq[String],
                    order: Seq[org.apache.spark.sql.Column]): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))
      .filter(col("__rn") === 1).drop("__rn")

  def dedupLastWins(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame =
    dedupLastWins(df, keys, Seq(col(orderCol).desc))

  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
             updateCols: Seq[String], preserveCols: Seq[String]): DataFrame = {
    // Presence flags, not value-level coalesce: EXCLUDED.col wins on conflict
    // even when the incoming value is NULL (ON CONFLICT DO UPDATE semantics,
    // ref `load_population_production.sql:30-32`); symmetrically a NULL
    // existing preserveCol stays NULL rather than adopting the incoming value.
    val e = existing.select((keys ++ updateCols ++ preserveCols).map(col): _*)
      .withColumn("__e_present", lit(true))
    val i = incoming.select((keys ++ updateCols ++ preserveCols).map(col): _*)
      .withColumn("__i_present", lit(true))
    val joined = e.alias("e").join(i.alias("i"),
      keys.map(k => col(s"e.$k") <=> col(s"i.$k")).reduce(_ && _), "full_outer")
    val iPresent = col("i.__i_present").isNotNull
    val ePresent = col("e.__e_present").isNotNull
    val keyCols      = keys.map(k => coalesce(col(s"e.$k"), col(s"i.$k")).as(k))
    val updated      = updateCols.map(c => when(iPresent, col(s"i.$c")).otherwise(col(s"e.$c")).as(c))
    val preserved    = preserveCols.map(c => when(ePresent, col(s"e.$c")).otherwise(col(s"i.$c")).as(c))
    joined.select(keyCols ++ updated ++ preserved: _*)
  }

  /** Type-2 history upsert (SCD2) — the audit-trail form of S10: instead of
    * overwriting a changed row, CLOSE the open version (`valid_to = batchTs`)
    * and APPEND the incoming one as the new open version
    * (`valid_from = batchTs, valid_to = NULL`).  Rows whose key is absent
    * from the batch stay open; already-closed history is immutable.
    * Three key-wise branches (semi/anti joins + union) — every join is on
    * the same key set, so at 100 TB the whole merge co-partitions on one
    * shuffle per side, and the append-mostly output suits a partitioned
    * lake (partition history by a time column of `valid_from`). */
  def scd2(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
           valueCols: Seq[String], batchTs: Long): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val inKeys = incoming.select(keys.map(col): _*).distinct()
    val open = existing.filter(col("valid_to").isNull)
    val closedHistory = existing.filter(col("valid_to").isNotNull)
    val toClose = open.join(inKeys, keys, "left_semi")
      .withColumn("valid_to", lit(batchTs))
    val stayOpen = open.join(inKeys, keys, "left_anti")
    val fresh = incoming.select((keys ++ valueCols).map(col): _*)
      .withColumn("valid_from", lit(batchTs))
      .withColumn("valid_to", lit(null).cast(LongType))
    closedHistory.unionByName(toClose).unionByName(stayOpen).unionByName(fresh)
  }

  /** Point-in-time read of an SCD2 table: the row version valid AT `t` —
    * `valid_from <= t < valid_to`, with an open version's NULL `valid_to`
    * meaning "still current".  The dimension-table time travel every
    * reproducible-training snapshot needs ("join features as they were
    * when the example was labeled").  A pure filter: no join, no window,
    * pushes down to the scan. */
  def scd2AsOf(scd2Table: DataFrame, t: Long): DataFrame =
    scd2Table.filter(col("valid_from") <= t &&
      (col("valid_to").isNull || col("valid_to") > t))

  /** Scale path: only rewrite lake partitions the incoming batch touches.
    * `partCol` is a partition column of the lake (e.g. `year`).
    *
    * One write per batch: the merged rows of the touched partitions are
    * written, partitioned by `partCol`, to a unique sibling staging
    * directory (Spark refuses to overwrite a path it is reading from), and
    * each staged `partCol=v` directory is then swapped into the lake by
    * rename — the live partition is moved aside under a `_upsert_aside_*`
    * directory (a `_` prefix without `=`, which Spark's file listing
    * skips), the staged directory is renamed in, and the aside copy is
    * deleted.  That is the delete-and-rename that dynamic partition
    * overwrite's own job commit does, minus its second read and write of
    * every touched partition.  The partition directory names are Spark's own
    * (Hive escaping, `__HIVE_DEFAULT_PARTITION__`), never rebuilt here.
    *
    * Crash contract: the swap is not atomic across partitions, nor within
    * one on a filesystem whose rename is a copy.  A failure can leave some
    * touched partitions new and some old, and a partition whose swap
    * stopped between its two renames sits only in its aside directory —
    * invisible to readers, but not lost.  The next call on the lake first
    * settles every aside directory: one whose live partition is missing is
    * renamed back, one whose live partition is present is deleted.
    * Re-running the failed batch then converges (the upsert is idempotent),
    * which is what the streaming upsertSink's checkpointed retries do.
    * Settling assumes one writer per lake at a time, as dynamic overwrite
    * does; a table format with a transaction log is the fix where partial
    * visibility is unacceptable. */
  def upsertPartitioned(spark: org.apache.spark.sql.SparkSession, lakeRoot: String,
                        incoming: DataFrame, keys: Seq[String], updateCols: Seq[String],
                        preserveCols: Seq[String], partCol: String): Unit = {
    val root = new Path(lakeRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // bootstrap: no lake yet → the incoming batch IS the lake
    if (!fs.exists(root)) {
      incoming.write.mode("overwrite").partitionBy(partCol).parquet(lakeRoot)
      return
    }
    settleAsides(fs, root)
    val touched = incoming.select(partCol).distinct().collect().map(_.get(0))
    val existing = spark.read.parquet(lakeRoot).filter(col(partCol).isin(touched: _*))
    val merged = upsert(existing, incoming, keys, updateCols, preserveCols)
    // unique per-invocation staging path: two upserts into the same lake
    // (e.g. overlapping streaming restarts) must not overwrite each other's
    // staging data or delete each other's files in the finally block
    val staging = new Path(lakeRoot.stripSuffix("/") + "__upsert_staging_" +
      java.util.UUID.randomUUID().toString)
    try {
      merged.write.partitionBy(partCol).parquet(staging.toString)
      fs.listStatus(staging).filter(_.isDirectory).foreach { st =>
        val live = new Path(root, st.getPath.getName)
        val aside = new Path(root, AsidePrefix + java.util.UUID.randomUUID().toString)
        val hadLive = fs.exists(live)
        if (hadLive) {
          fs.mkdirs(aside)
          rename(fs, live, new Path(aside, live.getName))
        }
        rename(fs, st.getPath, live)
        if (hadLive) fs.delete(aside, true)
      }
    } finally fs.delete(staging, true)
  }

  /** Name prefix of the directories [[upsertPartitioned]] moves a live
    * partition into while swapping its replacement in. */
  private val AsidePrefix = "_upsert_aside_"

  private def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst)) throw new java.io.IOException(s"rename $src -> $dst failed")

  /** Crash recovery for [[upsertPartitioned]]'s swap: restore each moved-aside
    * partition whose live directory is missing, drop the rest. */
  private def settleAsides(fs: FileSystem, root: Path): Unit =
    fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(AsidePrefix))
      .foreach { aside =>
        fs.listStatus(aside.getPath).foreach { moved =>
          val live = new Path(root, moved.getPath.getName)
          if (!fs.exists(live)) rename(fs, moved.getPath, live)
        }
        fs.delete(aside.getPath, true)
      }

  /** CDC changelog apply — the general form upsert and purge specialize:
    * fold a Debezium-shaped change stream (`op` ∈ I/U/D + a change-order
    * column) into a snapshot.  Per key, the LATEST change decides: D ⇒ the
    * key disappears, I/U ⇒ its values replace the snapshot row (or insert);
    * keys without changes pass through.  Intra-batch ordering comes from
    * `ordCol` (+ op as tie-break, so order is total when callers pair one
    * op per ord value) — the same explicit-total-order discipline as
    * [[dedupLastWins]], which does the per-key latest-change selection (and
    * therefore rides the heap operator under the optimizer rewrite).
    * One key-shuffle for the changelog reduction + one for the outer join:
    * at 100 TB the changelog is delta-sized, so the join broadcasts it. */
  def applyChangelog(existing: DataFrame, changes: DataFrame, keys: Seq[String],
                     valueCols: Seq[String], opCol: String,
                     ordCol: String): DataFrame = {
    val latest = dedupLastWins(changes, keys,
      Seq(col(ordCol).desc, col(opCol).desc))
      .select((keys.map(col) :+ col(opCol).as("__op")) ++
        valueCols.map(c => col(c).as(s"__c_$c")): _*)
    existing.join(latest, keys, "full_outer")
      .filter(coalesce(col("__op") =!= "D", lit(true))) // D ⇒ drop the key
      .select(keys.map(col) ++ valueCols.map(c =>
        when(col("__op").isNotNull, col(s"__c_$c")).otherwise(col(c)).as(c)): _*)
  }

  /** Targeted key purge — the right-to-be-forgotten primitive: delete every
    * lake row whose key appears in `tombstones`, rewriting ONLY the
    * partitions that contain hits (at 100 TB a deletion request touches a
    * handful of partitions; rewriting the lake for it is disqualifying).
    * Tombstones broadcast into an anti-join against the touched-partition
    * slice, then a staging write + dynamic partition overwrite — with one
    * extra step the overwrite path gets wrong on its own: a partition whose
    * EVERY row is purged produces no output files, so dynamic overwrite
    * would silently leave the old partition alive; emptied partitions are
    * deleted explicitly.  Dynamic overwrite is not atomic across
    * partitions (re-running converges).
    *
    * Emptied-partition directories are taken from `input_file_name()` on the
    * scan itself — NOT rebuilt as `"$partCol=$v"` strings, which would miss
    * Hive partition-path escaping (special characters, timestamp/date
    * rendering, NULL → `__HIVE_DEFAULT_PARTITION__`) and silently leave
    * tombstoned rows alive.  Both reads are broadcast-joined against the
    * scan, so `input_file_name` resolves (no shuffle between scan and
    * projection).  A post-delete semi-join asserts the purge actually
    * removed every tombstoned key. */
  def purgeKeys(spark: org.apache.spark.sql.SparkSession, lakeRoot: String,
                tombstones: DataFrame, keys: Seq[String], partCol: String): Unit = {
    // partCol may itself be one of the keys — dedupe the column list
    val joinCols = (keys :+ partCol).distinct
    val tomb = tombstones.select(joinCols.map(col): _*).distinct()
    val touched = tomb.select(partCol).distinct().collect().map(_.get(0))
    if (touched.isEmpty) return
    // NULL partition values land in __HIVE_DEFAULT_PARTITION__; isin() never
    // matches NULL, so the null slice needs its own predicate — and the key
    // join must be null-safe for the same reason
    val (nullTouched, valTouched) = touched.partition(_ == null)
    val partPred = (valTouched, nullTouched) match {
      case (vs, Array()) => col(partCol).isin(vs: _*)
      case (Array(), _)  => col(partCol).isNull
      case (vs, _)       => col(partCol).isin(vs: _*) || col(partCol).isNull
    }
    def affected = spark.read.parquet(lakeRoot).filter(partPred)
    def antiSemi(df: DataFrame, how: String) = {
      val tb = broadcast(tomb)
      df.join(tb, joinCols.map(c => df(c) <=> tb(c)).reduce(_ && _), how)
    }
    // actual on-disk partition directories, via the files Spark scanned —
    // input_file_name() is captured as a column directly above the scan
    // (it rejects multi-source plans, so it cannot sit above the join).
    // ONE pass computes both the touched set and the emptied set: total vs
    // tombstone-hit counts (tomb is distinct on the full join key, so the
    // left join cannot duplicate lake rows), aggregated to DIRECTORY grain
    // in-plane — the driver only ever consumes partition directories, so
    // collected rows = #touched partitions, not #files.  (A 100 TB
    // partition sweep can touch 10⁵-10⁶ files; a per-file collect would be
    // the one driver footprint in the repo growing linearly in file count.)
    val aff = affected.withColumn("__file", input_file_name())
    val kept = antiSemi(aff, "left_anti")
    val tbh = broadcast(tomb.withColumn("__hit", lit(1)))
    val perDir = aff
      .join(tbh, joinCols.map(c => aff(c) <=> tbh(c)).reduce(_ && _), "left")
      .withColumn("__dir", regexp_replace(col("__file"), "/[^/]*$", ""))
      .groupBy("__dir")
      .agg(count(lit(1)).as("total"), count(col("__hit")).as("hits"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val keptDirs = perDir.collect { case (d, (t, h)) if h < t => d }.toSet
    val emptiedDirs = perDir.keySet -- keptDirs
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(lakeRoot), spark.sparkContext.hadoopConfiguration)
    // input_file_name() is a percent-encoded URI; Path(String) takes names
    // literally, so decode through java.net.URI or the delete misses any
    // dir with escaped characters
    def dropDir(d: String): Unit =
      fs.delete(new org.apache.hadoop.fs.Path(new java.net.URI(d)), true)
    if (keptDirs.isEmpty) {
      // every touched partition lost all rows: nothing to rewrite (an empty
      // staging dir would not even be re-readable) — drop the directories
      emptiedDirs.foreach(dropDir)
    } else {
      val staging = lakeRoot.stripSuffix("/") + "__purge_staging_" +
        java.util.UUID.randomUUID().toString
      kept.drop("__file").write.mode("overwrite").parquet(staging)
      try {
        // per-WRITE dynamic overwrite — same thread-safety reasoning as
        // upsertPartitioned (no session-global flag to race on)
        spark.read.parquet(staging)
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy(partCol).parquet(lakeRoot)
        emptiedDirs.foreach(dropDir)
      } finally fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    }
    // right-to-be-forgotten must not fail quietly: prove no tombstoned key
    // survived (cheap — touched partitions only, tombstones broadcast)
    val survivors =
      if (fs.listStatus(new org.apache.hadoop.fs.Path(lakeRoot))
            .exists(s => s.isDirectory && s.getPath.getName.contains("=")))
        antiSemi(affected, "left_semi").count()
      else 0L
    require(survivors == 0L,
      s"purgeKeys: $survivors tombstoned rows survived the purge under $lakeRoot")
  }
}
