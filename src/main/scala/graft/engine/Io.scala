package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Sources and sinks (SURVEY §2.1).
  *
  * The reference stores Parquet under a path-by-convention lake
  * (`processed/{state}/{species}/{domain}/[{season}/]{year}/file.parquet`,
  * ref `src/etl/ingest_harvest_data.py:108-129`) and scans it back with a
  * multi-file glob (`sql/load/load_population_stage.sql:20`).  Spark-first we
  * make the path segments *real partition columns* (`partitionBy`), which buys
  * Hive-style partition pruning on every downstream filter — at 100 TB the
  * difference between scanning one `(state,species,year)` leaf and scanning
  * the world.
  */
object Tables {
  /** Fixture reader: one parquet file per table (TESTDATA.md). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Production-path reader: explicit schema (never inferred — SURVEY §1.2),
    * so the scan skips footer merging across thousands of files. */
  def tableWithSchema(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** S6 — multi-file glob scan (ref `load_population_stage.sql:20`).
    * `mergeSchema` tolerates drift across years the way DuckDB's
    * `read_parquet(glob)` schema-unions. */
  def globScan(spark: SparkSession, glob: String, mergeSchema: Boolean = false): DataFrame =
    spark.read.option("mergeSchema", mergeSchema.toString).parquet(glob)

  /** S7 — schema probe: footer-only, no data read
    * (ref `bad_parquet.py:21-24` does `LIMIT 1`; the footer is cheaper). */
  def probeSchema(spark: SparkSession, path: String): StructType =
    spark.read.parquet(path).schema

  /** S5 — partitioned Parquet sink (ref `ingest_harvest_data.py:108-129`).
    * Partition values become directory keys → partition pruning for free. */
  def writePartitioned(df: DataFrame, root: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(root)

  /** S9 — full-refresh sink: overwrite ≡ the reference's DELETE+INSERT
    * (ref `load_population_stage.sql:1-20`). */
  def writeFullRefresh(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Lake compaction: rewrite `path` into ≈`targetBytes`-sized files.
    * Small-file proliferation is the classic incremental-lake failure mode —
    * every micro-batch leaves a few files until listing and task scheduling
    * dominate query time; at 100 TB compaction is a scheduled maintenance
    * op, not a luxury.  Sizes the rewrite from the CURRENT byte count
    * (ceil(bytes/target) output files), stages to a sibling directory, then
    * swaps via rename-aside: old → backup, staging → canonical, delete
    * backup.  Renames are metadata ops; a crash between any two steps
    * leaves EITHER the old or the new data at a live path (old at the
    * backup path, new at staging or canonical) — never a window where the
    * data exists only as deleted blocks.  Still not an atomic swap for
    * concurrent READERS (a racing lister can catch the gap between the two
    * renames): run it in the same scheduler slot as the writers it
    * compacts, or use [[TxTable]] — the manifest-swap log whose
    * [[TxTable.compactTx]] gives readers snapshot isolation through the
    * swap.  Returns the output file count. */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val suffix = java.util.UUID.randomUUID().toString
    val tmp = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "__compact_" + suffix)
    val bak = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "__precompact_" + suffix)
    spark.read.parquet(path).repartition(n).write.parquet(tmp.toString)
    // rename old ASIDE first (not delete): failure at any step below leaves
    // the previous data recoverable at a named path — say where in the error.
    if (!fs.rename(p, bak))
      throw new java.io.IOException(
        s"compact: failed to move $path aside to $bak; original intact, rewrite staged at $tmp")
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(
        s"compact: failed to rename $tmp to $path; original preserved at $bak")
    if (!fs.delete(bak, true))
      throw new java.io.IOException(
        s"compact: swap complete but failed to delete backup $bak; remove it manually")
    n
  }

  /** Sort-ordered lake write (data-skipping layout): range-partition on
    * `sortCols` then sort within partitions before writing.  Every parquet
    * file/row-group then covers a NARROW, pairwise-DISJOINT slice of the
    * sort-key space, so its footer min/max statistics let a point or range
    * filter skip whole files without reading a data page — at 100 TB the
    * difference between touching ~1/n of the lake and all of it for the
    * lake's dominant access key.  (The single-column analogue of Z-ordering;
    * compose with `writePartitioned` — partition prune on the coarse key,
    * stat-skip on the fine one.)  `repartitionByRange` samples the key
    * distribution, so file sizes stay balanced under skew — unlike hash
    * bucketing, which preserves collision skew, and unlike a global sort,
    * which this is NOT (no total order across files is promised, only
    * disjoint ranges — exactly what stats-skipping needs).  IoSpec asserts
    * the disjointness from the written footers. */
  def writeSorted(df: DataFrame, path: String, nFiles: Int,
                  sortCols: Seq[String]): Unit = {
    val cols = sortCols.map(org.apache.spark.sql.functions.col)
    df.repartitionByRange(nFiles, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** S11 — S3 credential plumbing (ref `src/db/load_duckdb_data.py:8-20`):
    * the reference copies boto-session credentials into DuckDB's httpfs S3
    * settings; the Spark equivalent is `fs.s3a.*` Hadoop configuration on
    * the active context, after which `spark.read.parquet("s3a://…")` and
    * every sink here work against object storage unchanged.  Pure
    * configuration — nothing in this build environment can reach S3, so the
    * helper is compile-checked and conf-asserted (IoSpec) only. */
  def withS3A(spark: SparkSession, accessKey: String, secretKey: String,
              endpoint: Option[String] = None,
              region: Option[String] = None): SparkSession = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.access.key", accessKey)
    hc.set("fs.s3a.secret.key", secretKey)
    endpoint.foreach(hc.set("fs.s3a.endpoint", _))
    region.foreach(hc.set("fs.s3a.endpoint.region", _))
    spark
  }

  /** Generation-versioned lake (time-travel-lite): each publish lands in a
    * fresh `gen=N` directory; readers pin a generation or take the latest.
    * What a transaction-log table format gives you, reduced to the piece
    * reproducible with directories alone: immutable snapshots + as-of
    * reads (no atomic commit across writers, no vacuum policy — the log IS
    * the directory listing).  Reproducibility is the point at 100 TB:
    * "train against gen=17" keeps meaning the same bytes while publishing
    * continues.  Old generations are retired explicitly (delete `gen=K`
    * dirs after their retention window) — storage cost is per-snapshot,
    * so publishers snapshot at checkpoint cadence, not per micro-batch. */
  def writeGeneration(df: DataFrame, root: String): Int = {
    val next = listGenerations(df.sparkSession, root).lastOption.getOrElse(0) + 1
    df.write.mode("errorifexists").parquet(s"${root.stripSuffix("/")}/gen=$next")
    next
  }

  /** Generations present under `root`, ascending. */
  def listGenerations(spark: SparkSession, root: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("gen=") => n.stripPrefix("gen=").toInt }
      .sorted
  }

  /** Read the newest generation ≤ `asOf` (latest when None).  Fails loudly
    * on an empty lake or an as-of older than every snapshot — silently
    * reading nothing would poison downstream joins. */
  def readGeneration(spark: SparkSession, root: String,
                     asOf: Option[Int] = None): DataFrame = {
    val gens = listGenerations(spark, root)
    val pick = asOf.fold(gens.lastOption)(g => gens.filter(_ <= g).lastOption)
    require(pick.isDefined,
      s"readGeneration: no generation ${asOf.fold("")(g => s"<= $g ")}under $root (have: $gens)")
    spark.read.parquet(s"${root.stripSuffix("/")}/gen=${pick.get}")
  }

  /** Z-ordered lake write: range-partition + sort on the Morton key
    * ([[ZOrder.interleaveBits]]) of the low `bits` bits of two
    * non-negative integer filter columns (rank-compress wider ones first).
    * A query constraining BOTH columns to a small box then overlaps only
    * the few files whose bounding boxes
    * meet the box — IoSpec measures the skip rate against [[writeSorted]]'s
    * single-column layout on the same data.  Same mechanics as
    * `writeSorted` otherwise: balanced file sizes via range sampling, no
    * global order promised, stats do the skipping. */
  def writeZOrder(df: DataFrame, path: String, nFiles: Int,
                  colA: String, colB: String, bits: Int = 16): Unit = {
    import org.apache.spark.sql.functions.col
    df.withColumn("__z", ZOrder.interleaveBits(col(colA), col(colB), bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Bucketed catalog table: rows hash-partitioned into `n` buckets on
    * `bucketCol` at write time, sorted within buckets.  Two tables bucketed
    * the same way join WITHOUT a shuffle — at 100 TB this turns the
    * recurring fact⋈fact join's exchange (the single largest cost in a
    * repeated pipeline) into a metadata property paid once at ingest. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, n: Int): Unit = {
    val spark = df.sparkSession
    // idempotent across sessions: the in-memory catalog forgets tables on
    // restart but their warehouse directories persist, and CREATE TABLE
    // refuses a pre-existing location — drop both.
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val fs = org.apache.hadoop.fs.FileSystem.get(loc, spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(loc), true)
    df.write.mode("overwrite")
      .bucketBy(n, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(table)
  }
}
