package graft.queries

import java.io.FileNotFoundException

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{Clean, Relational, Upsert}

/** Deterministic reference-shaped frames synthesized from the driver fixtures
  * (TESTDATA.md), each with a DuckDB SQL mirror so the oracle sees
  * bit-identical inputs.
  *
  * The synthesized `population_stage` mimics
  * `/root/reference/sql/create/create_population_stage.sql:1-9`, including
  * dirty `gmu_list` rows ("see map", semicolons) that the P3 regex gate
  * (`load_population_production.sql:28`) must reject, NULL `herd_name`s for
  * the upsert-preserve path, and negative balances for signed coercion.
  *
  * Cross-engine determinism rules used throughout (see also Catalog):
  *  - element-wise double arithmetic only (IEEE ops on identical operands are
  *    identical in both engines); sums go through DECIMAL(38,6);
  *  - `FLOOR` before any double→integer cast (DuckDB CAST rounds, Spark
  *    truncates);
  *  - every query orders its output totally, with DuckDB `NULLS FIRST` added
  *    wherever a nullable column is sorted ascending (Spark's default).
  */
object Fixtures {

  /** Opens fixture table `name` under `dir`: the single point where catalog
    * queries read their inputs.
    *
    * A parquet read infers its schema by reading footers in a Spark job, and
    * the catalog opens the same unchanging fixture files again and again, so
    * for a SINGLE-FILE path the inferred schema is memoized and passed back
    * with `read.schema(...)`, and a repeated open launches no job.  The memo
    * key is the file's qualified path, length and modification time plus
    * every session conf whose key contains `parquet`, sorted.  A hit is
    * safe because the schema is a function of the footer and of those
    * confs alone: the footer is part of the file's bytes, a rewrite of
    * which stamps a new modification time (and, with another schema,
    * almost always a new length), and every conf that changes how a footer
    * maps to a Spark schema (`spark.sql.legacy.parquet.nanosAsLong` for the
    * `events` nanos branch, `spark.sql.parquet.binaryAsString`,
    * `…int96AsTimestamp`, `…inferTimestampNTZ.enabled`) has `parquet` in
    * its key.  The memo holds
    * one small `StructType` per file version.  A directory path (a table
    * Spark wrote) or a missing one reads exactly as `read.parquet` does. */
  def table(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val file =
      try Some(p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p))
        .filter(_.isFile)
      catch { case _: FileNotFoundException => None }
    file match {
      case None => s.read.parquet(path)
      case Some(st) =>
        val confs = s.conf.getAll.filter(_._1.contains("parquet")).toSeq.sorted
        val key = FooterKey(st.getPath.toString, st.getLen, st.getModificationTime, confs)
        s.read.schema(footerSchemas.getOrElseUpdate(key, s.read.parquet(path).schema))
          .parquet(path)
    }
  }

  private final case class FooterKey(
      path: String, length: Long, modified: Long, parquetConfs: Seq[(String, String)])

  private val footerSchemas = TrieMap.empty[FooterKey, StructType]

  /** Forgets every memoized footer schema, so the next open of each file
    * infers again.  The job-count census calls it before each query, so a
    * query's count does not depend on which queries the JVM ran before. */
  private[graft] def clearFooterMemo(): Unit = footerSchemas.clear()

  /** The `events` fixture's `ts` physical type has drifted across driver
    * generations — TIMESTAMP(NANOS) in some, timestamp[us] in others — so
    * dispatch on the type the scan actually surfaces:
    *
    *  - TIMESTAMP(NANOS): Spark 4 rejects it outright ([PARQUET_TYPE_ILLEGAL])
    *    unless `spark.sql.legacy.parquet.nanosAsLong=true` (set idempotently
    *    here — this is the single choke point reading the fixture), which
    *    surfaces `ts` as BIGINT nanos. Fixture values are µs-precision, so
    *    `div 1000` is lossless — and integer division, since a double
    *    round-trip would corrupt: 1.7e18 ns exceeds 2^53.
    *  - timestamp[us] (isAdjustedToUTC=false): arrives as TIMESTAMP_NTZ;
    *    cast to session-TZ TIMESTAMP. Session TZ is pinned to UTC
    *    (GraftSession), so the cast is value-identity and matches what DuckDB
    *    reads natively for the oracle.
    *  - timestamp[us] (isAdjustedToUTC=true): already TIMESTAMP; pass through. */
  def events(s: SparkSession, dir: String): DataFrame = {
    if (!s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType      => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _             => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  private val k = col("c_custkey")

  /** `population_stage` analog over `customer` (SURVEY §1.1, FIXTURES.md A1). */
  def stage(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer").select(
      col("c_mktsegment").as("state"),
      when(k % 3 === 0, "elk").when(k % 3 === 1, "deer")
        .otherwise("pronghorn").as("species"),
      when(k % 7 === 0, lit(null).cast(StringType))
        .otherwise(concat(lit("Herd_"), (k % 50).cast(StringType))).as("herd_name"),
      floor(col("c_acctbal") * 10).cast(LongType).as("post_hunt_estimate"),
      (col("c_acctbal") / 100.0).as("male_female_ratio"),
      (lit(2020) + k % 4).cast(IntegerType).as("year"),
      when(k % 5 === 0, concat((k % 100).cast(StringType), lit(", "),
          (k % 53).cast(StringType), lit(","), (k % 7).cast(StringType)))
        .when(k % 5 === 1, (k % 100).cast(StringType))
        .when(k % 5 === 2, lit("see map"))
        .when(k % 5 === 3, concat((k % 100).cast(StringType), lit("; "),
          (k % 9).cast(StringType)))
        .otherwise(concat(lit(" "), (k % 100).cast(StringType), lit(" , "),
          (k % 11).cast(StringType), lit(" ")))
        .as("gmu_list"))

  /** DuckDB mirror of [[stage]]; a `WITH`-clause fragment. */
  val stageSql: String =
    """stage AS (SELECT
      c_mktsegment AS state,
      CASE CAST(c_custkey % 3 AS INT) WHEN 0 THEN 'elk' WHEN 1 THEN 'deer' ELSE 'pronghorn' END AS species,
      CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE 'Herd_' || CAST(c_custkey % 50 AS VARCHAR) END AS herd_name,
      CAST(FLOOR(c_acctbal * 10) AS BIGINT) AS post_hunt_estimate,
      c_acctbal / 100.0 AS male_female_ratio,
      CAST(2020 + c_custkey % 4 AS INT) AS year,
      CASE CAST(c_custkey % 5 AS INT)
        WHEN 0 THEN CAST(c_custkey % 100 AS VARCHAR) || ', ' || CAST(c_custkey % 53 AS VARCHAR) || ',' || CAST(c_custkey % 7 AS VARCHAR)
        WHEN 1 THEN CAST(c_custkey % 100 AS VARCHAR)
        WHEN 2 THEN 'see map'
        WHEN 3 THEN CAST(c_custkey % 100 AS VARCHAR) || '; ' || CAST(c_custkey % 9 AS VARCHAR)
        ELSE ' ' || CAST(c_custkey % 100 AS VARCHAR) || ' , ' || CAST(c_custkey % 11 AS VARCHAR) || ' '
      END AS gmu_list
    FROM customer)"""

  /** Stage → production: P3 regex gate + C10 split/cast + G1 explode
    * (ref `load_population_production.sql:18-29`). */
  def production(s: SparkSession, dir: String): DataFrame =
    stage(s, dir)
      .filter(Relational.numericCsvOnly(col("gmu_list")))
      .withColumn("unit", explode(Clean.csvToIntArray(col("gmu_list"))))
      .drop("gmu_list")

  val productionSql: String = stageSql + """,
    production AS (
      SELECT state, species, herd_name, post_hunt_estimate, male_female_ratio, year,
             unnest(CAST(str_split(gmu_list, ',') AS INTEGER[])) AS unit
      FROM stage WHERE regexp_matches(trim(gmu_list), '^[0-9 ,]+$'))"""

  /** Harvest analog over `customer` — deliberately the SAME key recipe as
    * [[stage]]/[[production]] (state from c_mktsegment, species/year/unit
    * from c_custkey mods), so the reference's implied population⋈harvest
    * equi-join on (state, species, year, unit)
    * (`sql/create/create_population_production.sql:9`,
    * `planning/rough-idea.md:7`) finds dense matches at every SF.
    * Aggregated to one row per key (the PK of a real harvest table). */
  def harvest(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer").select(
      col("c_mktsegment").as("state"),
      when(k % 3 === 0, "elk").when(k % 3 === 1, "deer")
        .otherwise("pronghorn").as("species"),
      (lit(2020) + k % 4).cast(IntegerType).as("year"),
      (k % 100).cast(IntegerType).as("unit"),
      (k % 500).cast(LongType).as("th"),
      (k % 80 + 1).cast(LongType).as("hu"))
    .groupBy("state", "species", "year", "unit")
    .agg(sum(col("th")).cast(LongType).as("total_harvest"),
      sum(col("hu")).cast(LongType).as("total_hunters"))

  /** DuckDB mirror of [[harvest]]; a `WITH`-clause fragment. */
  val harvestSql: String =
    """harvest AS (SELECT
      c_mktsegment AS state,
      CASE CAST(c_custkey % 3 AS INT) WHEN 0 THEN 'elk' WHEN 1 THEN 'deer' ELSE 'pronghorn' END AS species,
      CAST(2020 + c_custkey % 4 AS INT) AS year,
      CAST(c_custkey % 100 AS INT) AS unit,
      CAST(SUM(c_custkey % 500) AS BIGINT) AS total_harvest,
      CAST(SUM(c_custkey % 80 + 1) AS BIGINT) AS total_hunters
    FROM customer GROUP BY 1, 2, 3, 4)"""

  val prodKeys: Seq[String] = Seq("state", "species", "year", "unit")
  val prodCols: Seq[String] =
    Seq("state", "species", "herd_name", "post_hunt_estimate", "male_female_ratio", "year", "unit")

  /** Production deduped to the primary key (the PK-as-dedup-invariant of
    * `create_population_production.sql:9`) under a total order. */
  def dedupedProduction(s: SparkSession, dir: String): DataFrame =
    Upsert.dedupLastWins(production(s, dir), prodKeys,
      Seq(col("post_hunt_estimate").desc, col("male_female_ratio").desc,
        col("herd_name").desc_nulls_last))

  val dedupedSql: String = productionSql + """,
    deduped AS (
      SELECT state, species, herd_name, post_hunt_estimate, male_female_ratio, year, unit
      FROM (SELECT *, row_number() OVER (PARTITION BY state, species, year, unit
              ORDER BY post_hunt_estimate DESC, male_female_ratio DESC, herd_name DESC) AS __rn
            FROM production)
      WHERE __rn = 1)"""
}
