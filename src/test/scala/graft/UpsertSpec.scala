package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.engine.Upsert

/** S10 — upsert semantics vs the reference's ON CONFLICT DO UPDATE
  * (`load_population_production.sql:30-32`). */
class UpsertSpec extends SparkFunSuite {
  import spark.implicits._

  private val keys = Seq("state", "year")

  private def existing = Seq(
    ("co", 2020, 100L, Option("old_herd")),
    ("co", 2021, 200L, None),
    ("wy", 2020, 300L, Option("wy_herd"))
  ).toDF("state", "year", "estimate", "herd")

  test("upsert: update cols take incoming, preserve cols keep existing, inserts pass through") {
    val incoming = Seq(
      ("co", 2020, 111L, Option("new_herd")), // conflict: estimate updates, herd preserved
      ("mt", 2022, 400L, Option("mt_herd"))   // insert
    ).toDF("state", "year", "estimate", "herd")
    val out = Upsert.upsert(existing, incoming, keys, Seq("estimate"), Seq("herd"))
      .orderBy("state", "year").collect()
    assert(out.length === 4)
    val co2020 = out.find(r => r.getString(0) == "co" && r.getInt(1) == 2020).get
    assert(co2020.getLong(2) === 111L)          // EXCLUDED wins
    assert(co2020.getString(3) === "old_herd")  // preserved
    val mt = out.find(r => r.getString(0) == "mt").get
    assert(mt.getLong(2) === 400L && mt.getString(3) === "mt_herd") // insert keeps incoming herd
  }

  test("upsert: incoming NULL overwrites on conflict (EXCLUDED semantics, not coalesce)") {
    val incoming = Seq(("co", 2020, Option.empty[Long], Option("x")))
      .toDF("state", "year", "estimate", "herd")
    val out = Upsert.upsert(existing, incoming, keys, Seq("estimate"), Seq("herd"))
    val co2020 = out.filter($"state" === "co" && $"year" === 2020).head()
    assert(co2020.isNullAt(out.columns.indexOf("estimate"))) // NULL won
  }

  test("upsert: NULL existing preserve-col stays NULL on conflict") {
    val incoming = Seq(("co", 2021, 999L, Option("should_not_win")))
      .toDF("state", "year", "estimate", "herd")
    val out = Upsert.upsert(existing, incoming, keys, Seq("estimate"), Seq("herd"))
    val co2021 = out.filter($"state" === "co" && $"year" === 2021).head()
    assert(co2021.getLong(out.columns.indexOf("estimate")) === 999L)
    assert(co2021.isNullAt(out.columns.indexOf("herd"))) // not updated on conflict
  }

  test("upsert is idempotent: upsert(upsert(t, d), d) == upsert(t, d)") {
    val incoming = Seq(("co", 2020, 111L, Option("h")), ("mt", 2022, 4L, None))
      .toDF("state", "year", "estimate", "herd")
    val once = Upsert.upsert(existing, incoming, keys, Seq("estimate"), Seq("herd"))
    val twice = Upsert.upsert(once, incoming, keys, Seq("estimate"), Seq("herd"))
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }

  test("dedupLastWins keeps exactly one row per key under the given order") {
    val df = Seq(("co", 2020, 1L), ("co", 2020, 9L), ("co", 2021, 5L))
      .toDF("state", "year", "estimate")
    val out = Upsert.dedupLastWins(df, Seq("state", "year"), "estimate")
      .orderBy("year").collect()
    assert(out.map(_.getLong(2)).toSeq === Seq(9L, 5L))
  }

  test("upsertPartitioned rewrites only touched partitions (staging-path regression)") {
    val lake = Files.createTempDirectory("upsert_lake").toString
    existing.write.mode("overwrite").partitionBy("year").parquet(lake)
    val untouched2021 = spark.read.parquet(lake).filter($"year" === 2021)
      .select("state", "estimate", "herd", "year").collect().toSeq
    val incoming = Seq(("co", 2020, 777L, Option("ignored")))
      .toDF("state", "year", "estimate", "herd")
    // this previously threw 'Cannot overwrite a path that is also being read from'
    Upsert.upsertPartitioned(spark, lake, incoming, keys, Seq("estimate"), Seq("herd"), "year")
    val after = spark.read.parquet(lake)
    assert(after.filter($"state" === "co" && $"year" === 2020).head()
      .getLong(after.columns.indexOf("estimate")) === 777L)
    // untouched partition bit-identical
    val after2021 = after.filter($"year" === 2021)
      .select("state", "estimate", "herd", "year").collect().toSeq
    assert(after2021 === untouched2021)
    // conf restored to its pre-call value (the STATIC default)
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .forall(_.equalsIgnoreCase("static")))
    // staging dir cleaned up
    assert(!new java.io.File(lake.stripSuffix("/") + "__upsert_staging").exists())
  }

  test("upsertPartitioned crash contract: a failed swap loses no rows and the " +
    "next call settles the lake") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.upsertfault.impl", classOf[UpsertFaultFs].getName)
    val dir = Files.createTempDirectory("upsert_crash").toString
    val lake = s"upsertfault://$dir/lake"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("state", "year", "estimate", "herd")
        .as[(String, Int, Long, Option[String])].collect().toSet
    def asides() = new java.io.File(s"$dir/lake").listFiles
      .filter(_.getName.startsWith("_upsert_aside_")).toSeq
    def run(batch: org.apache.spark.sql.DataFrame): Unit =
      Upsert.upsertPartitioned(spark, lake, batch, keys, Seq("estimate"), Seq("herd"), "year")
    def model(before: Set[(String, Int, Long, Option[String])],
              batch: org.apache.spark.sql.DataFrame) =
      rows(Upsert.upsert(before.toSeq.toDF("state", "year", "estimate", "herd"),
        batch, keys, Seq("estimate"), Seq("herd")))
    existing.write.partitionBy("year").parquet(lake)
    val before = rows(spark.read.parquet(lake))
    val batch = Seq(("co", 2020, 777L, Option("x")), ("co", 2021, 888L, Option("y")))
      .toDF("state", "year", "estimate", "herd")

    // 1. the rename that swaps a staged partition in fails after its live
    //    partition was moved aside
    UpsertFaultFs.arm { case ("rename", src, dst) =>
      src.toString.contains("__upsert_staging_") && !dst.toString.contains("__upsert_staging_")
    }
    intercept[java.io.IOException](run(batch))
    val Seq(aside) = asides()
    val Seq(moved) = aside.listFiles.toSeq
    val live = spark.read.parquet(lake)
    assert(live.filter($"year" === moved.getName.stripPrefix("year=").toInt).isEmpty,
      "the moved-aside partition is invisible to readers")
    val asideRows = spark.read.option("basePath", s"upsertfault://${aside.getPath}")
      .parquet(s"upsertfault://${moved.getPath}")
    assert(rows(live) ++ rows(asideRows) === before, "no row is lost")
    assert(!new java.io.File(dir).list().exists(_.contains("__upsert_staging_")))
    // the next call restores the aside partition first, then applies its batch
    run(batch)
    assert(asides().isEmpty)
    assert(rows(spark.read.parquet(lake)) === model(before, batch))

    // 2. the aside copy's delete fails after the swap-in succeeded: the
    //    next call drops the stale copy rather than restoring it
    val afterFirst = rows(spark.read.parquet(lake))
    val batch2 = Seq(("wy", 2020, 999L, Option("z"))).toDF("state", "year", "estimate", "herd")
    UpsertFaultFs.arm { case ("delete", p, _) => p.getName.startsWith("_upsert_aside_") }
    intercept[java.io.IOException](run(batch2))
    assert(asides().size === 1)
    assert(rows(spark.read.parquet(lake)) === model(afterFirst, batch2))
    val batch3 = Seq(("mt", 2022, 5L, Option("m"))).toDF("state", "year", "estimate", "herd")
    run(batch3)
    assert(asides().isEmpty)
    assert(rows(spark.read.parquet(lake)) === model(model(afterFirst, batch2), batch3))
  }

  test("scd2 closes open versions of updated keys, appends new, keeps history immutable") {
    val existing = Seq(
      ("co", 1, "old-a", 0L, Some(50L)),            // closed history row
      ("co", 1, "cur-a", 50L, None: Option[Long]),  // open, key arrives in batch
      ("wy", 2, "cur-b", 0L, None: Option[Long])    // open, untouched
    ).toDF("state", "unit", "herd", "valid_from", "valid_to")
    val incoming = Seq(("co", 1, "new-a")).toDF("state", "unit", "herd")
    val out = Upsert.scd2(existing, incoming, Seq("state", "unit"), Seq("herd"), 100L)
      .orderBy("state", "unit", "valid_from").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))
    assert(out.toSeq === Seq(
      ("co", 1, "old-a", 0L, 50L),    // immutable
      ("co", 1, "cur-a", 50L, 100L),  // closed by the batch
      ("co", 1, "new-a", 100L, -1L),  // new open version
      ("wy", 2, "cur-b", 0L, -1L)))   // still open
  }

  test("applyChangelog: latest change wins per key — D drops, U replaces, I inserts") {
    import org.apache.spark.sql.functions.col
    val snap = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
    val changes = Seq(
      (1L, "x1", "U", 1), // plain update
      (2L, "x2", "U", 1), (2L, "-", "D", 2),  // update then delete -> gone
      (3L, "-", "D", 1), (3L, "x3", "U", 2),  // delete then update -> lives
      (9L, "new", "I", 1)                     // insert of an absent key
    ).toDF("k", "v", "op", "ord")
    val got = Upsert.applyChangelog(snap, changes, Seq("k"), Seq("v"), "op", "ord")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "x1"), (3L, "x3"), (4L, "d"), (9L, "new")))
  }

  test("purgeKeys removes tombstoned keys, drops emptied partitions, idempotent") {
    import org.apache.spark.sql.functions.col
    val lake = java.nio.file.Files.createTempDirectory("purge_spec").toString + "/lake"
    Seq((1L, 1, "a"), (2L, 1, "b"), (3L, 2, "c"), (4L, 2, "d"), (5L, 3, "e"))
      .toDF("k", "p", "v").write.partitionBy("p").parquet(lake)
    val tomb = Seq((1L, 1), (3L, 2), (4L, 2)).toDF("k", "p")
    def purge(): Unit = Upsert.purgeKeys(spark, lake, tomb, Seq("k"), "p")
    purge()
    val got = spark.read.parquet(lake).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((2L, "b"), (5L, "e")), "only untombstoned rows survive")
    assert(!new java.io.File(s"$lake/p=2").exists(),
      "a partition losing every row must be deleted, not silently kept")
    assert(new java.io.File(s"$lake/p=3").exists(), "untouched partitions stay")
    purge() // same tombstones again: converged state must not change
    assert(spark.read.parquet(lake).count() === 2)
  }

  test("purgeKeys handles Hive-escaped partition values and NULL partitions") {
    val lake = java.nio.file.Files.createTempDirectory("purge_esc").toString + "/lake"
    // ':' is Hive-escaped in the directory name (p=a b%3Ac); NULL lands in
    // __HIVE_DEFAULT_PARTITION__ — a raw s"p=$v" delete misses both
    Seq((1L, "a b:c", "x"), (2L, "a b:c", "y"), (3L, null, "z"), (4L, "plain", "w"))
      .toDF("k", "p", "v").write.partitionBy("p").parquet(lake)
    val tomb = Seq((1L, "a b:c"), (2L, "a b:c"), (3L, null)).toDF("k", "p")
    Upsert.purgeKeys(spark, lake, tomb, Seq("k"), "p")
    val got = spark.read.parquet(lake).select("k").collect().map(_.getLong(0)).toSet
    assert(got === Set(4L), "escaped + null partitions must actually purge")
    val dirs = new java.io.File(lake).listFiles.filter(_.isDirectory).map(_.getName).toSet
    assert(!dirs.exists(_.contains("%3A")), "escaped emptied dir must be deleted")
    assert(!dirs.contains("__HIVE_DEFAULT_PARTITION__"),
      "null-partition emptied dir must be deleted")
  }

  test("purgeKeys: many files per partition — kept/emptied decided at directory grain") {
    import org.apache.spark.sql.functions.col
    val lake = java.nio.file.Files.createTempDirectory("purge_many").toString + "/lake"
    // p=1: 6 rows spread over several files, 3 keys tombstoned — SOME files
    // may be 100% hit, but the DIRECTORY keeps rows → must be rewritten,
    // never dropped (the hazard of deciding emptiness per file); p=2: every
    // row in every file tombstoned → dropped; p=3 untouched.
    val rows = (1L to 6L).map(k => (k, 1, s"a$k")) ++
      (7L to 10L).map(k => (k, 2, s"b$k")) ++ Seq((11L, 3, "c"))
    rows.toDF("k", "p", "v").repartition(3, col("k"))
      .write.partitionBy("p").parquet(lake)
    assert(new java.io.File(s"$lake/p=1").listFiles
        .count(_.getName.endsWith(".parquet")) > 1,
      "fixture must actually have multiple files per partition")
    val tomb = (Seq(1L, 2L, 3L).map((_, 1)) ++ (7L to 10L).map((_, 2)))
      .toDF("k", "p")
    Upsert.purgeKeys(spark, lake, tomb, Seq("k"), "p")
    val got = spark.read.parquet(lake).select("k").collect().map(_.getLong(0)).toSet
    assert(got === Set(4L, 5L, 6L, 11L), "exact survivor set across file layouts")
    assert(new java.io.File(s"$lake/p=1").exists(),
      "a partition that keeps rows must survive even if one of its files was fully hit")
    assert(!new java.io.File(s"$lake/p=2").exists(),
      "a partition emptied across ALL its files must be dropped")
  }
}

/** The local filesystem under the `upsertfault:` test scheme, with one
  * injectable fault: the next `rename` or `delete` the armed predicate
  * matches (called with the op name and its source and destination paths)
  * throws, and the fault disarms. */
class UpsertFaultFs extends org.apache.hadoop.fs.FilterFileSystem(
    new org.apache.hadoop.fs.RawLocalFileSystem {
      override def getUri: java.net.URI = UpsertFaultFs.Uri
    }) {
  import org.apache.hadoop.fs.Path
  override def getScheme: String = UpsertFaultFs.Uri.getScheme
  override def rename(src: Path, dst: Path): Boolean = {
    UpsertFaultFs.trip("rename", src, dst)
    super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    UpsertFaultFs.trip("delete", p, p)
    super.delete(p, recursive)
  }
}

object UpsertFaultFs {
  import org.apache.hadoop.fs.Path
  val Uri: java.net.URI = java.net.URI.create("upsertfault:///")
  private var fault: PartialFunction[(String, Path, Path), Boolean] = PartialFunction.empty
  def arm(f: PartialFunction[(String, Path, Path), Boolean]): Unit = synchronized { fault = f }
  def trip(op: String, src: Path, dst: Path): Unit = synchronized {
    if (fault.applyOrElse((op, src, dst), (_: (String, Path, Path)) => false)) {
      fault = PartialFunction.empty
      throw new java.io.IOException(s"injected $op fault: $src")
    }
  }
}
