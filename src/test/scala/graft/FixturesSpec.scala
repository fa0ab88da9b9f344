package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.queries.Fixtures

/** Fixture-drift tripwire: if the driver regenerates /root/testdata with a
  * changed schema, fail HERE with the table name — not as dozens of opaque
  * query errors (round 8 lost 28 correctness rows to a silent events
  * ts-type change from TIMESTAMP(NANOS) to timestamp[us]). */
class FixturesSpec extends SparkFunSuite {
  private val dir = "/root/testdata/sf0.001"

  test("every driver fixture table reads with a non-empty schema") {
    for (n <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")) {
      val df =
        try Fixtures.table(spark, dir, n)
        catch { case scala.util.control.NonFatal(e) =>
          fail(s"fixture table '$n' unreadable (driver fixture drift?): ${e.getMessage}")
        }
      assert(df.schema.nonEmpty, s"fixture '$n' has an empty schema")
    }
  }

  test("events dispatch: a BIGINT nanos ts goes through the div-1000 shim") {
    // the TIMESTAMP(NANOS) generation of the fixture surfaces ts as BIGINT
    // under nanosAsLong; the on-disk fixture is currently timestamp[us],
    // so pin the long branch against a synthesized table
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("fx_nanos").toString
    Seq((1L, 1700000000123456000L), (2L, 1700000000987654000L))
      .toDF("event_id", "ts").write.parquet(s"$tmp/events.parquet")
    val df = Fixtures.events(spark, tmp)
    assert(df.schema("ts").dataType === TimestampType)
    val got = df.orderBy("event_id")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0))
    assert(got.toSeq === Seq(1700000000123456L, 1700000000987654L),
      "nanos → µs must be lossless integer division")
  }

  test("every engine base frame analyzes; events.ts normalizes to TIMESTAMP") {
    val bases: Seq[(String, () => DataFrame)] = Seq(
      "events" -> (() => Fixtures.events(spark, dir)),
      "stage" -> (() => Fixtures.stage(spark, dir)),
      "production" -> (() => Fixtures.production(spark, dir)),
      "harvest" -> (() => Fixtures.harvest(spark, dir)))
    for ((n, f) <- bases) {
      val df =
        try { val d = f(); d.queryExecution.analyzed; d }
        catch { case scala.util.control.NonFatal(e) =>
          fail(s"base frame '$n' fails analysis (driver fixture drift? " +
            s"check $dir vs Fixtures.scala): ${e.getMessage}")
        }
      if (n == "events")
        assert(df.schema("ts").dataType === TimestampType,
          s"events.ts must normalize to TIMESTAMP whatever the fixture's " +
            s"physical type; got ${df.schema("ts").dataType}")
    }
  }

  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Writes `df` as ONE parquet file at `dest` (a file, not the directory
    * Spark writes): the part file of a one-partition write is moved there,
    * replacing what `dest` held. */
  private def writeSingleFile(df: DataFrame, dest: String): Unit = {
    val out = java.nio.file.Files.createTempDirectory("fx_part")
    df.coalesce(1).write.mode("overwrite").parquet(out.toString)
    val part = out.toFile.listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dest),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  test("single-file table: the footer schema is memoized until the file changes") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("fx_memo").toString
    writeSingleFile(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), s"$tmp/t.parquet")
    assert(new java.io.File(s"$tmp/t.parquet").isFile)
    val first = Fixtures.table(spark, tmp, "t")
    assert(first.schema.fieldNames.toSeq === Seq("k", "v"))
    var again: DataFrame = null
    val jobs = ExchangeCensus.countJobs(spark) { again = Fixtures.table(spark, tmp, "t") }
    assert(jobs === 0, "a repeated open of an unchanged file must not re-infer its schema")
    assert(again.orderBy("k").collect().map(_.getString(1)).toSeq === Seq("a", "b"))

    // a rewrite with another schema moves the file's length: re-inferred
    writeSingleFile(Seq((1L, 2.5, "x", true)).toDF("k", "score", "label", "flag"),
      s"$tmp/t.parquet")
    val rewritten = Fixtures.table(spark, tmp, "t")
    assert(rewritten.schema.fieldNames.toSeq === Seq("k", "score", "label", "flag"))
    assert(rewritten.collect().map(_.getString(2)).toSeq === Seq("x"))
  }

  test("single-file table: a parquet conf change re-infers (events nanos branch)") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.functions._
    // the TIMESTAMP(NANOS) generation of the events fixture, as one file
    val tmp = java.nio.file.Files.createTempDirectory("fx_memo_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = new org.apache.hadoop.conf.Configuration()
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$tmp/events.parquet"))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq(1L -> 1700000000123456000L, 2L -> 1700000000987654000L).foreach { case (id, ts) =>
      w.write(groups.newGroup().append("event_id", id).append("ts", ts))
    } finally w.close()

    val ss = spark.newSession()
    ss.conf.set(NanosKey, "true")
    assert(Fixtures.table(ss, tmp, "events").schema("ts").dataType === LongType)
    // a stale hit would hand back BIGINT; re-inferring rejects the type
    ss.conf.set(NanosKey, "false")
    intercept[Exception](Fixtures.table(ss, tmp, "events"))
    ss.conf.unset(NanosKey)
    val df = Fixtures.events(ss, tmp)
    assert(ss.conf.get(NanosKey) === "true")
    assert(df.schema("ts").dataType === TimestampType)
    val got = df.orderBy("event_id")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0))
    assert(got.toSeq === Seq(1700000000123456L, 1700000000987654L))
  }

  test("directory table: reads exactly as read.parquet, inferring on every open") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("fx_memo_dir").toString
    val path = s"$tmp/d.parquet"
    Seq((1L, "a")).toDF("k", "v").write.parquet(path)
    assert(Fixtures.table(spark, tmp, "d").schema === spark.read.parquet(path).schema)
    val jobs = ExchangeCensus.countJobs(spark) { Fixtures.table(spark, tmp, "d"); () }
    assert(jobs >= 1, "a directory is not memoized: each open infers its schema")
    Seq((1L, 2.5)).toDF("k", "score").write.mode("overwrite").parquet(path)
    assert(Fixtures.table(spark, tmp, "d").schema.fieldNames.toSeq === Seq("k", "score"))
  }

  test("q_aqe_skew engages its skew split whatever the caller's shuffle width") {
    // skew is judged against the MEDIAN post-shuffle partition: at 2
    // partitions the hot one is itself the median and can never be 2x it.
    // The query derives its own session, which starts from the context's
    // width (2 in this suite), not from its caller's runtime conf
    val q = graft.queries.Catalog.all.find(_.name == "q_aqe_skew").get
    val missed = Seq(2, 8).filterNot { width =>
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", width.toString)
      try { assert(q.fn(ss, dir).count() === 10); true }
      catch { case _: IllegalArgumentException => false } // its skew=true gate
    }
    assert(missed.isEmpty, s"no skew split at $missed shuffle partitions")
  }
}
