package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.engine.{Ivm, TxTable}

/** Operations that run under tuned conf must leave their caller's session
  * conf exactly as it was, during the run and after it. */
class ConfIsolationSpec extends SparkFunSuite {
  import spark.implicits._

  test("an IVM refresh never changes the caller's conf (two threads, one session)") {
    val tmp = Files.createTempDirectory("conf_iso_ivm").toString
    val (root, view) = (s"$tmp/fact", s"$tmp/view")
    val v1 = TxTable.commitMerge(spark, root,
      Seq((1L, 10.0, "u1"), (2L, 5.0, "u1"), (3L, 7.0, "u2")).toDF("id", "x", "u"),
      Seq("id"), Seq("x"), Seq("u"), cdf = true)
    ConfSampler.assertNoDrift(spark,
      Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions"),
      "an IVM refresh") {
      Ivm.refreshSumCount(spark, root, view, 0L, v1, "u", "x")
    }
    val got = TxTable.read(spark, view)
      .select(col("u"), col("n"), col("sum").cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(got === Seq(("u1", 2L, 15.0), ("u2", 1L, 7.0)))
  }

  test("q_tx_stats_sidecar keeps the caller's own statsInlineMax") {
    // the query forces a zero inline-stats budget for its own commits; the
    // caller's value must hold throughout and afterwards
    val key = "spark.graft.tx.statsInlineMax"
    val dir = Files.createTempDirectory("conf_iso_sidecar").toString
    spark.range(1, 301)
      .select(col("id").as("o_orderkey"), (col("id") * 1.5).as("o_totalprice"))
      .write.parquet(s"$dir/orders.parquet")
    val s = spark.newSession()
    s.conf.set(key, "100000")
    val n = ConfSampler.assertNoDrift(s, Seq(key), "q_tx_stats_sidecar") {
      SparkEntry.queries("q_tx_stats_sidecar")(s, dir).collect().head.getLong(0)
    }
    assert(n === 100L) // keys (100, 200]: the middle third
    assert(s.conf.get(key) === "100000")
  }
}
