package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark startup
  * dominates test wall time otherwise). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the codegen cache is sized once per JVM, from the first session
      // that generates code: this one, so tests see the engine's sizing
      .config("spark.sql.codegen.cache.maxEntries",
        GraftSession.recommendedConf.toMap.apply("spark.sql.codegen.cache.maxEntries"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkFunSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
}

/** Seed-set selector for the randomized model/fuzz suites: default runs use
  * each suite's two committed seeds; `sbt -Dgraft.fuzz.extended=1 test`
  * APPENDS a derived disjoint seed per committed one (s*1000+9), doubling
  * the history count for reproducible extended coverage without touching
  * default CI time.  The derivation is deterministic, so an extended
  * failure names a replayable seed like any other. */
object FuzzSeeds {
  // Test JVMs are FORKED (build.sbt `Test / fork := true`), so an `-D` on
  // the sbt command line never reaches them — the env var does (forked
  // JVMs inherit the environment): `GRAFT_FUZZ_EXTENDED=1 sbt test`.
  val extended: Boolean =
    (sys.props.get("graft.fuzz.extended") orElse sys.env.get("GRAFT_FUZZ_EXTENDED"))
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
  def seeds(default: Long*): Seq[Long] =
    if (extended) default.toSeq ++ default.map(_ * 1000 + 9) else default.toSeq
}
