package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Warm reruns reuse their generated classes.  The codegen cache is
  * JVM-global and sized once, from the first session that generates code;
  * at Spark's default of 100 entries, queries that together generate more
  * classes than that evict each other, and every rerun recompiles. */
class CodegenCacheSpec extends SparkFunSuite {
  private val dir = "/root/testdata/sf0.001"

  test("a second pass over three catalog queries compiles no class") {
    // AQE plans each stage as the stages before it finish, so a rerun may
    // number its codegen stages in another order and generate the same
    // class under another name; static plans make the count exact
    val ss = spark.newSession()
    ss.conf.set("spark.sql.adaptive.enabled", "false")
    // about 190 distinct generated classes between them
    val names = Seq("q_dedup_best", "q_pagerank", "q_spearman")
    def pass(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      names.foreach(n => SparkEntry.queries(n)(ss, dir).collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val cold = pass()
    assert(cold > 0)
    assert(pass() === 0, s"the warm pass recompiled (the cold pass compiled $cold)")
  }
}
