package perfbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** `analytics`: read-only catalog queries over seeded star-schema, events,
  * documents and embeddings tables (`perfbench/fixtures.py`).  Each pass
  * runs [[Analytics.Queries]] in list order; an op is one query function
  * call plus collecting its result.  Round 0's results are dumped for the
  * DuckDB oracle (`SparkEntry.oracleSql` on the same parquet, run by the
  * launcher); every later result must equal round 0's. */
final class Analytics(spark: SparkSession, dir: String, seed: Long, smoke: Boolean,
                      tracer: Tracer) extends Workload {
  import Analytics._

  /** the seeded tables `perfbench/fixtures.py` wrote before the JVM started */
  private val data = new File(dir).getParent + "/data"
  private val first = scala.collection.mutable.Map.empty[String, (StructType, Array[Row])]

  /** Round 0 is the cold pass, one run of each query.  Each later round is
    * [[PassesPerRound]] passes, which outlast the measured window, so every
    * run measures the same passes whatever the engine's speed.  The order
    * is fixed: a seeded order made the cold pass, whose first query carries
    * the JVM's warm-up, depend on the seed; the seed picks the data. */
  def round(i: Int): Seq[Op] =
    Seq.fill(if (i == 0) 1 else PassesPerRound)(Queries).flatten
      .map { case (family, name) => new Query(family, name) }

  private final class Query(family: String, name: String) extends Op(name, write = false) {
    private var schema: StructType = _
    private var got: Array[Row] = Array.empty
    override def rows: Long = got.length.toLong
    def run(): Unit = {
      val df = tracer.span(s"$family.construct") { SparkEntry.queries(name)(spark, data) }
      got = tracer.span(s"$family.action") { df.collect() }
      schema = df.schema
    }
    override def check(): Boolean = first.get(name) match {
      case None => first(name) = (schema, got); true
      case Some((_, rows)) => digest(rows) == digest(got)
    }
  }

  private def digest(rows: Array[Row]): Seq[String] = rows.map(_.toString).sorted.toSeq

  /** Dumps round 0's results and the oracle SQL for the launcher's DuckDB
    * check. */
  def finalChecks(): Seq[(String, Boolean)] = {
    val out = new File(dir).getParent + "/results"
    val oracle = SparkEntry.oracleSql
    first.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
        .write.mode("overwrite").parquet(s"$out/$name")
    }
    java.nio.file.Files.writeString(new File(s"$out/oracle_sql.json").toPath,
      Json.render(first.keys.flatMap(n => oracle.get(n).map(n -> _)).toMap))
    Seq("all_queries_ran" -> (first.size == Queries.size))
  }
}

object Analytics {
  /** Two warm passes (about 13 s on a shared 4-core machine) outlast the
    * 7 s window and give each query two steady samples. */
  val PassesPerRound = 2

  /** (family, query) — the family names the engine layer the query loads.
    * A warm pass takes about 6.5 s at these sizes.  The catalog's costlier
    * queries (q_cc_contraction at about 7 s warm alone, q_ancestors_deep at
    * about 4 s, the near-dup and semdedup families, and q_minhash_candidates
    * and q_ivf_topk at about 1.5 s warm and 2 to 3.5 s cold each) are left
    * out so the cold pass and two warm passes fit the benchmark's per-run
    * time.  q_pagerank is left out because its ranks differ from the
    * DuckDB oracle in the last digits on some seeds. */
  val Queries: Seq[(String, String)] =
    Seq("q_flagship_revenue", "q_window_topk_per_group", "q_asof_join",
      "q_sessionize").map("relational" -> _) ++
    Seq("q_tfidf_top_term").map("text" -> _) ++
    Seq("q_lsh_topk_multiprobe").map("vector" -> _) ++
    Seq("q_ancestors", "q_triangles").map("graph" -> _)
}
