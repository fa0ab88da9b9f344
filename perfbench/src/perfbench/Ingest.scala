package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.engine.{Clean, Extract, Quality, Relational, Tables, Upsert}

/** `ingest`: the reference chain, one op per season population report.
  *
  * Each op reads one generated Textract block file (a multi-page table with
  * multi-word cells, missing cells, a `Total` footer, `n/a`, thousands
  * separators and dirty `gmu_list` values), reconstructs and cleans it,
  * full-refreshes the stage table, explodes the GMU lists, dedups and
  * upserts into the year-partitioned production lake, then audits the
  * stage and every lake partition.  Every second warm batch revises a
  * report already loaded, chosen by the seed.  The model below replays the
  * same rules in plain Scala; the final lake must equal it. */
final class Ingest(spark: SparkSession, dir: String, seed: Long, smoke: Boolean,
                   tracer: Tracer) extends Workload {
  import Ingest._

  // Sizes (perfbench/workloads.json, "sizes"): 5k table rows per report is
  // the batch the workload's design was prototyped with; 60 rows per page
  // and revising every second warm batch are unverified choices.
  private val rowsPerReport = if (smoke) 30 else 5000
  private val rowsPerPage = if (smoke) 12 else 60
  private val stage = s"$dir/lake/population_stage"
  private val lake = s"$dir/lake/population_production"
  private val inputDir = new File(s"$dir/input")
  inputDir.mkdirs()

  /** the lake the model expects, by (state, species, year, unit) */
  private val model = mutable.Map.empty[Key, Prod]
  /** (state, species, year) of every report loaded so far */
  private val loaded = mutable.ArrayBuffer.empty[(String, String, Int)]
  private var newReports = 0
  private var spaceAmp = 0.0

  /** Round 0 is the cold batch.  Later rounds are [[BatchesPerRound]]
    * batches, so one round outlasts the measured window and every run
    * measures the same batches, whatever the engine's speed. */
  def round(i: Int): Seq[Op] =
    if (i == 0) Seq(new Batch(0))
    else (1 + (i - 1) * BatchesPerRound until 1 + i * BatchesPerRound).map(new Batch(_))

  private final class Batch(b: Int) extends Op("batch", write = true) {
    private val rng = new Random(seed * 1000003L + b)
    private val path = s"${inputDir.getPath}/report-$b.json"
    private var report: Report = _
    private var bytes = 0L
    private var audit: Array[org.apache.spark.sql.Row] = Array.empty
    private var partsBefore = Map.empty[String, Set[String]]

    override def prepare(): Unit = {
      // every warm round is one new report and one revision, so each run
      // does the same work; the seed picks the report revised
      val revise = b % BatchesPerRound == 0 && loaded.nonEmpty
      val (st, sp, yr) =
        if (revise) loaded(rng.nextInt(loaded.size))
        else {
          val n = newReports
          newReports += 1
          // each new report opens its own year, so a batch rewrites one
          // report's partition whichever earlier reports the seed revised
          val k = (States(n % States.size), Species((n / States.size) % Species.size), 2000 + n)
          loaded += k
          k
        }
      report = Report.generate(rng, st, sp, yr, rowsPerReport)
      val json = report.blocksJson(rowsPerPage)
      Files.writeString(new File(path).toPath, json)
      bytes = json.getBytes("UTF-8").length.toLong
      if (tracer.enabled) partsBefore = partitionFiles()
    }
    override def inputBytes: Long = bytes
    override def rows: Long = report.rows.size

    def run(): Unit = {
      val (header, body) = tracer.span("extract") {
        val t = Extract.reconstructTable(Extract.parseBlocks(spark, path))
        (t.filter(col("global_row") === 1).select("cells").head().getSeq[String](0),
          t.filter(col("global_row") > 1))
      }
      val cleaned = tracer.span("clean") {
        val named = body.select(header.indices.map(i => col("cells").getItem(i).as(header(i))): _*)
        val renamed = Clean.coalesceFirstPresent(
          Clean.renameByPattern(Clean.normalizeHeaders(named, Clean.normalizeHeaderPopulation),
            Clean.GmuHeaderPatterns, "gmu_list"),
          RatioHeaders, "male_female_ratio")
        Clean.withMetadata(renamed.select(
            col("dau"),
            Clean.herdNameFromDau(col("dau")).as("herd_name"),
            Clean.coerceNumeric(col("post_hunt_estimate")).as("post_hunt_estimate"),
            Clean.coerceNumeric(col("male_female_ratio"), DoubleType).as("male_female_ratio"),
            col("gmu_list")),
          "state" -> report.state, "species" -> report.species, "year" -> report.year)
      }
      val staged = tracer.span("relational.drop_footer") { Relational.dropFooterRows(cleaned, "dau") }
      tracer.span("io.stage_write") { Tables.writeFullRefresh(staged, stage) }
      val production = tracer.span("relational.explode") {
        Relational.explodeCsv(Tables.globScan(spark, stage), "gmu_list", "unit")
      }
      tracer.span("upsert") {
        val deduped = Upsert.dedupLastWins(production, Keys, DedupOrder)
        Upsert.upsertPartitioned(spark, lake, deduped.select(ProdCols.map(col): _*), Keys,
          Seq("post_hunt_estimate", "male_female_ratio"), Seq("herd_name"), "year")
      }
      audit = tracer.span("quality.audit") {
        val paths = stage +: new File(lake).listFiles().filter(_.isDirectory).map(_.getPath).sorted.toSeq
        tracer.add("quality.paths_audited", paths.size)
        Quality.schemaAudit(spark, paths, "post_hunt_estimate").collect()
      }
    }

    override def check(): Boolean = {
      applyToModel(report)
      if (tracer.enabled) {
        val after = partitionFiles()
        tracer.add("upsert.partitions_rewritten",
          after.count { case (p, fs) => !partsBefore.get(p).contains(fs) })
        tracer.add("io.files_written",
          new File(stage).listFiles().count(_.getName.endsWith(".parquet")))
      }
      audit.nonEmpty && audit.forall(_.getAs[String]("status") == "ok")
    }
  }

  private def partitionFiles(): Map[String, Set[String]] =
    Option(new File(lake).listFiles()).toSeq.flatten.filter(_.isDirectory)
      .map(d => d.getName -> d.list().toSet).toMap

  /** Last-wins within the report, then upsert: estimate and ratio update,
    * herd name keeps the value first loaded. */
  private def applyToModel(r: Report): Unit = {
    val incoming = r.rows.flatMap { row =>
      row.units.map(u => (r.state, r.species, r.year, u) -> Prod(row.herd, row.estimate, row.ratio))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).max(ProdOrder) }
    incoming.foreach { case (k, p) =>
      model(k) = model.get(k).fold(p)(old => p.copy(herd = old.herd))
    }
  }

  def finalChecks(): Seq[(String, Boolean)] = {
    val lakeDf = spark.read.parquet(lake)
    val got = lakeDf.select((ProdCols).map(col): _*).collect().map { r =>
      (r.getString(0), r.getString(1), r.getInt(5), r.getInt(6)) ->
        Prod(r.getString(2), Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Double]))
    }
    val once = s"$dir/space_amp_once"
    lakeDf.write.mode("overwrite").partitionBy("year").parquet(once)
    spaceAmp = Disk.bytes(new File(lake)).toDouble / Disk.bytes(new File(once))
    val gotByKey = got.toMap
    val diff = (gotByKey.keySet ++ model.keySet).filter(k => gotByKey.get(k) != model.get(k))
    diff.take(3).foreach(k => System.err.println(
      s"[perfbench] lake $k: ${gotByKey.get(k)} model: ${model.get(k)}"))
    Seq("lake_equals_model" -> (got.length == model.size && diff.isEmpty))
  }

  override def extraMetrics(ops: Seq[OpRecord]): Map[String, (Double, String)] = Map(
    "write_amp" -> (ops.map(_.bytesWritten).sum.toDouble / ops.map(_.inputBytes).sum, "ratio"),
    "space_amp" -> (spaceAmp, "ratio"),
    "rows_per_s" -> (ops.map(_.rows).sum / ops.map(_.seconds).sum, "rows/s"))
}

object Ingest {
  type Key = (String, String, Int, Int)
  final case class Prod(herd: String, estimate: Option[Long], ratio: Option[Double])

  /** A warm batch takes 5 to 6.5 s on a 4-core machine, so two outlast a
    * 7 s window. */
  val BatchesPerRound = 2

  val States = Seq("colorado", "wyoming")
  val Species = Seq("elk", "deer", "pronghorn")
  val Keys = Seq("state", "species", "year", "unit")
  val ProdCols = Seq("state", "species", "herd_name", "post_hunt_estimate",
    "male_female_ratio", "year", "unit")
  val RatioHeaders = Seq("bull_per_cow_ratio_(per_100)", "bull_cow_ratio_(per_100)",
    "buck_per_doe_ratio_(per_100)")
  val DedupOrder = Seq(col("post_hunt_estimate").desc, col("male_female_ratio").desc,
    col("herd_name").desc_nulls_last)

  /** The dedup order above: larger estimate, then ratio, then herd name wins;
    * a missing value loses to any present one. */
  val ProdOrder: Ordering[Prod] =
    Ordering.by((p: Prod) => (p.estimate.isDefined, p.estimate.getOrElse(0L),
      p.ratio.isDefined, p.ratio.getOrElse(0.0), p.herd))

  /** One data row: the cell texts as printed, and what cleaning makes of them. */
  final case class Row(cells: Seq[String], herd: String, estimate: Option[Long],
                       ratio: Option[Double], units: Seq[Int])

  final case class Report(state: String, species: String, year: Int, header: Seq[String],
                          rows: Seq[Row], footer: Seq[String]) {

    /** Textract-style blocks as JSON lines: PAGE and TABLE blocks, a CELL per
      * present cell with CHILD ids of its WORD blocks.  An empty estimate is
      * a CELL without children; an empty ratio has no CELL at all. */
    def blocksJson(rowsPerPage: Int): String = {
      val sb = new StringBuilder
      val lines = (header +: rows.map(_.cells)) :+ footer
      lines.grouped(rowsPerPage).zipWithIndex.foreach { case (pageRows, pi) =>
        val page = pi + 1
        sb ++= s"""{"Id":"page-$page","BlockType":"PAGE","Page":$page}""" += '\n'
        sb ++= s"""{"Id":"table-$page","BlockType":"TABLE","Page":$page}""" += '\n'
        pageRows.zipWithIndex.foreach { case (cells, ri) =>
          cells.zipWithIndex.foreach { case (text, ci) =>
            val id = s"$page-${ri + 1}-${ci + 1}"
            val words = text.split(" ").filter(_.nonEmpty)
            words.zipWithIndex.foreach { case (w, wi) =>
              sb ++= s"""{"Id":"w-$id-$wi","BlockType":"WORD","Text":"$w","Page":$page}""" += '\n'
            }
            if (words.nonEmpty || ci != 2) {
              val rel = if (words.isEmpty) ""
                else words.indices.map(wi => s""""w-$id-$wi"""").mkString(
                  ""","Relationships":[{"Type":"CHILD","Ids":[""", ",", "]}]")
              sb ++= s"""{"Id":"c-$id","BlockType":"CELL","Page":$page,"RowIndex":${ri + 1},""" +
                s""""ColumnIndex":${ci + 1}$rel}""" += '\n'
            }
          }
        }
      }
      sb.toString
    }
  }

  object Report {
    def generate(rng: Random, state: String, species: String, year: Int, n: Int): Report = {
      val (ratioHeader, prefix) = species match {
        case "elk" => (if (rng.nextBoolean()) "Bull/Cow Ratio (per 100)" else "Bull Cow Ratio (per 100)", "E")
        case _ => ("Buck/Doe Ratio (per 100)", species.take(1).toUpperCase)
      }
      val unitWord = if (rng.nextDouble() < 0.3) "Unites" else "Units"
      val header = Seq("DAU", "Post Hunt Estimate", ratioHeader,
        s"Game Management $unitWord Involved in $year")
      val rows = (1 to n).map { i =>
        val dau = if (i % 7 == 3) s"$prefix-$i North" else s"$prefix-$i"
        val est = 100L + rng.nextInt(40000)
        val (estText, estimate) = rng.nextDouble() match {
          case x if x < 0.05 => ("n/a", None)
          case x if x < 0.08 => ("", None)
          case _ => (String.format(java.util.Locale.ROOT, "%,d", Long.box(est)), Some(est))
        }
        val r = rng.nextInt(900) / 10.0
        val (ratioText, ratio) = rng.nextDouble() match {
          case x if x < 0.04 => ("n/a", None)
          case x if x < 0.08 => ("", None)
          case _ => (r.toString, Some(r))
        }
        val units = Iterator.continually(1 + rng.nextInt(2 * n)).distinct.take(1 + rng.nextInt(3)).toList.sorted
        val (gmuText, kept) = rng.nextDouble() match {
          case x if x < 0.04 => ("see map", Nil)
          case x if x < 0.07 && units.size > 1 => (units.mkString("; "), Nil)
          case _ => (units.mkString(", "), units)
        }
        Row(Seq(dau, estText, ratioText, gmuText), s"DAU_$dau", estimate, ratio, kept)
      }
      val footer = Seq(if (rng.nextBoolean()) "Total" else "total",
        String.format(java.util.Locale.ROOT, "%,d", Long.box(rows.flatMap(_.estimate).sum)), "", "")
      Report(state, species, year, header, rows, footer)
    }
  }
}
