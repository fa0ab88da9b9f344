package perfbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.engine.{Ivm, TxTable}

/** `lakehouse`: one TxTable of production-grain rows that grows over the
  * run, under a seeded mix of writes and reads.
  *
  * Every cycle deletes a key range through deletion vectors, appends a
  * key-clustered batch, runs a pass of point read, range read, time-travel
  * read and full-snapshot aggregate, runs a streaming catch-up
  * (AvailableNow file stream into `foreachBatch(TxTable.streamingAppend)`
  * with a persistent checkpoint) and merges a key-clustered batch (change
  * feed on), then refreshes the IVM per-species (count, sum) view and
  * compacts: both run every four data commits.  Keys are clustered: each append, stream batch and
  * merge covers a contiguous id range, so a merge or delete touches one or
  * two segments.  The model is a map from id to row per table version;
  * every read is checked against it, and at the end the head, one
  * time-travel version and the IVM view must equal it. */
final class Lakehouse(spark: SparkSession, dir: String, seed: Long, smoke: Boolean,
                      tracer: Tracer) extends Workload {
  import Lakehouse._

  // Sizes (perfbench/workloads.json, "sizes"): the 150k-row base table the
  // workload's design was prototyped on; appends, stream batches and
  // merges of 5k rows, the prototype's ingest batch; the merge's insert
  // share, the delete size and the range width are unverified choices.
  private val baseRows = if (smoke) 500 else 150000
  private val appendRows = if (smoke) 100 else 5000
  private val mergeRows = if (smoke) 50 else 4000
  private val mergeInserts = if (smoke) 10 else 1000
  private val deleteRows = if (smoke) 20 else 1000
  private val streamRows = if (smoke) 50 else 5000

  private val root = s"$dir/table/production"
  private val view = s"$dir/table/species_view"
  private val streamSrc = s"$dir/input/stream"
  private val checkpoint = s"$dir/table/_stream_checkpoint"
  private val inputs = s"$dir/input/ops"
  new File(streamSrc).mkdirs()

  private var nextId = 0L
  private var head = Map.empty[Long, Row]
  private var snapshots = Map.empty[Long, Map[Long, Row]]
  private var viewApplied = 0L
  private var spaceAmp = 0.0
  private var inputSeq = 0

  /** Round 0 (the cold round) bootstraps the table and runs each op kind
    * once.  Later rounds are one cycle (10 to 13 s on a 4-core machine), so
    * one round outlasts the measured window and every run measures the same
    * op mix.  A cycle runs
    * the same order every time — delete, append, reads, stream, merge —
    * so every read sees the cycle's deletion vectors (the merge,
    * which may fold them in, comes after the reads) and a read's cost does
    * not depend on where a seeded shuffle put it; the seed picks the keys,
    * ranges and values. */
  def round(i: Int): Seq[Op] =
    if (i == 0) {
      val rng = new Random(seed * 7919L)
      Seq(new Append(baseRows, "bootstrap"), new Delete(rng.nextLong()), new Append(appendRows),
        new Stream(), new Merge(rng.nextLong())) ++ reads(rng) ++ maintenance
    } else cycle(i)

  private def cycle(c: Int): Seq[Op] = {
    val rng = new Random(seed * 7919L + c)
    Seq(new Delete(rng.nextLong()), new Append(appendRows)) ++ reads(rng) ++
      Seq(new Stream(), new Merge(rng.nextLong())) ++ maintenance
  }

  private def reads(rng: Random): Seq[Op] =
    Seq(new ReadEq(rng.nextLong()), new ReadRange(rng.nextLong()), new ReadVersion(), new Aggregate())

  private def maintenance: Seq[Op] = Seq(new Refresh(), new Compact())

  private def row(id: Long, rev: Int): Row = {
    val h = new Random(seed * 1000003L + id * 31L + rev)
    Row(id, Ingest.States(h.nextInt(2)), Ingest.Species(h.nextInt(3)), 2000 + h.nextInt(25),
      1 + h.nextInt(200), s"DAU_${h.nextInt(80)}", 100L + h.nextInt(40000), h.nextInt(900) / 10.0)
  }

  /** Writes `rows` as one parquet input file; returns (path, bytes). */
  private def writeInput(rows: Seq[Row]): (String, Long) = {
    inputSeq += 1
    val path = s"$inputs/in-$inputSeq"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Schema)
      .write.mode("overwrite").parquet(path)
    (path, Disk.bytes(new File(path)))
  }

  private def readInput(path: String): DataFrame = spark.read.schema(Schema).parquet(path)

  /** Records the model snapshot under the table's new head version. */
  private def committed(): Unit =
    TxTable.latestVersion(spark, root).foreach(v => snapshots += v -> head)

  private abstract class WriteOp(kind: String) extends Op(kind, write = true) {
    protected var path = ""
    protected var bytes = 0L
    protected var n = 0L
    override def inputBytes: Long = bytes
    override def rows: Long = n
    protected def stage(rs: Seq[Row]): Unit = {
      val (p, b) = writeInput(rs); path = p; bytes = b; n = rs.size
    }
  }

  private final class Append(size: Int, kind: String = "append") extends WriteOp(kind) {
    private var batch = Seq.empty[Row]
    override def prepare(): Unit = {
      batch = (nextId until nextId + size).map(row(_, 0))
      nextId += size
      stage(batch)
    }
    def run(): Unit = tracer.span("txtable.append") {
      TxTable.commitAppend(spark, root, readInput(path), statsCols = Seq("id"))
    }
    override def check(): Boolean = {
      head ++= batch.map(r => r.getLong(0) -> r); committed(); true
    }
  }

  private final class Merge(pick: Long) extends WriteOp("merge") {
    private var batch = Seq.empty[Row]
    override def prepare(): Unit = {
      val lo = math.floorMod(pick, math.max(1L, nextId - mergeRows))
      val rev = math.floorMod(pick, 1000).toInt + 1
      batch = (lo until lo + mergeRows).map(row(_, rev)) ++
        (nextId until nextId + mergeInserts).map(row(_, 0))
      nextId += mergeInserts
      stage(batch)
    }
    def run(): Unit = tracer.span("txtable.merge") {
      TxTable.commitMerge(spark, root, readInput(path), Seq("id"),
        Seq("post_hunt_estimate", "male_female_ratio"),
        Seq("state", "species", "year", "unit", "herd_name"),
        statsCols = Seq("id"), cdf = true)
    }
    override def check(): Boolean = {
      batch.foreach { r =>
        val id = r.getLong(0)
        head += id -> head.get(id).fold(r)(old =>
          Row.fromSeq(old.toSeq.take(6) ++ Seq(r.get(6), r.get(7))))
      }
      committed(); true
    }
  }

  private final class Delete(pick: Long) extends WriteOp("delete") {
    private var ids = Seq.empty[Long]
    override def prepare(): Unit = {
      val lo = math.floorMod(pick, math.max(1L, nextId - deleteRows))
      ids = lo until lo + deleteRows
      stage(ids.map(id => row(id, 0)))
    }
    def run(): Unit = tracer.span("txtable.delete") {
      TxTable.commitDeleteVectors(spark, root, readInput(path).select("id"), Seq("id"), cdf = true)
    }
    override def check(): Boolean = { head --= ids; committed(); true }
  }

  private final class Stream() extends WriteOp("stream") {
    private var batch = Seq.empty[Row]
    override def prepare(): Unit = {
      batch = (nextId until nextId + streamRows).map(row(_, 0))
      nextId += streamRows
      stage(batch)
      // publish the file into the stream's source directory atomically
      val part = new File(path).listFiles().find(_.getName.endsWith(".parquet")).get
      require(part.renameTo(new File(s"$streamSrc/batch-$inputSeq.parquet")))
    }
    def run(): Unit = tracer.span("streaming.catchup") {
      spark.readStream.schema(Schema).parquet(streamSrc)
        .writeStream.foreachBatch(TxTable.streamingAppend(root, Seq("id")) _)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    }
    override def check(): Boolean = {
      head ++= batch.map(r => r.getLong(0) -> r); committed(); true
    }
  }

  private final class Refresh() extends Op("ivm_refresh", write = true) {
    private var to = 0L
    def run(): Unit = tracer.span("ivm.refresh") {
      to = TxTable.latestVersion(spark, root).get
      Ivm.refreshSumCount(spark, root, view, viewApplied, to, "species", "post_hunt_estimate")
    }
    override def check(): Boolean = { viewApplied = to; true }
  }

  private final class Compact() extends Op("compact", write = true) {
    def run(): Unit = tracer.span("txtable.compact") { TxTable.compactTx(spark, root) }
    override def check(): Boolean = { committed(); true }
  }

  private abstract class ReadOp(kind: String) extends Op(kind, write = false) {
    protected var got: Array[Row] = Array.empty
    override def rows: Long = got.length.toLong
  }

  /** Pruned reads also report the data segments (`data/<id>/`) they scan
    * against the live segments. */
  private def pruneCounters(df: DataFrame): Unit = if (tracer.enabled) {
    tracer.add("txtable.pruned_read_segments", df.inputFiles
      .map(f => new org.apache.hadoop.fs.Path(f).getParent)
      .filter(_.getParent.getName == "data").distinct.length)
    tracer.add("txtable.pruned_read_live_segments", TxTable.liveSegmentCount(spark, root))
  }

  private final class ReadEq(pick: Long) extends ReadOp("read_eq") {
    private var id = 0L
    private var df: DataFrame = _
    override def prepare(): Unit = id = math.floorMod(pick, nextId)
    def run(): Unit = got = tracer.span("txtable.read") {
      df = TxTable.readWhereEquals(spark, root, "id", id)
      df.collect()
    }
    override def check(): Boolean = {
      pruneCounters(df)
      sameRows(got.toSeq, head.get(id).toSeq)
    }
  }

  private final class ReadRange(pick: Long) extends ReadOp("read_range") {
    private var lo = 0L
    private val width = if (smoke) 40L else 1500L
    private var df: DataFrame = _
    override def prepare(): Unit = lo = math.floorMod(pick, math.max(1L, nextId - width))
    def run(): Unit = got = tracer.span("txtable.read") {
      df = TxTable.readWhere(spark, root, "id",
        java.math.BigDecimal.valueOf(lo), java.math.BigDecimal.valueOf(lo + width - 1))
      df.collect()
    }
    override def check(): Boolean = {
      pruneCounters(df)
      sameRows(got.toSeq, (lo until lo + width).flatMap(head.get))
    }
  }

  /** Time travel to the version `VersionsBack` commits behind the head. */
  private final class ReadVersion() extends ReadOp("read_version") {
    private var v = 0L
    override def prepare(): Unit = {
      val vs = snapshots.keys.toSeq.sorted
      v = vs(math.max(0, vs.size - 1 - VersionsBack))
    }
    def run(): Unit = got = tracer.span("txtable.read") {
      TxTable.readVersion(spark, root, v)
        .agg(count(lit(1)), sum("id"), sum("post_hunt_estimate")).collect()
    }
    override def check(): Boolean = {
      val m = snapshots(v).values
      val r = got.head
      r.getLong(0) == m.size && r.getLong(1) == m.map(_.getLong(0)).sum &&
        r.getLong(2) == m.map(_.getLong(6)).sum
    }
  }

  private final class Aggregate() extends ReadOp("aggregate") {
    def run(): Unit = got = tracer.span("txtable.read") {
      TxTable.read(spark, root).groupBy("species")
        .agg(count(lit(1)).as("n"), sum("post_hunt_estimate").as("s")).collect()
    }
    override def check(): Boolean =
      got.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet == speciesAgg(head)
  }

  private def speciesAgg(m: Map[Long, Row]): Set[(String, Long, Long)] =
    m.values.groupBy(_.getString(2)).map { case (s, rs) =>
      (s, rs.size.toLong, rs.map(_.getLong(6)).sum)
    }.toSet

  private def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.map(_.toSeq).toSet == b.map(_.toSeq).toSet && a.length == b.length

  def finalChecks(): Seq[(String, Boolean)] = {
    val table = TxTable.read(spark, root)
    val headOk = sameRows(table.collect().toSeq, head.values.toSeq)
    val versions = snapshots.keys.toSeq.sorted
    val v = versions(versions.size / 2)
    val versionOk = sameRows(TxTable.readVersion(spark, root, v).collect().toSeq, snapshots(v).values.toSeq)
    val viewRows = TxTable.read(spark, view).collect().map { r =>
      (r.getAs[String]("species"), r.getAs[Long]("n"),
        r.getAs[java.math.BigDecimal]("sum").longValueExact())
    }.toSet
    val viewOk = viewRows == speciesAgg(snapshots(viewApplied))
    val once = s"$dir/space_amp_once"
    table.write.mode("overwrite").parquet(once)
    spaceAmp = Disk.bytes(new File(root)).toDouble / Disk.bytes(new File(once))
    Seq("head_equals_model" -> headOk, s"version_${v}_equals_model" -> versionOk,
      "ivm_view_equals_model" -> viewOk)
  }

  override def extraMetrics(ops: Seq[OpRecord]): Map[String, (Double, String)] = Map(
    "write_amp" -> (ops.map(_.bytesWritten).sum.toDouble / ops.map(_.inputBytes).sum, "ratio"),
    "space_amp" -> (spaceAmp, "ratio"),
    "rows_per_s" -> (ops.filter(_.write).map(_.rows).sum / ops.map(_.seconds).sum, "rows/s"))

  override def layerMetrics(m: Map[String, Double]): Map[String, Double] = {
    val commits = Seq("append", "merge", "delete", "stream", "compact")
    val n = commits.map(k => m.getOrElse(s"op.$k.count", 0.0)).sum
    val live = m.getOrElse("txtable.pruned_read_live_segments", 0.0)
    Map(
      "txtable.commit_driver_s" -> commits.map(k => m.getOrElse(s"op.$k.driver_s", 0.0)).sum,
      "txtable.jobs_per_commit" -> (if (n > 0) commits.map(k => m.getOrElse(s"op.$k.jobs", 0.0)).sum / n else 0.0),
      "txtable.live_segments" -> TxTable.liveSegmentCount(spark, root).toDouble,
      "txtable.versions" -> TxTable.latestVersion(spark, root).getOrElse(0L).toDouble,
      "txtable.prune_ratio" -> (if (live > 0) m.getOrElse("txtable.pruned_read_segments", 0.0) / live else 0.0))
  }
}

object Lakehouse {
  val VersionsBack = 4

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, false),
    StructField("state", StringType), StructField("species", StringType),
    StructField("year", IntegerType), StructField("unit", IntegerType),
    StructField("herd_name", StringType), StructField("post_hunt_estimate", LongType),
    StructField("male_female_ratio", DoubleType)))
}
