package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into an engine layer.  `name` is `layer` or
  * `layer.part`; `parent` is the enclosing span's id (-1 at op level). */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long) {
  var endNs: Long = 0L
  var compiles: Long = 0L
  var bytesWritten: Long = 0L
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One closed-loop operation as the workload loop saw it. */
final case class OpRecord(id: Int, kind: String, write: Boolean, cold: Boolean,
                          startNs: Long, endNs: Long, ok: Boolean, rows: Long,
                          inputBytes: Long, bytesWritten: Long,
                          gcMs: Long, compiles: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A Spark job and the span it was tagged with (-1: none). */
final case class Job(span: Int, startMs: Long, var endMs: Long = -1L)

/** Spans and per-op counters kept in memory, written once at run end.
  *
  * Disabled (the untraced run), [[span]] only runs its body, [[add]] is a
  * no-op and no listener is registered.  Enabled, it tags every Spark job
  * with the innermost open span through the `perfbench.span` local
  * property (threads that start streaming queries or broadcast
  * subqueries inherit it) and records jobs, tasks, Catalyst phases and
  * streaming progress through listeners registered here. */
final class Tracer(val enabled: Boolean) {
  private val SpanProp = "perfbench.span"
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  private def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var sc: SparkContext = _
  var op: Int = -1
  val counters = mutable.Map.empty[Int, mutable.Map[String, Double]]

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  /** per span: task seconds, shuffle write, shuffle read, spilled bytes */
  private val taskAgg = new ConcurrentHashMap[Int, Array[Double]]()
  /** (phase start epoch ms, phase name, seconds) from QueryExecution.tracker */
  private val phases = new ConcurrentLinkedQueue[(Long, String, Double)]()
  /** (trigger start epoch ms, durationMs map) per streaming progress */
  private val progress = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()

  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    if (enabled) {
      sc.addSparkListener(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
            .map(_.toInt).getOrElse(-1)
          jobs.put(e.jobId, Job(span, e.time))
          e.stageIds.foreach(s => stageSpan.put(s, span))
        }
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
          val span: Int = stageSpan.getOrDefault(e.stageId, -1)
          val a = taskAgg.computeIfAbsent(span, _ => new Array[Double](4))
          val m = e.taskMetrics
          a.synchronized {
            a(0) += e.taskInfo.duration / 1000.0
            if (m != null) {
              a(1) += m.shuffleWriteMetrics.bytesWritten
              a(2) += m.shuffleReadMetrics.totalBytesRead
              a(3) += m.diskBytesSpilled
            }
          }
        }
      })
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          record(qe)
        override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
          record(qe)
        private def record(qe: QueryExecution): Unit =
          qe.tracker.phases.foreach { case (name, p) =>
            phases.add((p.startTimeMs, name, p.durationMs / 1000.0))
          }
      })
      spark.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          val ms = java.time.Instant.parse(p.timestamp).toEpochMilli
          progress.add((ms, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
        }
      })
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), op, System.nanoTime())
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanProp, s.id.toString)
      val cg0 = Probes.compiles()
      val fs0 = Probes.fsBytesWritten()
      try body
      finally {
        s.endNs = System.nanoTime()
        s.compiles = Probes.compiles() - cg0
        s.bytesWritten = Probes.fsBytesWritten() - fs0
        open = open.tail
        sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Add `v` to counter `name` of the current op. */
  def add(name: String, v: Double): Unit =
    if (enabled) {
      val m = counters.getOrElseUpdate(op, mutable.Map.empty)
      m(name) = m.getOrElse(name, 0.0) + v
    }

  /** Union length (seconds) of the intervals, clipped to [lo, hi]. */
  private def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (ca, cb) => total += cb - ca }
    total / 1000.0
  }

  private def selfSeconds(s: Span, children: Map[Int, Seq[Span]]): Double =
    s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum

  /** Per-op rows and the workload summary over the steady (non-cold) ops.
    * Returns (summary metrics, JSONL lines). */
  def summarize(ops: Seq[OpRecord], slots: Int): (Map[String, Double], Seq[String]) = {
    if (!enabled) return (Map.empty, Nil)
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    val children = spans.groupBy(_.parent).map { case (k, v) => k -> v.toSeq }
    val spansByOp = spans.groupBy(_.op)
    val jobList = jobs.asScala.values.toSeq
    val spanOp = spans.map(s => s.id -> s.op).toMap
    // untagged jobs (started outside every span) belong to the op they ran in
    def opAt(ms: Double): Int =
      ops.find(o => ms >= epochMs(o.startNs) && ms <= epochMs(o.endNs)).fold(-1)(_.id)
    val jobsByOp = jobList.groupBy(j => spanOp.getOrElse(j.span, opAt(j.startMs.toDouble)))
    val metrics = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val lines = mutable.ArrayBuffer.empty[String]
    val phaseList = phases.asScala.toSeq
    val progressList = progress.asScala.toSeq

    ops.foreach { o =>
      val lo = epochMs(o.startNs)
      val hi = epochMs(o.endNs)
      val opJobs = jobsByOp.getOrElse(o.id, Nil)
      val jobS = union(opJobs.map(j => (j.startMs.toDouble, (if (j.endMs < 0) hi else j.endMs.toDouble))), lo, hi)
      val opSpans = spansByOp.getOrElse(o.id, Nil).toSeq
      val top = opSpans.filter(_.parent == -1)
      val covered = union(top.map(s => (epochMs(s.startNs), epochMs(s.endNs))), lo, hi)
      val unattributed = math.max(0.0, o.seconds - covered)
      val task = opSpans.flatMap(s => Option(taskAgg.get(s.id))).foldLeft(new Array[Double](4)) {
        (acc, a) => acc.indices.foreach(i => acc(i) += a(i)); acc
      }
      val opPhases = phaseList.filter { case (t, _, _) => t >= lo && t <= hi }
      val opProgress = progressList.filter { case (t, _) => t >= lo && t <= hi }
      val c = counters.getOrElse(o.id, mutable.Map.empty[String, Double])
      val row = mutable.LinkedHashMap[String, Double](
        "wall_s" -> o.seconds, "jobs" -> opJobs.size.toDouble, "job_s" -> jobS,
        "driver_s" -> math.max(0.0, o.seconds - jobS), "task_s" -> task(0),
        "shuffle_write_bytes" -> task(1), "shuffle_read_bytes" -> task(2),
        "spill_bytes" -> task(3), "gc_s" -> o.gcMs / 1000.0,
        "compiles" -> o.compiles.toDouble, "unattributed_s" -> unattributed,
        "unattributed_share" -> (if (o.seconds > 0) unattributed / o.seconds else 0.0))
      c.foreach { case (k, v) => row(k) = v }
      lines += Json.obj("type" -> "op", "op" -> o.id, "kind" -> o.kind, "cold" -> o.cold,
        "ok" -> o.ok, "metrics" -> row.toMap)

      if (!o.cold) {
        metrics("spark.jobs") += opJobs.size
        metrics("spark.job_s") += jobS
        metrics("spark.driver_s") += math.max(0.0, o.seconds - jobS)
        metrics("spark.task_s") += task(0)
        metrics("shuffle.write_bytes") += task(1)
        metrics("shuffle.read_bytes") += task(2)
        metrics("spill.bytes") += task(3)
        metrics("jvm.gc_s") += o.gcMs / 1000.0
        metrics("codegen.compiles") += o.compiles
        metrics("trace.unattributed_s") += unattributed
        metrics("trace.op_wall_s") += o.seconds
        metrics("trace.unattributed_max_share") =
          math.max(metrics("trace.unattributed_max_share"), row("unattributed_share"))
        opPhases.foreach { case (_, name, s) =>
          if (Set("analysis", "optimization", "planning")(name)) metrics(s"catalyst.${name}_s") += s
        }
        opProgress.foreach { case (_, d) =>
          metrics("streaming.batch_s") += d.getOrElse("triggerExecution", 0L) / 1000.0
          Seq("latestOffset" -> "latest_offset", "queryPlanning" -> "query_planning",
            "addBatch" -> "add_batch", "walCommit" -> "wal_commit",
            "commitOffsets" -> "commit_offsets").foreach { case (k, n) =>
            metrics(s"streaming.${n}_ms") += d.getOrElse(k, 0L).toDouble
          }
        }
        c.foreach { case (k, v) => metrics(k) += v }
        metrics(s"op.${o.kind}.count") += 1
        metrics(s"op.${o.kind}.jobs") += opJobs.size
        metrics(s"op.${o.kind}.driver_s") += math.max(0.0, o.seconds - jobS)
        opSpans.foreach { sp =>
          val self = selfSeconds(sp, children)
          metrics(if (sp.name.contains(".")) s"${sp.name}_s" else s"${sp.name}.s") += self
          metrics(s"${sp.layer}.jobs") += jobList.count(_.span == sp.id)
          metrics(s"${sp.layer}.compiles") += sp.compiles
          metrics(s"${sp.layer}.bytes_written") += sp.bytesWritten
          metrics(s"layer.${sp.layer}.self_s") += self
        }
      }
    }
    spans.foreach { sp =>
      lines += Json.obj("type" -> "span", "id" -> sp.id, "name" -> sp.name, "parent" -> sp.parent,
        "op" -> sp.op, "start_ms" -> epochMs(sp.startNs), "end_ms" -> epochMs(sp.endNs),
        "self_s" -> selfSeconds(sp, children), "jobs" -> jobList.count(_.span == sp.id),
        "compiles" -> sp.compiles, "bytes_written" -> sp.bytesWritten)
    }
    val jobS = metrics("spark.job_s")
    metrics("spark.task_util") = if (jobS > 0) metrics("spark.task_s") / (slots * jobS) else 0.0
    metrics("trace.unattributed_share") =
      if (metrics("trace.op_wall_s") > 0) metrics("trace.unattributed_s") / metrics("trace.op_wall_s") else 0.0
    val layers = metrics.collect { case (k, v) if k.startsWith("layer.") => k.stripPrefix("layer.") -> v }
    lines += Json.obj("type" -> "summary", "self_s_by_layer" -> layers.toMap,
      "metrics" -> metrics.toMap)
    (metrics.toMap, lines.toSeq)
  }
}

/** Process-wide probes read around ops and spans. */
object Probes {
  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  /** Bytes written through Hadoop's local file system by every thread of
    * this JVM (data files, staging, manifests, checksums, checkpoints). */
  @annotation.nowarn("cat=deprecation")
  def fsBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
}

/** Sizes of what a run leaves on disk. */
object Disk {
  def bytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum else f.length()
}
