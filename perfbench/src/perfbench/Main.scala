package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One closed-loop operation.  `prepare` and `check` run outside the timed
  * section: the first writes the op's generated input files, the second
  * compares the op's result with the workload's model. */
abstract class Op(val kind: String, val write: Boolean) {
  def prepare(): Unit = ()
  def inputBytes: Long = 0L
  def rows: Long = 0L
  def run(): Unit
  def check(): Boolean = true
}

/** A workload's inputs, generated when it is constructed, and its ops. */
trait Workload {
  /** Round 0 runs first, in the fresh JVM; its ops are the cold pass. */
  def round(i: Int): Seq[Op]
  /** Result checks after the measured window: (name, passed). */
  def finalChecks(): Seq[(String, Boolean)]
  /** Workload-specific end-to-end figures: name -> (value, unit). */
  def extraMetrics(ops: Seq[OpRecord]): Map[String, (Double, String)] = Map.empty
  /** Layer metrics this workload derives from the traced summary `m`, or
    * reads from the program once the window is over. */
  def layerMetrics(m: Map[String, Double]): Map[String, Double] = Map.empty
}

/** Benchmark main.  Prints one JSON object as its last stdout line; the
  * launcher (`perfbench/run.py`) adds the DuckDB oracle check and the final
  * result line.
  *
  * Args: `--workload W --seed N --seconds S --trace 0|1 --work DIR
  * --t0-ms EPOCH_MS [--smoke 1]`. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val tracer = new Tracer(a("trace") == "1")
    val work = a("work")
    val smoke = a.get("smoke").contains("1")
    val t0Ms = a("t0-ms").toLong
    val cores = Runtime.getRuntime.availableProcessors
    // Task slots: half the cores, so the driver thread, the JIT compilers
    // and the collector keep cores of their own.  With a slot per core the
    // run-to-run spread of every latency doubled on a shared 4-core machine:
    // it measured the scheduler.
    val slots = math.max(1, cores / 2)
    val began = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - began) / 1e9}%.1f s: $what")

    // Set-up, timed from process start (the launcher's clock reading before
    // it generates any input): input generation, JVM start, class loading,
    // GraftSession.builder(...).getOrCreate() and binding the workload to
    // its inputs.  The workload then runs on this first session.
    val setupStart = System.nanoTime() - (System.currentTimeMillis() - t0Ms) * 1000000L
    val c0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$slots]", slots).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val createS = (System.nanoTime() - c0) / 1e9
    val w = Workloads.make(workload, spark, s"$work/workload", seed, smoke, tracer)
    val setupS = (System.nanoTime() - setupStart) / 1e9
    tracer.attach(spark)
    Speed.warm()
    phase("set-up done")

    // host speed probes between ops, by phase (see [[Speed]])
    val coldProbes = mutable.ArrayBuffer(Speed.sample())
    val steadyProbes = mutable.ArrayBuffer.empty[Double]

    val ops = mutable.ArrayBuffer.empty[OpRecord]
    def runOp(o: Op, cold: Boolean): Unit = {
      o.prepare()
      val id = ops.size
      tracer.op = id
      val gc0 = Probes.gcMillis()
      val cg0 = Probes.compiles()
      val fs0 = Probes.fsBytesWritten()
      val t0 = System.nanoTime()
      val ran =
        try { o.run(); true }
        catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] op $id ${o.kind} failed: $e")
          e.printStackTrace(System.err)
          false
        }
      val t1 = System.nanoTime()
      val fs1 = Probes.fsBytesWritten()
      val cg1 = Probes.compiles()
      val gc1 = Probes.gcMillis()
      val ok = ran && (try o.check() catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] op $id ${o.kind} check failed: $e"); false })
      if (ran && !ok) System.err.println(s"[perfbench] op $id ${o.kind}: result differs from the model")
      (if (cold) coldProbes else steadyProbes) += Speed.sample()
      ops += OpRecord(id, o.kind, o.write, cold, t0, t1, ok, o.rows, o.inputBytes,
        fs1 - fs0, gc1 - gc0, cg1 - cg0)
    }

    w.round(0).foreach(runOp(_, cold = true))
    phase("cold round done")
    val steadyStart = System.nanoTime()
    var r = 1
    while (r == 1 || (System.nanoTime() - steadyStart) / 1e9 < seconds) {
      w.round(r).foreach(runOp(_, cold = false))
      r += 1
    }
    val steadyRounds = r - 1
    phase("measured window done")
    val cpuScore = cpuScoreMs()

    val heapMb = retainedHeapMb()
    val checks = w.finalChecks()
    checks.filterNot(_._2).foreach(c => System.err.println(s"[perfbench] final check ${c._1} failed"))
    phase("final checks done")
    val (layer, traceLines) = tracer.summarize(ops.toSeq, slots)
    val derived = if (tracer.enabled) w.layerMetrics(layer) else Map.empty[String, Double]
    if (tracer.enabled) {
      val f = new File(s"$work/trace-$workload-seed$seed.jsonl")
      java.nio.file.Files.writeString(f.toPath, traceLines.mkString("", "\n", "\n"))
      System.err.println(s"[perfbench] trace written to $f")
    }

    val steady = ops.filterNot(_.cold).toSeq
    val coldFirst = ops.filter(_.cold).groupBy(_.kind).values.map(_.minBy(_.id).seconds).sum
    val byKind = steady.groupBy(_.kind).map { case (k, v) => k -> Stats.median(v.map(_.seconds)) }
    val opP50 = Stats.geomean(byKind.values.toSeq)
    val opsPerS = steady.size / steady.map(_.seconds).sum
    // the latencies at the reference host speed; set-up shares the cold
    // round's scale, whose first probe follows it
    val coldScale = Speed.scale(coldProbes.toSeq)
    val steadyScale = Speed.scale(steadyProbes.toSeq)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS * coldScale, "s"),
      "cold_s" -> (coldFirst * coldScale, "s"),
      "op_p50_s" -> (opP50 * steadyScale, "s"),
      "ops_per_s" -> (opsPerS / steadyScale, "1/s"),
      "retained_heap_mb" -> (heapMb, "MiB"))
    val failedOps = ops.count(!_.ok)
    val failedChecks = checks.count(!_._2)
    val attempted = ops.size + checks.size
    val failed = failedOps + failedChecks

    // every end-to-end figure, each with its unit and sample count; the
    // tails also carry their percentile and the samples beyond it
    def latency(name: String, xs: Seq[Double]): Seq[(String, Map[String, Any])] =
      if (xs.isEmpty) Nil
      else {
        val (pct, v, beyond) = Stats.tail(xs)
        Seq(s"${name}_p50_s" -> Map("value" -> Stats.median(xs), "unit" -> "s", "samples" -> xs.size),
          s"${name}_tail_s" -> Map("value" -> v, "unit" -> "s", "percentile" -> pct,
            "samples" -> xs.size, "samples_beyond" -> beyond))
      }
    val named = (e2e ++ w.extraMetrics(steady)).map { case (k, (v, u)) =>
      k -> Map[String, Any]("value" -> v, "unit" -> u, "samples" -> (k match {
        case "setup_s" => 1
        case "cold_s" => ops.count(_.cold)
        case _ => steady.size
      }))
    } ++ latency("write", steady.filter(_.write).map(_.seconds)) ++
      latency("read", steady.filterNot(_.write).map(_.seconds)) ++
      Seq("error_rate" -> Map("value" -> failed.toDouble / attempted, "unit" -> "ratio", "samples" -> attempted))
    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> tracer.enabled,
      "end_to_end" -> named.toMap,
      "samples" -> Map("steady_ops" -> steady.size, "cold_ops" -> ops.count(_.cold),
        "steady_rounds" -> steadyRounds),
      "op_p50_by_kind_s" -> byKind,
      "steady_op_seconds" -> steady.map(o => Seq(o.kind, o.seconds)),
      "cold_op_seconds" -> ops.filter(_.cold).map(o => Seq(o.kind, o.seconds)),
      "session_create_s" -> createS,
      "machine" -> Map("nproc" -> cores, "task_slots" -> slots, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "cpu_score_ms" -> cpuScore),
      "host_speed" -> Map("reference_probe_ms" -> Speed.RefMs,
        "cold_probe_ms" -> Stats.median(coldProbes.toSeq), "cold_probes" -> coldProbes.size,
        "steady_probe_ms" -> Stats.median(steadyProbes.toSeq), "steady_probes" -> steadyProbes.size,
        "unscaled" -> Map("setup_s" -> setupS, "cold_s" -> coldFirst, "op_p50_s" -> opP50, "ops_per_s" -> opsPerS)),
      "final_checks" -> checks.map { case (n, ok) => n -> ok }.toMap)

    // every figure this run computed, by name; the launcher picks the ones
    // BENCHMARK.json declares and gives them its units
    val values: Map[String, Double] =
      if (!tracer.enabled) e2e.map { case (k, (v, _)) => k -> v }.toMap
      else {
        detail("traced_op_p50_s") = e2e("op_p50_s")._1
        detail("unattributed_share") = layer.getOrElse("trace.unattributed_share", 0.0)
        layer ++ derived + ("session.create_s" -> createS)
      }
    val out = Map(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "values" -> values, "detail" -> detail.toMap)
    spark.stop()
    phase("session stopped")
    println(Json.render(out))
    System.out.flush()
  }

  /** Driver heap in use after full collections, in MiB: each heap pool's
    * usage as the last collection left it.  Spark's ContextCleaner drops
    * broadcasts and shuffles of collected plans on its own thread after a
    * collection, so collections repeat until the figure settles. */
  private def retainedHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    def afterGc(): Double = {
      System.gc()
      Thread.sleep(200)
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    }
    var prev = afterGc()
    var cur = afterGc()
    var i = 2
    while (math.abs(cur - prev) > 0.5 && i < 10) { prev = cur; cur = afterGc(); i += 1 }
    cur
  }

  /** Fixed single-thread CPU score: wall ms of a constant FNV-1a integer
    * loop (2^27 steps) — the same loop as `graft.Bench`'s, so a figure from
    * another machine window carries a comparable speed band. */
  private def cpuScoreMs(): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    val t0 = System.nanoTime()
    while (i < (1 << 27)) {
      h ^= i
      h *= 0x100000001b3L
      i += 1
    }
    val ms = (System.nanoTime() - t0) / 1000000
    if (h == 42L) System.err.println("[perfbench] fnv sentinel") // keep the loop live
    ms
  }
}

/** Host speed probe.  The benchmark shares a host whose single-core speed
  * drifts by 10 to 20 % over minutes, more than the engine changes the
  * benchmark should show, and the drift moves every latency of a run
  * together.  So set-up and op latencies are reported at a reference
  * speed: scaled by [[RefMs]] over the median probe time of their phase.  The
  * probe, the best of three runs of a fixed FNV-1a loop (2^23 steps, the
  * machine band's loop shortened), runs after every op, outside its timed
  * section, while the engine is idle. */
object Speed {
  /** probe time at the reference speed: the median on the 4-core machine
    * the benchmark was written on */
  val RefMs = 13.0
  private var sink = 0L

  def once(): Double = {
    var h = 0xcbf29ce484222325L
    var i = 0
    val t0 = System.nanoTime()
    while (i < (1 << 23)) {
      h ^= i
      h *= 0x100000001b3L
      i += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    sink ^= h // keep the loop live
    ms
  }

  def sample(): Double = Seq.fill(3)(once()).min

  /** compiles the loop before the first sample counts */
  def warm(): Unit = (1 to 20).foreach(_ => once())

  def scale(probes: Seq[Double]): Double =
    if (probes.isEmpty) 1.0 else RefMs / Stats.median(probes)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  /** The highest of the usual percentiles with at least ten samples above
    * it: (percentile label, value, samples above).  Fewer than twenty
    * samples leave no such percentile; then the maximum is reported. */
  def tail(xs: Seq[Double]): (String, Double, Int) =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).iterator.map { p =>
      val v = percentile(xs, p)
      (s"p$p".stripSuffix(".0"), v, xs.count(_ > v))
    }.find(_._3 >= 10).getOrElse(("max", xs.max, 0))
}

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  def obj(kv: (String, Any)*): String = render(kv.toMap)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.sortBy(identity).mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Workloads {
  def make(name: String, spark: SparkSession, dir: String, seed: Long, smoke: Boolean,
           tracer: Tracer): Workload = name match {
    case "ingest" => new Ingest(spark, dir, seed, smoke, tracer)
    case "lakehouse" => new Lakehouse(spark, dir, seed, smoke, tracer)
    case "analytics" => new Analytics(spark, dir, seed, smoke, tracer)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
