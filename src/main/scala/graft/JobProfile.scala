package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Local profiling harness: run ONE registered query and print every Spark
  * job's wall time + call site, so multi-commit workloads (IVM, TxTable
  * maintenance) show where their fixed overhead actually sits.  Args:
  * `<queryName> <sfDir> [reps]` — reps > 1 re-runs after warmup so codegen
  * compile noise drops out of the profile. */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val (name, sfDir) = (args(0), args(1))
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b0 = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
    // A/B harness: `SPARK_GRAFT_EXTRA_CONF="k1=v1;k2=v2"` overrides any
    // session conf for one profiling run (e.g. adaptive off), so plan
    // hypotheses are testable without recompiling
    val spark = sys.env.get("SPARK_GRAFT_EXTRA_CONF")
      .map(_.split(";").filter(_.nonEmpty).foldLeft(b0) { (b, kv) =>
        kv.split("=", 2) match {
          case Array(k, v) => b.config(k, v)
          case _ => sys.error(
            s"SPARK_GRAFT_EXTRA_CONF: malformed entry '$kv' — expected key=value")
        }
      }).getOrElse(b0)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(js.stageInfos.lastOption.map(si =>
            s"${si.name.takeWhile(_ != '\n').take(60)} tasks=${si.numTasks}"))
          .getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (t0, site) =>
          lines.add((je.jobId, (System.nanoTime() - t0) / 1e9, site))
        }
      }
      // SPARK_GRAFT_STAGES=1: per-stage wall + summed task run time, so a
      // slow job can be attributed to task work vs scheduling/driver gaps
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (sys.env.contains("SPARK_GRAFT_STAGES")) {
          val si = sc.stageInfo
          val wall = (for (a <- si.submissionTime; b <- si.completionTime)
            yield (b - a) / 1e3).getOrElse(-1.0)
          System.err.println(f"[stage] #${si.stageId}%-4d wall $wall%7.3f s " +
            f"taskSum ${si.taskMetrics.executorRunTime / 1e3}%7.3f s " +
            f"tasks=${si.numTasks} ${si.name.takeWhile(_ != '\n').take(70)}")
        }
    }
    // the histogram's values are compile times and its count the number of
    // compiles; its mean is over the JVM's decaying reservoir, not this rep
    val compileTime = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    for (r <- 1 to reps) {
      starts.clear(); lines.clear()
      val c0 = compileTime.getCount
      val t0 = System.nanoTime()
      if (r == reps) spark.sparkContext.addSparkListener(listener)
      fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      val compiles = compileTime.getCount - c0
      val mean =
        if (compiles > 0) f" jvmMeanMsPerCompile=${compileTime.getSnapshot.getMean}%.1f" else ""
      System.err.println(f"[profile] $name rep $r total $dt%.2f s " +
        s"codegen(compiles=$compiles$mean)")
    }
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500) // let the listener bus drain
    import scala.jdk.CollectionConverters._
    val all = lines.asScala.toSeq.sortBy(_._1)
    all.foreach { case (id, s, site) => System.err.println(f"[job] #$id%-4d $s%7.3f s  $site") }
    System.err.println(f"[profile] jobs=${all.size} sum=${all.map(_._2).sum}%.2f s")
    spark.stop()
  }
}
