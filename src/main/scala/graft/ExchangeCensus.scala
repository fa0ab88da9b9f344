package graft

/** Exchange-budget census over the registered catalog: for each named query,
  * build the final frame at sf0.001 and count the shuffle and broadcast
  * exchanges its static physical plan carries.  An accidental extra shuffle
  * does not change answers, so without a recorded budget it is invisible
  * until a bench regresses; with one it fails CI naming the query.
  *
  * Two consumers share [[countExchanges]]:
  *  - PlansSpec's exact pins (the ~27 most expensive plans, asserted
  *    EXACTLY), and
  *  - the full-catalog drift guard: `runMain graft.ExchangeCensus --record`
  *    snapshots every query's counts into
  *    `src/test/resources/exchange_census.tsv`, and PlansSpec fails any
  *    query whose counts GREW past the snapshot (decreases pass — re-record
  *    to ratchet them in).  Re-record after any deliberate plan change or
  *    query registration, with the commit explaining the move.
  *
  * `runMain graft.ExchangeCensus [--record] [sfDir] [name ...]` — without
  * `--record` it prints counts plus one line per exchange (partitioning /
  * build side) for the named queries (default: all).
  */
object ExchangeCensus {

  val SnapshotPath = "src/test/resources/exchange_census.tsv"

  /** Queries excluded from the census: q_aqe_skew's in-body gate asserts a
    * RUNTIME AQE re-plan, which the census's AQE-off session never makes
    * (Verify/selfcheck validate it under the driver session). */
  val Skip: Set[String] = Set("q_aqe_skew")

  /** The JOB-COUNT census tier: the (shuffles, broadcasts) census sees the
    * static plan, but the r13 floor misses (q_cc_contraction,
    * q_tx_ann_incremental) were both DRIVER-SIDE bound — N actions × job
    * fixed cost, a dimension no exchange count can see.  For these
    * queries (the catalog's top multi-action plans by the `--jobs` survey:
    * iterative graph loops, TxTable commit scenarios, streaming ladders),
    * `--record` also EXECUTES the query under a job listener and snapshots
    * actions-per-query as a third census column; PlansSpec grow-guards it
    * like exchanges, so a new per-round action (the exact regression class
    * round 14 removed from the CC loop) fails CI naming the query instead
    * of surfacing as an unexplained bench drift.  Counts are measured in
    * the replica session at sf0.001 and include every job from query
    * construction through one full materialization (`collect`).  Each
    * count starts from an empty fixture footer memo
    * (`Fixtures.clearFooterMemo`), so every fixture file a query opens
    * costs its one schema-inference job whatever ran before it. */
  val JobsTracked: Set[String] = Set(
    // Selection: the `--jobs` survey's action-heavy tail, admitted in two
    // waves — every query the r13 survey measured at ≥15 actions, then
    // (r15) the whole 10-14-action band, since the r13/r14 floor history
    // showed driver-side job regressions are the live regression class and
    // the exchange census cannot see them.  The set is KEPT-ONCE-TRACKED:
    // optimization can later drop a member's count below any admission
    // threshold (q_cc_contraction entered at 36 actions and now runs 11;
    // q_tx_ivm_join 32 → 30) and the guard exists precisely to keep such
    // wins from silently eroding — a fresh survey re-run informs NEW
    // admissions, never removals.
    "q_st20_stream_ann_maintain", "q_cc_contraction",
    "q_tx_ann_incremental", "q_tx_ivm_join", "q_tx_zorder", "q_tx_ivm",
    "q_st16_stream_ann", "q_tx_compact_zorder", "q_st4_streaming_upsert",
    "q_bpe_train_batched", "q_tx_dv_point", "q_tx_zorder_multi",
    "q_pagerank", "q_purge_keys", "q_tx_autocompact", "q_st14_stream_ivm",
    "q_ancestors", "q_ancestors_deep", // the 64-deep fold path: ~3 jobs/depth
    "q_tx_ann_lists", "q_tx_cdf", "q_tx_dfp", "q_tx_bloom",
    "q_st13_stream_cms", "q_st17_stream_psi",
    // the r15 10-14-action band (survey values at admission)
    "q_skew_split_join", "q_spearman", "q_st19_stream_wilson_gate",
    "q_st10_stream_outer_join", "q_hybrid_rrf", "q_tx_prune",
    "q_tx_history", "q_tx_stats_sidecar", "q_pq_topk_trained", "q_tx_dv",
    "q_tx_vacuum_tt", "q_tx_prune_str", "q_st8_stream_sessions",
    "q_st12_session_timeout", "q_s10_upsert_partitioned", "q_tx_wap",
    "q_tx_constraint", "q_st15_stream_decode", "q_st6_stream_stream_join",
    "q_mmr_topk", "q_lpa_communities", "q_dedup_best",
    // the Wilson-gated recall audits: gateOnce localizes their returned
    // frames, so the exchange tiers can no longer see their cost — the
    // jobs column is their only census guard (q_mutual_knn_ivf_recall
    // previously carried a 12/2 exact exchange pin)
    "q_mutual_knn_ivf_recall", "q_matryoshka_ivf_recall",
    "q_mutual_knn_prefix_recall")

  /** Count Spark JOBS (actions) launched on `spark`'s context while `body`
    * runs.  The listener bus is asynchronous, so after the blocking body
    * returns the bus is drained DETERMINISTICALLY: every submitted job has
    * ended (the body blocked on its actions), so the drain condition is
    * "ends == starts AND the count held for two consecutive reads" — a
    * backed-up bus on a loaded machine delays the condition rather than
    * slipping an undercounted snapshot past a fixed wall-clock cap.  The
    * 30 s ceiling exists only for a wedged bus and fails LOUDLY rather
    * than returning a too-low count. */
  def countJobs(spark: org.apache.spark.sql.SparkSession)(body: => Unit): Int = {
    val starts = new java.util.concurrent.atomic.AtomicInteger
    val ends = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        starts.incrementAndGet(); ()
      }
      override def onJobEnd(
          je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        ends.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      var prev = -1
      var stable = 0
      var waited = 0
      while ((stable < 2 || ends.get != starts.get) && waited < 30000) {
        val v = starts.get
        if (v == prev) stable += 1 else stable = 0
        prev = v
        Thread.sleep(100)
        waited += 100
      }
      if (ends.get != starts.get)
        sys.error(s"countJobs: listener bus failed to drain in 30 s " +
          s"(starts=${starts.get}, ends=${ends.get}) — count untrustworthy")
    } finally spark.sparkContext.removeSparkListener(listener)
    starts.get
  }

  /** Canonicalized-distinct (shuffles, broadcasts) of a frame's STATIC
    * executed plan.  Exchanges are inserted by EnsureRequirements (an
    * executedPlan preparation); queries that derive their own session
    * inherit AQE from the SparkConf regardless of the caller's override, so
    * an adaptive wrapper is unwrapped to its INITIAL plan
    * (post-EnsureRequirements, nothing executed yet).  Counts dedup on
    * `canonicalized` — exactly the equality ReuseExchange uses — so an AQE
    * initial plan that still carries duplicates it will reuse at runtime
    * counts them once, like the AQE-off plan's ReusedExchangeExec already
    * does. */
  def countExchanges(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    (plan.collect { case e: ShuffleExchangeExec => e }
       .map(_.canonicalized).distinct.size,
     plan.collect { case e: BroadcastExchangeExec => e }
       .map(_.canonicalized).distinct.size)
  }

  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    val record = args.contains("--record")
    val jobsSurvey = args.contains("--jobs")
    val rest = args.filterNot(a => a == "--record" || a == "--jobs").toSeq
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    // Record mode REPLICATES the consumer's environment (SparkTestBase +
    // the drift test's experimental extras) instead of GraftSession:
    // counts must be taken where they are asserted.  Two measured reasons
    // a GraftSession census records different numbers than the test sees:
    // (a) an explicit repartition(np) exchange canonicalizes EQUAL to an
    // EnsureRequirements hash(k, np) only when np == the session's shuffle
    // partitions; (b) extension-injected vs experimental-appended
    // optimizer rules run at different batch positions, which changes
    // inferred not-null filters around rewritten windows and with them
    // whole-subtree exchange REUSE (q_scd2_upsert: 3 exchanges under
    // GraftSession, 5 under the test session).
    val spark =
      if (record || jobsSurvey) {
        val base = org.apache.spark.sql.SparkSession.builder()
          .master("local[2]")
          .config("spark.sql.shuffle.partitions", "2")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.sql.legacy.parquet.nanosAsLong", "true")
          .config("spark.ui.enabled", "false")
          .getOrCreate()
        val ss = base.newSession()
          .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        ss.experimental.extraOptimizations = Seq(graft.plans.RewriteRankFilterToTopK)
        ss.experimental.extraStrategies = Seq(graft.plans.TopKPerKeyStrategy)
        ss.conf.set("spark.sql.adaptive.enabled", "false")
        ss
      } else GraftSession.builder("local[8]", 8)
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // register graft_dot/graft_cos up front: query bodies that reach
    // cosineNative WITHOUT passing a Vector entry point (TxTable ANN
    // scenarios, streaming ladders) resolve the function by name and must
    // not depend on an earlier query having registered it in this session
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val names =
      if (rest.length > 1) rest.drop(1)
      else graft.queries.Catalog.all.map(_.name).filterNot(Skip)
    if (jobsSurvey) {
      // the selection survey behind JobsTracked: execute EVERY named query
      // under the job listener and print actions-per-query sorted
      // descending — re-run after major registration changes to check the
      // tracked set still covers the catalog's most action-heavy plans
      val counts = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
      for (n <- names) {
        try {
          graft.queries.Fixtures.clearFooterMemo()
          val jobs = countJobs(spark) {
            SparkEntry.queries(n)(spark, sfDir).collect(); ()
          }
          counts += ((n, jobs))
          println(s"[census] $n jobs=$jobs")
        } catch {
          case t: Throwable =>
            println(s"[census] $n RUN FAILED: ${String.valueOf(t.getMessage).take(120)}")
        }
      }
      println("[census] --jobs survey, descending:")
      counts.sortBy(-_._2).foreach { case (n, j) => println(s"[census]   $n\t$j") }
      spark.stop(); return
    }
    val recorded = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int, Option[Int])]
    for (n <- names) {
      try {
        if (record && JobsTracked(n)) {
          // jobs tier: the listener window spans query CONSTRUCTION (in-body
          // scenario commits / gates are jobs too) through one collect
          var sb = (0, 0)
          graft.queries.Fixtures.clearFooterMemo()
          val jobs = countJobs(spark) {
            val df = SparkEntry.queries(n)(spark, sfDir)
            sb = countExchanges(df)
            df.collect(); ()
          }
          recorded += ((n, sb._1, sb._2, Some(jobs)))
          println(s"[census] $n shuffles=${sb._1} broadcasts=${sb._2} jobs=$jobs")
        } else {
          val df = SparkEntry.queries(n)(spark, sfDir)
          val (s, b) = countExchanges(df)
          recorded += ((n, s, b, None))
          println(s"[census] $n shuffles=$s broadcasts=$b")
          if (!record) {
            val plan = df.queryExecution.executedPlan
            plan.collect { case e: ShuffleExchangeExec => e }
              .foreach(e => println(s"[census]   shuffle: ${e.outputPartitioning}"))
            plan.collect { case e: BroadcastExchangeExec => e }
              .foreach(e => println(s"[census]   broadcast: ${e.mode.getClass.getSimpleName}"))
          }
        }
      } catch {
        case t: Throwable =>
          println(s"[census] $n BUILD FAILED: ${String.valueOf(t.getMessage).take(120)}")
      }
    }
    if (record) {
      val lines = recorded.sortBy(_._1)
        .map { case (n, s, b, j) => s"$n\t$s\t$b" + j.map("\t" + _).getOrElse("") }
      java.nio.file.Files.write(java.nio.file.Paths.get(SnapshotPath),
        (("# generated by `sbt \"runMain graft.ExchangeCensus --record\"` — " +
          "per-query (shuffles, broadcasts) of the static plan at sf0.001, " +
          "plus actions-per-query (4th column) for the JobsTracked tier; " +
          "PlansSpec fails any query that GROWS past these") +: lines)
          .mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[census] recorded ${recorded.size} queries into $SnapshotPath")
    }
    spark.stop()
  }
}
