package graft.engine

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}

/** Scoped execution: the ONE way engine code runs a sub-plan under tuned
  * session conf, and the one way it moves a plan between sessions.  This
  * is the only engine file that sets or unsets session conf.
  *
  * [[run]] hands its body a CHILD of the caller's session: same
  * SparkContext (executors, cached and checkpointed blocks, broadcast
  * machinery are shared), isolated SQLConf.  Whatever the body tunes is
  * never visible on the caller's session, not even mid-run to a query
  * planning concurrently on another thread (GraphSpec and
  * ConfIsolationSpec pin this with a two-thread sampler).
  *
  * RESET ON BORROW: every borrow first resets the child's conf to exactly
  * the caller's CURRENT runtime conf plus `overrides` — keys the child
  * holds that the caller does not are unset, the caller's keys copied — so
  * whatever an earlier body set on a pooled child never reaches the next
  * borrower, and no caller needs a save, restore or unset of its own.
  *
  * Children are POOLED per parent, not created per call: with artifact
  * isolation on (Spark 4's default) the generated-class cache is keyed by
  * each session's artifact state, so a throwaway child would
  * Janino-recompile every plan it runs on every call — measured 3× on the
  * contraction rounds.  A reused child keeps its codegen warm; concurrent
  * bodies on one parent each borrow their OWN child (a fresh one when the
  * pool is empty).  Entries whose SparkContext has stopped are evicted on
  * every borrow, so a JVM that creates sessions over many contexts does
  * not accumulate dead session state.
  *
  * A QueryExecutionListener registered on the caller's session does not
  * see the body's plans (listener managers are per session); SparkListener
  * events and SparkContext local properties (job groups, tags) are shared. */
object Scoped {

  private val pool =
    new ConcurrentHashMap[SparkSession, ConcurrentLinkedQueue[SparkSession]]()

  /** Run `body` on a pooled child of `parent` whose conf is exactly
    * `parent`'s current runtime conf plus `overrides`. */
  def run[T](parent: SparkSession, overrides: Map[String, String] = Map.empty)
            (body: SparkSession => T): T = {
    pool.keySet.removeIf(p => p.sparkContext.isStopped)
    val q = pool.computeIfAbsent(parent, _ => new ConcurrentLinkedQueue[SparkSession])
    val child = Option(q.poll()).getOrElse(parent.newSession())
    try {
      val want = parent.conf.getAll ++ overrides
      val have = child.conf.getAll
      // static and context keys are not per-session: both sides hold the
      // same values for them, so the diff never touches them; the guard
      // covers a parent built with extra static options
      def quietly(f: => Unit): Unit = try f catch { case _: Exception => () }
      have.keys.filterNot(want.contains).foreach(k => quietly(child.conf.unset(k)))
      want.foreach { case (k, v) =>
        if (!have.get(k).contains(v)) quietly(child.conf.set(k, v))
      }
      body(child)
    } finally q.add(child)
  }

  /** `df`'s analyzed plan as a frame of `target` (a session of the SAME
    * SparkContext): plan-level only, no data moves and nothing is written
    * to the catalog.  Actions on the result, and on anything derived from
    * it, plan under `target`'s conf.  A frame carrying an `Observation`
    * must keep its own session: the observation's listener is registered
    * there. */
  def onto(df: DataFrame, target: SparkSession): DataFrame =
    if (df.sparkSession eq target) df
    else GraftSqlBridge.ofRows(target, df.queryExecution.analyzed)

  /** Rounds at or below this persisted size are FIXED-COST-BOUND: per-job
    * scheduling, not data, dominates — and skew physically cannot matter
    * (the whole round fits in one executor's memory many times over). */
  private val TinyRoundBytes: Long = 256L << 20
  /** Target per-partition bytes for tiny rounds — small enough to keep a
    * few-way parallelism on multi-MB rounds, large enough that a round is
    * a handful of tasks, not `spark.sql.shuffle.partitions` of them. */
  private val BytesPerRoundPartition: Long = 4L << 20
  private val MinRoundPartitions = 4
  private val RoundKeys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")

  /** The per-round regime of the iterative loops (r14, the q_cc JobProfile
    * finding: the floor is round count × per-JOB fixed cost, and under AQE
    * every exchange materializes as its OWN job — ~10 scheduling
    * round-trips per contraction round over kilobyte-scale frames).
    *
    * The loops materialize EVERY round via localCheckpoint, so the exact
    * size of a round's input is known at plan time — the one fact AQE
    * discovers at run time.  So the loop does its own "static AQE": when
    * `cur`'s checkpoint is tiny this sets, on the `loop` child, adaptive
    * execution off (whole round = ONE job, all stages pipelined) and
    * `spark.sql.shuffle.partitions` sized from the measured bytes; rounds
    * past [[TinyRoundBytes]] get `parent`'s values back, preserving runtime
    * skew handling exactly where skew can exist.  On a 100 TB graph the
    * early rounds run under full AQE and only the converged tail drops into
    * the tuned regime.  Measured at sf0.1 (warm walls): 6.7-7.5 s
    * session-AQE → 4.0-4.7 s tuned, machine-matched.
    *
    * `disableBroadcast` (contraction-style loops): tiny rounds trade
    * BROADCAST joins for shuffle joins — every broadcast materializes
    * through its own driver job, and when BOTH join sides shrink with the
    * rounds the merge join's shuffle is a few hundred KB (q_cc_contraction:
    * 41 jobs / 4.26 s jobs-sum with broadcasts vs 16 / 2.43 s without).
    * Loops joining a tiny side against a STATIC relation keep broadcasts:
    * re-shuffling the static side every round costs more than the
    * broadcast job it saves (q_ccf 0.26 → 0.60 s when disabled there).
    *
    * Returns true ⇔ the round entered the tiny regime — the same decision
    * some loops use to pick a rounds-batching strategy. */
  private[engine] def tuneRound(loop: SparkSession, parent: SparkSession,
                                cur: DataFrame,
                                disableBroadcast: Boolean = false): Boolean = {
    val base = RoundKeys.map(k => k -> parent.conf.get(k)).toMap
    val tiny = checkpointBytes(cur).filter(_ <= TinyRoundBytes).map { b =>
      val parts = math.min(base("spark.sql.shuffle.partitions").toInt,
        math.max(MinRoundPartitions, (b / BytesPerRoundPartition).toInt + 1))
      Map("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> parts.toString) ++
        (if (disableBroadcast) Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")
         else Map.empty)
    }
    (base ++ tiny.getOrElse(Map.empty)).foreach { case (k, v) => loop.conf.set(k, v) }
    tiny.isDefined
  }

  /** Measured storage footprint of a localCheckpoint'd frame's persisted
    * blocks (memory + spilled disk), or None when the storage layer has no
    * report (not a checkpoint, already freed). */
  private def checkpointBytes(df: DataFrame): Option[Long] = {
    val sc = df.sparkSession.sparkContext
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.flatMap(id => sc.getRDDStorageInfo.find(_.id == id))
      .map(i => i.memSize + i.diskSize)
  }
}
