package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session factory: the engine's recommended Spark configuration
  * for local runs and cluster deployment, with the native function
  * extensions (`graft_dot`) installed for pure-SQL users.
  *
  * Sizing rules behind the defaults (100 TB, ~1000-executor frame of
  * reference):
  *  - `spark.sql.shuffle.partitions` ≈ 2–3× total executor cores, then let
  *    AQE COALESCE per stage: oversized-then-coalesced beats undersized (a
  *    too-small fixed value spills; AQE merges partitions but never splits
  *    a non-skewed one).
  *  - `spark.sql.files.maxPartitionBytes` 128 MiB keeps scan tasks at the
  *    object-store-friendly request unit, and bounds a task's working set
  *    when a whole partition materializes (sorts, hash maps).
  *  - AQE skew-join ON: splits oversized post-shuffle partitions of
  *    sort-merge joins at runtime — complementing the engine's own static
  *    guards (salted aggregation, shingle DF cutoff, LSH plane count),
  *    which cover the aggregation/candidate-join skew AQE cannot touch.
  *  - UTC session timezone: event-time windows must not depend on the
  *    submitting host's locale.
  *  - `spark.sql.codegen.cache.maxEntries` 5000 instead of Spark's 100: one
  *    pass of the analytics workload generates about 200 distinct classes,
  *    so at 100 every warm rerun of the same queries recompiled its classes
  *    (about 400 compiles over 16 warm queries, against 4–22 at 5000).  The
  *    cache is JVM-global and static: Spark sizes it once, from the conf of
  *    the first session in the JVM that generates code.  Its heap cost follows
  *    the entries actually held, not the cap — retained heap on the
  *    analytics workload grew by about 3 MB.  `Bench` sets the same value
  *    with its own `.config` line, because it is a driver contract file.
  */
object GraftSession {

  /** The conf pairs [[builder]] applies — exposed for inspection/tests. */
  val recommendedConf: Seq[(String, String)] = Seq(
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // AQE's coalescing floor (default 1 MiB) measures partitions in BYTES,
    // but the candidate-pair stages of the near-dup family are CPU-dense
    // and byte-light: a few MB of (doc_a, doc_b) pairs carry seconds of
    // per-row aggregation work, and the 1 MiB floor coalesced them to 2
    // tasks on a 32-core box (q_ngram_jaccard's join stage: 2.16 s task
    // time on 2 tasks, 1.13 s wall).  64 KiB keeps such stages wide
    // (measured warm wall 2.41 → 1.63 s); at scale this floor is inert —
    // real shuffles sit at the advisory partition size (64 MiB), three
    // orders of magnitude above it, so only byte-light stages (where an
    // extra task is nearly free) are ever split finer.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
    "spark.sql.session.timeZone" -> "UTC",
    // Spark 4 keys the generated-class (Janino) cache by each session's
    // artifact state when artifact isolation is on (the default, built for
    // Connect's per-session JAR/UDF uploads).  This engine runs classic
    // sessions with no per-session artifacts, and its iterative graph
    // loops plan on newSession() children for conf isolation — under
    // artifact isolation every child would recompile every generated
    // class (measured 3x on the contraction rounds).  Pre-4.0 behavior:
    // one shared cache.
    "spark.sql.artifact.isolation.enabled" -> "false",
    // generated classes stay resident across warm reruns (sizing above)
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    // TIMESTAMP(NANOS) parquet (the events fixture) read as long nanos —
    // set ONCE here, not inside query closures, so no query's result
    // depends on which queries ran before it in the same session.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // File-commit protocol sized for MANY SMALL transactional writes (the
    // TxTable/IVM shape: a segment dir per commit): algorithm v2 renames
    // task output into the destination at task commit — one rename pass
    // instead of two.  Safe under this engine's layout because every write
    // targets a FRESH uuid segment directory that only becomes visible
    // when a manifest references it post-job — a failed job orphans an
    // unreferenced directory (vacuumed later), never a half-visible table
    // state.  _SUCCESS markers are likewise redundant under manifest
    // publication.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    recommendedConf.foldLeft(
      SparkSession.builder()
        .master(master)
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)) {
      case (b, (k, v)) => b.config(k, v)
    }
}
