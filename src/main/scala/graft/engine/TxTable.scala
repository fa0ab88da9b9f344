package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal TRANSACTIONAL table format — the missing piece `Tables.compact`
  * documents (a racing lister can catch the gap between its two renames):
  * the Delta/Iceberg idea with zero dependencies.  One table =
  *
  * {{{
  *   <root>/data/<uuid>/part-*.parquet   immutable data segments
  *   <root>/cdc/<uuid>/part-*.parquet    per-commit change segments (CDF)
  *   <root>/dv/<uuid>/part-*.parquet     deletion-vector key sets (merge-on-read)
  *   <root>/_txlog/v<NNNNNNNNNN>.json    manifest: the segment list of version N
  *   <root>/_txlog/v<NNNNNNNNNN>.claim   zero-byte slot claim (commit CAS)
  * }}}
  *
  * Every commit writes its data into a FRESH uuid segment directory, then
  * publishes a manifest listing the segments that make up the new snapshot
  * via write-temp + rename — ONE metadata operation, so a reader resolving
  * the log sees either version N or N+1, never a half-swapped directory.
  * Old segments are untouched until [[vacuum]], so a reader that resolved
  * version N keeps reading a consistent snapshot while N+1..N+k land
  * (snapshot isolation, and time travel for free via [[readVersion]]).
  *
  * Commit concurrency: version slot vN is CLAIMED with a create-exclusive
  * zero-byte `vN.claim` before the manifest rename.  On local filesystems
  * the claim goes through `O_CREAT|O_EXCL` (nio `Files.createFile`), which
  * the kernel arbitrates — two racing local committers cannot both claim
  * vN, closing the POSIX `rename(2)`-overwrites hole; on HDFS/object
  * stores `FileSystem.create(path, overwrite = false)` has the same
  * refuse-on-exist contract (and ONLY refuse-on-exist counts as a lost
  * race — other IOExceptions surface as real failures).  The claim winner
  * then publishes EXCLUSIVELY (readers still see one atomic metadata op):
  * on local filesystems the fully-written temp file is hard-LINKED to the
  * manifest path (`link(2)` is atomic, exposes complete content only, and
  * fails with EEXIST — POSIX `rename(2)` would silently overwrite an
  * existing manifest); on HDFS-semantics stores `FileSystem.rename`
  * already refuses an existing destination.  The loser re-reads the head
  * and retries the next slot with jittered backoff.  Liveness: a
  * committer that dies between claim and publish cannot wedge the slot —
  * the retry path and [[vacuum]] reap a claim with no manifest once it is
  * older than `spark.graft.tx.staleClaimMs` (default 10 min); if the
  * "dead" committer was merely slow and publishes after its claim was
  * reaped and the slot re-won, the exclusive link/rename arbitrates — the
  * late publisher ERRORS rather than clobbering the already-acknowledged
  * winner manifest.
  *
  * Exactly-once bookkeeping: EVERY manifest carries the maximum streaming
  * batch id committed so far (`batch` is carried forward through append /
  * merge / delete / compact / overwrite), the way Delta persists per-app
  * txn versions — so [[lastCommittedBatch]] is a single head-manifest read
  * and [[vacuum]] can never drop the replay horizon.  The replay check is
  * re-verified INSIDE the commit retry loop, after the head re-read, so
  * the id-check and the version CAS are one optimistic decision.
  *
  * At 100 TB: manifests hold segment DIRECTORIES, not files, so a manifest
  * stays KBs regardless of data size; readers list only the segments of
  * their snapshot (no full-lake listing); compaction is a normal commit
  * that swaps many small segments for few large ones with readers never
  * blocked.  Commits may record per-segment min/max column stats in the
  * manifest (`statsCols` — numeric OR string columns), and [[readWhere]] /
  * [[readWhereString]] use them to prune whole segments before any footer
  * is opened — manifest-level data skipping, carried across
  * merge/delete/compact rewrites by [[carryStats]] and through the
  * streaming sinks' commits.
  *
  * Metadata scale (the manifest-list level, BUILT): stats (and ~1.2 KB
  * Blooms) live inline in the JSON manifest only while small — past
  * `spark.graft.tx.statsInlineMax` (seg, col) cells the commit writes
  * them to a per-commit SIDECAR (`_txlog/s-<uuid>.json`) the manifest
  * references by name, the Iceberg/Delta sharding idea.  The head
  * manifest every snapshot open and commit head-probe reads stays
  * O(segments) thin at any table size; only the paths that CONSUME stats
  * (pruned reads, stat-carrying commits, restore) fetch the sidecar
  * (`readManifest(withStats = true)`).  The sidecar is uniquely named and
  * written before its manifest publishes, so a published manifest always
  * finds it, a losing racer's sidecar is an orphan [[vacuum]] reaps once
  * stale, and the commit protocol (claim CAS + exclusive publish) is
  * unchanged.
  */
object TxTable {

  private val LogDir = "_txlog"
  /** Sentinel returned by [[commit]] when the batch-id replay guard fired:
    * the micro-batch was already committed, nothing was published. */
  private val ReplayNoOp = -1L

  /** Per-segment-per-column [min, max] with a type tag: "n" = numeric
    * (exact decimal strings, BigDecimal-compared), "s" = string
    * (printable-ASCII only, lexicographically compared — matching Spark's
    * UTF8String binary ordering on that subset).  String bounds containing
    * `"`, `\` or non-ASCII are NOT recorded (conservative keep) so the
    * dependency-free manifest JSON stays exact without an escaper.
    * Tag "b" = a base64 Bloom filter over the column (stored in `lo` under
    * the synthetic column key `<col>#bloom`), for [[readWhereEquals]]
    * point-lookup skipping where min/max can't help. */
  private case class ColStat(lo: String, hi: String, tag: String)

  // stats: segment -> column -> ColStat — manifest-level data skipping (the
  // Delta/Iceberg idea): a filtered read prunes whole SEGMENTS from the
  // manifest before any footer is opened
  // cdc: change segments ("cdc/<uuid>") recorded by THIS commit when change
  // data capture was requested — per-commit, never carried forward
  // dvs: DELETION VECTORS — each entry is "dv/<uuid>|<dataSeg>|<dataSeg>…":
  // a tombstone-key segment plus the data segments it applies to (scoped to
  // the snapshot that existed when the DV committed, so later re-inserts of
  // a deleted key are NOT suppressed).  Pipe-joined flat strings keep the
  // dependency-free JSON exact (segment names are uuids, never '|')
  // schema: base64 of the snapshot's logical StructType JSON — SCHEMA
  // EVOLUTION support: appends may add columns or omit existing ones
  // (reads null-fill), type changes are refused AT COMMIT TIME, and a
  // recorded schema lets reads plan WITHOUT opening any segment footer
  // (mergeSchema's per-read footer sweep is the cost this removes); each
  // manifest keeps its own snapshot's schema, so time travel reads the
  // schema of its era
  // statsRef: name of a PER-COMMIT STATS SIDECAR (`_txlog/s-<uuid>.json`)
  // holding this manifest's stats object when it exceeds the inline-cell
  // budget (`spark.graft.tx.statsInlineMax`) — the manifest-list evolution
  // the metadata-scale boundary above names: the head manifest every
  // snapshot open and commit re-read parses stays O(segments) thin, and
  // the O(segments × tracked columns) stats body is fetched only by the
  // paths that consume stats (pruned reads, stat-carrying commits).
  // Mutually exclusive with inline `stats`; the sidecar is written BEFORE
  // the manifest publishes (uniquely named, so a losing racer's sidecar is
  // just an orphan vacuum reaps once stale)
  private case class Manifest(version: Long, op: String, segments: Seq[String],
                              batch: Option[Long] = None,
                              stats: Map[String, Map[String, ColStat]] = Map.empty,
                              cdc: Seq[String] = Nil,
                              dvs: Seq[String] = Nil,
                              schema: Option[String] = None,
                              statsRef: Option[String] = None)

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(root: String, v: Long): Path =
    new Path(s"${root.stripSuffix("/")}/$LogDir/v${"%010d".format(v)}.json")

  private def claimPath(root: String, v: Long): Path =
    new Path(s"${root.stripSuffix("/")}/$LogDir/v${"%010d".format(v)}.claim")

  private def statsJsonBody(stats: Map[String, Map[String, ColStat]]): String =
    "{" + stats.map { case (seg, cols) =>
      "\"" + seg + "\":{" + cols.map { case (c, st) =>
        "\"" + c + "\":[\"" + st.lo + "\",\"" + st.hi + "\",\"" + st.tag + "\"]"
      }.mkString(",") + "}"
    }.mkString(",") + "}"

  private def writeJson(m: Manifest): String =
    s"""{"version":${m.version},"op":"${m.op}",""" +
      m.batch.map(b => s""""batch":$b,""").getOrElse("") +
      m.schema.map(s => s""""schema":"$s",""").getOrElse("") +
      m.statsRef.map(r => s""""statsRef":"$r",""").getOrElse("") +
      (if (m.cdc.isEmpty) "" else
        """"cdc":[""" + m.cdc.map(s => "\"" + s + "\"").mkString(",") + "],") +
      (if (m.dvs.isEmpty) "" else
        """"dvs":[""" + m.dvs.map(s => "\"" + s + "\"").mkString(",") + "],") +
      """"segments":[""" +
      m.segments.map(s => "\"" + s + "\"").mkString(",") + "]" +
      (if (m.stats.isEmpty) "" else ""","stats":""" + statsJsonBody(m.stats)) + "}"

  private def parseJson(s: String): Manifest = {
    // segments are uuid dir names and stats values are decimal strings or
    // escape-free ASCII (segStats refuses anything else), so a
    // dependency-free extraction is exact
    val version = """"version":(\d+)""".r.findFirstMatchIn(s).get.group(1).toLong
    val op = """"op":"([^"]*)"""".r.findFirstMatchIn(s).get.group(1)
    val batch = """"batch":(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
    val segs = """"segments":\[([^\]]*)\]""".r.findFirstMatchIn(s).get.group(1)
    def splitList(body: String): Seq[String] =
      if (body.trim.isEmpty) Seq.empty
      else body.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
    val segments = splitList(segs)
    val cdc = """"cdc":\[([^\]]*)\]""".r.findFirstMatchIn(s)
      .map(m0 => splitList(m0.group(1))).getOrElse(Seq.empty)
    val dvs = """"dvs":\[([^\]]*)\]""".r.findFirstMatchIn(s)
      .map(m0 => splitList(m0.group(1))).getOrElse(Seq.empty)
    val schema = """"schema":"([^"]*)"""".r.findFirstMatchIn(s).map(_.group(1))
    val statsRef = """"statsRef":"([^"]*)"""".r.findFirstMatchIn(s).map(_.group(1))
    val stats = """"stats":\{(.*)\}\}$""".r.findFirstMatchIn(s).map(_.group(1)) match {
      case None => Map.empty[String, Map[String, ColStat]]
      case Some(body) => parseStatsBody(body)
    }
    Manifest(version, op, segments, batch, stats, cdc, dvs, schema, statsRef)
  }

  private def parseStatsBody(body: String): Map[String, Map[String, ColStat]] =
    """"(data/[^"]+)":\{([^}]*)\}""".r.findAllMatchIn(body).map { m0 =>
      val cols = """"([^"]+)":\["([^"]*)","([^"]*)"(?:,"([nsb])")?\]""".r
        .findAllMatchIn(m0.group(2))
        .map(c => c.group(1) ->
          ColStat(c.group(2), c.group(3), Option(c.group(4)).getOrElse("n"))).toMap
      m0.group(1) -> cols
    }.toMap

  private def encodeSchema(s: org.apache.spark.sql.types.StructType): String =
    java.util.Base64.getEncoder.encodeToString(
      s.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def decodeSchema(b64: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(
      new String(java.util.Base64.getDecoder.decode(b64),
        java.nio.charset.StandardCharsets.UTF_8))
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** All-nullable copy — recorded schemas never enforce non-null (an
    * evolved column is null-filled in pre-evolution segments). */
  private def relaxed(s: org.apache.spark.sql.types.StructType) =
    org.apache.spark.sql.types.StructType(s.fields.map(_.copy(nullable = true)))

  /** Evolve `base` by `incoming`: existing columns must keep their exact
    * type (refused HERE, at commit time — not at some future read), new
    * columns append.  Column order: base order, then additions. */
  private def mergeEvolve(base: org.apache.spark.sql.types.StructType,
                          incoming: org.apache.spark.sql.types.StructType,
                          root: String): org.apache.spark.sql.types.StructType = {
    val out = scala.collection.mutable.ArrayBuffer(relaxed(base).fields: _*)
    relaxed(incoming).fields.foreach { f =>
      out.indexWhere(_.name == f.name) match {
        case -1 => out += f
        case i => require(out(i).dataType == f.dataType,
          s"TxTable: schema evolution cannot change column '${f.name}' from " +
            s"${out(i).dataType.simpleString} to ${f.dataType.simpleString} under $root")
      }
    }
    org.apache.spark.sql.types.StructType(out.toSeq)
  }

  /** The head snapshot's recorded logical schema (None for tables whose
    * head predates schema recording). */
  def tableSchema(spark: SparkSession,
                  root: String): Option[org.apache.spark.sql.types.StructType] =
    latestVersion(spark, root)
      .flatMap(v => readManifest(spark, root, v, withStats = false).schema.map(decodeSchema))

  private def headPointerPath(root: String): Path =
    new Path(s"${root.stripSuffix("/")}/$LogDir/_head")

  /** Best-effort head HINT, written after every successful publish — the
    * Delta `_last_checkpoint` idea: without it every head resolution lists
    * the whole `_txlog` directory, an O(retained versions) driver sweep
    * paid by EVERY read and EVERY commit attempt (and on object stores a
    * paged LIST per 1,000 entries).  The pointer is a pure hint, never a
    * correctness input: [[latestVersion]] probes FORWARD from it (a lagging
    * hint from a crash between publish and pointer write, or a lost
    * pointer-write race, costs O(lag) existence checks and still resolves
    * the true head), verifies the hinted manifest exists (an ancient or
    * damaged hint falls back to the listing), and commit exclusivity still
    * comes entirely from the claim/publish arbitration. */
  private def writeHeadHint(f: FileSystem, root: String, v: Long): Unit =
    try {
      val os = f.create(headPointerPath(root), true)
      try os.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally os.close()
    } catch {
      // The hint is best-effort AND the manifest has already published by
      // the time this runs — so NOTHING non-fatal may escape (an escaping
      // exception would make a SUCCEEDED commit look failed to the caller).
      // Interrupts arrive from Hadoop FS calls as InterruptedIOException
      // (an IOException subtype), so match it FIRST; either interrupt form
      // must re-assert the thread's flag before being swallowed.
      case _: java.io.InterruptedIOException => Thread.currentThread().interrupt()
      case _: InterruptedException => Thread.currentThread().interrupt()
      case scala.util.control.NonFatal(_) => ()
    }

  /** Latest committed version, or None for an uninitialized table —
    * resolved through the `_head` hint (O(1 + lag), see
    * [[writeHeadHint]]) with the directory listing as the fallback for
    * pre-hint tables, damaged hints, and bootstrap. */
  def latestVersion(spark: SparkSession, root: String): Option[Long] = {
    val dir = new Path(s"${root.stripSuffix("/")}/$LogDir")
    val f = fs(spark, root)
    val hinted =
      try {
        val h = slurp(f, headPointerPath(root)).trim.toLong
        if (h < 1 || !f.exists(manifestPath(root, h))) None
        else {
          var v = h
          while (f.exists(manifestPath(root, v + 1))) v += 1
          Some(v)
        }
      } catch { case _: Exception => None }
    hinted.orElse {
      if (!f.exists(dir)) None
      else f.listStatus(dir).map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
          n.stripPrefix("v").stripSuffix(".json").toLong }
        .reduceOption(_ max _)
    }
  }

  /** `DESCRIBE HISTORY` — one metadata row per retained commit:
    * `(version, op, n_segments, n_cdc, n_dvs, batch)`.  Reads every
    * manifest THIN (never a stats sidecar, never a data footer), so the
    * driver cost is O(retained versions) small JSON reads — bounded by
    * [[vacuum]] retention, the same bound every time-travel path already
    * lives under.  A bounded `limit` caps that too: the NEWEST `limit`
    * commits resolve through the `_head` hint and walk DOWN — O(limit)
    * manifest reads GIVEN A HEALTHY HINT (the steady state: every publish
    * rewrites it); when the hint is missing or damaged (pre-hint tables,
    * bootstrap) [[latestVersion]] falls back to one full directory
    * listing to find the head, and only the walk below it stays O(limit).
    * Measured 1.52 s for the full sweep at 10k retained versions vs flat
    * ~3 ms for limit=20 at any depth (ScaleProbe txlog table).  The audit surface an operator reaches for
    * first: what happened to this table, in what order, and did any
    * streaming batch land twice (the carried `batch` watermark answers
    * that without opening a single segment). */
  def history(spark: SparkSession, root: String,
              limit: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    require(limit >= 1, s"TxTable.history: limit must be >= 1, got $limit")
    val dir = new Path(s"${root.stripSuffix("/")}/$LogDir")
    val f = fs(spark, root)
    val versions =
      if (limit != Int.MaxValue)
        // newest-first through the head hint: O(limit) existence-checked
        // manifest reads, no directory listing; vacuum keeps a contiguous
        // newest suffix, so the walk stops at the retention horizon
        latestVersion(spark, root).toSeq.flatMap { head =>
          Iterator.iterate(head)(_ - 1)
            .takeWhile(v => v >= 1 && v > head - limit &&
              f.exists(manifestPath(root, v)))
            .toSeq.sorted
        }
      else if (!f.exists(dir)) Seq.empty[Long]
      else f.listStatus(dir).map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
          n.stripPrefix("v").stripSuffix(".json").toLong }.toSeq.sorted
    val rows = versions.map { v =>
      val m = readManifest(spark, root, v, withStats = false)
      Row(m.version, m.op, m.segments.size.toLong, m.cdc.size.toLong,
        m.dvs.size.toLong, m.batch.map(java.lang.Long.valueOf).orNull)
    }
    // LOCAL relation, not a parallelize'd RDD (r17, guide §5): history is
    // pure driver-held metadata (O(retained versions) rows already in
    // hand), and a LocalRelation lets metadata consumers — filter/project/
    // limit + collect, the maintenance-loop shape — fold driver-side via
    // ConvertToLocalRelation and execute with ZERO scheduled jobs, where
    // the RDD form paid a task launch per read of a few dozen rows
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.asJava,
      StructType(Seq(
        StructField("version", LongType, false),
        StructField("op", StringType, false),
        StructField("n_segments", LongType, false),
        StructField("n_cdc", LongType, false),
        StructField("n_dvs", LongType, false),
        StructField("batch", LongType, true))))
  }

  /** Read version `v`'s manifest.  `withStats = false` is the THIN read
    * for paths that never consume stats (head probes for batch/schema,
    * snapshot opens, CDF, vacuum's liveness sweep): when the stats live in
    * a sidecar, the thin read skips fetching it — that asymmetry is the
    * entire point of the sidecar.  Inline stats parse either way (they are
    * already in hand). */
  private def readManifest(spark: SparkSession, root: String, v: Long,
                           withStats: Boolean = true): Manifest = {
    val f = fs(spark, root)
    val m = parseJson(slurp(f, manifestPath(root, v)))
    m.statsRef match {
      case Some(ref) if withStats =>
        val p = new Path(s"${root.stripSuffix("/")}/$LogDir/$ref")
        val body =
          try slurp(f, p)
          catch { case _: java.io.FileNotFoundException =>
            throw new IllegalStateException(
              s"TxTable: stats sidecar $ref of manifest v$v is missing under " +
                s"$root — the sidecar must live exactly as long as its " +
                "manifest (vacuum keeps referenced sidecars); the table " +
                "metadata is damaged")
          }
        m.copy(stats = """^\{"stats":(.*)\}$""".r.findFirstMatchIn(body.trim)
          .map(mm => parseStatsBody(mm.group(1)))
          .getOrElse(throw new IllegalStateException(
            s"TxTable: stats sidecar $ref under $root is malformed")))
      case _ => m
    }
  }

  private def slurp(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
      in.readFully(bytes)
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** [[readManifest]] for a USER-ADDRESSED version: translates the raw
    * FileNotFoundException of a vacuumed-out manifest into a loud, named
    * retention error — time travel / restore / CDF past the vacuum horizon
    * must fail stating the version and the boundary, never resurrect a
    * half-table or surface an opaque missing-file path. */
  private def retainedManifest(spark: SparkSession, root: String, v: Long,
                               withStats: Boolean = true): Manifest =
    try readManifest(spark, root, v, withStats)
    catch {
      case _: java.io.FileNotFoundException =>
        val dir = new Path(s"${root.stripSuffix("/")}/$LogDir")
        val f = fs(spark, root)
        val retained =
          if (!f.exists(dir)) Seq.empty[Long]
          else f.listStatus(dir).map(_.getPath.getName)
            .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
              n.stripPrefix("v").stripSuffix(".json").toLong }.toSeq.sorted
        throw new IllegalStateException(
          s"TxTable: version v$v of $root is not retained " +
            retained.headOption.map(lo =>
              s"(earliest retained v$lo, head v${retained.last})")
              .getOrElse("(no manifests at all)") +
            " — it was removed by vacuum; time travel/restore/CDF cannot " +
            "reach past the retention boundary")
    }

  /** Footer-recorded row total of a staged segment directory — emptiness
    * (and size) decided on the driver from parquet metadata alone, no
    * Spark job; staged segments are delta-sized, so this is a handful of
    * footer reads at most. */
  private def segRecordCount(spark: SparkSession, f: FileSystem, root: String,
                             seg: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    f.listStatus(new Path(s"${root.stripSuffix("/")}/$seg"))
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(st.getPath, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** Write `df` as a fresh segment directory; returns the segment name. */
  private def writeSegment(df: DataFrame, root: String): String = {
    val seg = "data/" + java.util.UUID.randomUUID().toString
    writeSized(df, s"${root.stripSuffix("/")}/$seg")
    seg
  }

  /** Write a CHANGE segment (table columns + `_change_type`) for change
    * data capture; lives under `cdc/`, outside every snapshot's segment
    * list, sized by the CHANGE set (a merge touching 0.1% of keys records
    * ~0.1%-of-table rows), and vacuumed with its manifest. */
  private def writeChangeSegment(df: DataFrame, root: String): String = {
    val seg = "cdc/" + java.util.UUID.randomUUID().toString
    writeSized(df, s"${root.stripSuffix("/")}/$seg")
    seg
  }

  /** Run a segment write with AQE coalescing targeting the ADVISORY byte
    * size instead of machine parallelism (guide §6: output files sized by
    * bytes, and §2.2: fewer larger reduce partitions).  The session
    * default (`parallelismFirst=true`, the right call for CPU-dense
    * byte-light aggregation stages) fans every post-shuffle stage out to
    * the core count — so a change-sized MERGE wrote its few-MB segment
    * through 32 tasks into 32 near-empty files, paying task launches now
    * and per-file opens on every later read of the segment (measured:
    * q_tx_ivm job time −34% with the fanout removed).  The conf is scoped
    * to a pooled conf-isolated child session ([[Graph.borrowLoopSession]])
    * and the plan re-rooted onto it, so no concurrent query on the
    * caller's session ever observes it.  Writes with no shuffle above
    * them (bootstrap appends of a scan) are unaffected — there is nothing
    * to coalesce.  At 100 TB this is strictly the desired behavior: a
    * table's files should sit at the advisory size, not at
    * `executor cores × tiny`. */
  private def writeSized(df: DataFrame, path: String): Unit = {
    // An OBSERVED frame (commitRewriteHit's discard-probe metric) must run
    // its action on the session its Observation listener registered with —
    // re-rooting would leave `Observation.get` waiting forever.  Those
    // writes happen under the IVM refresh's AQE-off regime, where the
    // coalescing conf is inert anyway: write them on the caller unchanged.
    val observed = df.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.CollectMetrics])
    if (observed) { df.write.parquet(path); return }
    val parent = df.sparkSession
    val child = Graph.borrowLoopSession(parent)
    val key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    try {
      child.conf.set(key, "false")
      Graph.reRoot(df, child).write.parquet(path)
    } finally {
      // the pooled child goes back clean: a later borrower gets only the
      // keys its parent sets, not this write's byte-targeted coalescing
      child.conf.unset(key)
      Graph.returnLoopSession(parent, child)
    }
  }

  /** Min/max of each `cols` member (numeric OR string) over one
    * just-written segment, as exact decimal strings (tag "n") or raw
    * ASCII strings (tag "s").  One column-pruned aggregate over the
    * segment — with the parquet aggregate pushdown session conf (S17) this
    * is answered from footer statistics without touching data pages; the
    * cost is per-COMMIT and per-SEGMENT, never proportional to the table. */
  private def segStats(spark: SparkSession, root: String, seg: String,
                       cols: Seq[String]): Map[String, ColStat] = {
    import org.apache.spark.sql.functions.{col, max, min}
    if (cols.isEmpty) return Map.empty
    // FOOTER FAST PATH (r17, guide §5 driver discipline): a just-written
    // segment's min/max for plain integral columns is already in its
    // parquet footers — read them driver-side instead of scheduling a
    // Spark job per commit (the job's agg pushdown answered from the same
    // footers; the job itself was pure scheduling overhead).  Columns the
    // footers can't answer exactly fall through to the aggregate below.
    val footer = footerIntStats(spark, root, seg, cols)
    val rest = cols.filterNot(footer.contains)
    if (rest.isEmpty) return footer.collect { case (c, Some(st)) => c -> st }
    // printable ASCII minus '"' (x22) and '\' (x5C): JSON-safe without escapes
    val safe = "^[\\x20-\\x21\\x23-\\x5B\\x5D-\\x7E]*$"
    val aggs = rest.flatMap(c => Seq(min(col(c)).as(s"__lo_$c"), max(col(c)).as(s"__hi_$c")))
    val row = spark.read.parquet(s"${root.stripSuffix("/")}/$seg")
      .agg(aggs.head, aggs.tail: _*).collect().head
    footer.collect { case (c, Some(st)) => c -> st } ++ rest.flatMap { c =>
      val lo = row.getAs[Any](s"__lo_$c"); val hi = row.getAs[Any](s"__hi_$c")
      (lo, hi) match {
        case (null, _) | (_, null) => None // all-NULL segment: no skipping info
        case (l: String, h: String) =>
          if (l.matches(safe) && h.matches(safe)) Some(c -> ColStat(l, h, "s"))
          else None // unrepresentable bound: conservative keep
        case _ => Some(c -> ColStat(
          new java.math.BigDecimal(lo.toString).toPlainString,
          new java.math.BigDecimal(hi.toString).toPlainString, "n"))
      }
    }.toMap
  }

  /** Driver-side footer min/max for the subset of `cols` that parquet
    * statistics answer EXACTLY: top-level INT32/INT64 columns with no
    * logical-type annotation (or a plain signed-integer one).  Strings are
    * excluded (writers may truncate binary bounds), floats/doubles are
    * excluded (NaN handling diverges from SQL min/max), and anything
    * logical (decimal, date, timestamp) is excluded because its Spark
    * value rendering differs from the raw physical int.  Returned map:
    * present-with-Some = exact bounds (identical to the aggregate path's
    * decimal rendering); present-with-None = provably all-NULL (the
    * aggregate path records nothing); ABSENT = footers can't answer, run
    * the aggregate.  Any surprise (missing stats, unexpected type, IO
    * error) falls back to the aggregate path — this is a pure job-count
    * optimization, never a semantics change. */
  private def footerIntStats(spark: SparkSession, root: String, seg: String,
                             cols: Seq[String])
      : Map[String, Option[ColStat]] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    try {
      val f = fs(spark, root)
      val files = f.listStatus(new Path(s"${root.stripSuffix("/")}/$seg"))
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      if (files.isEmpty) return Map.empty
      // (lo, hi) per answerable column, folded across all files
      val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
      var answerable = cols.toSet
      files.foreach { st =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, conf))
        try {
          val schema = r.getFooter.getFileMetaData.getSchema
          val idx = schema.getFields.asScala.map(_.getName).zipWithIndex.toMap
          cols.filter(answerable).foreach { c =>
            idx.get(c) match {
              case Some(i) if schema.getType(i).isPrimitive =>
                val pt = schema.getType(i).asPrimitiveType()
                val ann = pt.getLogicalTypeAnnotation
                val intOk = (pt.getPrimitiveTypeName == PrimitiveTypeName.INT64 ||
                  pt.getPrimitiveTypeName == PrimitiveTypeName.INT32) &&
                  (ann == null || (ann match {
                    case a: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                      a.isSigned && a.getBitWidth >= 32
                    case _ => false
                  }))
                if (!intOk) answerable -= c
                else r.getFooter.getBlocks.asScala
                  .filter(_.getRowCount > 0).foreach { blk =>
                    blk.getColumns.asScala
                      .find(_.getPath.toDotString == c) match {
                      case Some(cc) =>
                        val s0 = cc.getStatistics
                        if (s0 == null || s0.isEmpty) answerable -= c
                        else if (s0.hasNonNullValue) {
                          val (lo, hi) = s0.genericGetMin match {
                            case l: java.lang.Long =>
                              (l.longValue, s0.genericGetMax.asInstanceOf[java.lang.Long].longValue)
                            case i: java.lang.Integer =>
                              (i.longValue, s0.genericGetMax.asInstanceOf[java.lang.Integer].longValue)
                            case _ => answerable -= c; (0L, 0L)
                          }
                          if (answerable(c)) acc.get(c) match {
                            case Some((l0, h0)) =>
                              acc(c) = (math.min(l0, lo), math.max(h0, hi))
                            case None => acc(c) = (lo, hi)
                          }
                        } else if (s0.getNumNulls != blk.getRowCount)
                          answerable -= c // rows without stats coverage
                      case None => answerable -= c
                    }
                  }
              case _ => answerable -= c
            }
          }
        } finally r.close()
      }
      cols.filter(answerable).map { c =>
        c -> acc.get(c).map { case (lo, hi) =>
          ColStat(java.math.BigDecimal.valueOf(lo).toPlainString,
            java.math.BigDecimal.valueOf(hi).toPlainString, "n")
        } // None = all-NULL column: record nothing, like the aggregate path
      }.toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
  }

  /** The synthetic stats key carrying a column's per-segment Bloom filter. */
  private def bloomKey(c: String): String = c + "#bloom"

  /** A per-segment Bloom filter over `colName`, serialized base64 for the
    * manifest (base64 is JSON-safe without an escaper).  ~1.2 KB at the
    * default sizing — manifests stay KBs — and one column-pruned pass over
    * the just-written segment, per COMMIT, never per read.  This is the
    * skipping story for HIGH-CARDINALITY point lookups (uuid/hash keys):
    * random keys make every segment's [min, max] span the whole value
    * space, but a Bloom miss still proves absence. */
  private def segBloom(spark: SparkSession, root: String, seg: String,
                       colName: String): ColStat = {
    val bf = spark.read.parquet(s"${root.stripSuffix("/")}/$seg")
      .stat.bloomFilter(colName, 100000L, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    ColStat(java.util.Base64.getEncoder.encodeToString(bos.toByteArray), "", "b")
  }

  /** Min/max + Bloom stats for one segment (see [[segStats]]/[[segBloom]]);
    * `cols` may mix plain column names and `<col>#bloom` keys. */
  private def segStatsWithBlooms(spark: SparkSession, root: String, seg: String,
                                 cols: Seq[String]): Map[String, ColStat] = {
    val (bloomKeys, plain) = cols.distinct.partition(_.endsWith("#bloom"))
    segStats(spark, root, seg, plain) ++
      bloomKeys.map(k => k -> segBloom(spark, root, seg, k.stripSuffix("#bloom")))
  }

  /** [[segStatsWithBlooms]] for MANY just-written segments in ONE job:
    * a column-pruned scan of all of them grouped by the segment tag.  A
    * clustered write adopts `numSegments` segments at once — per-segment
    * stat jobs would cost `numSegments` driver round-trips per commit
    * (the planning overhead dominates at high segment counts; the data
    * read is one narrow column either way).  Blooms, when tracked, still
    * build per segment (a Bloom union cannot be grouped in a row
    * aggregate). */
  private def segStatsBatch(spark: SparkSession, root: String,
                            segs: Seq[String], cols: Seq[String])
      : Map[String, Map[String, ColStat]] = {
    import org.apache.spark.sql.functions.{col, max, min}
    val (bloomKeys, plain0) = cols.distinct.partition(_.endsWith("#bloom"))
    // footer fast path first (see [[footerIntStats]]): integral columns the
    // footers answer for EVERY segment never reach the batch aggregate —
    // when they cover the whole request, the commit schedules no stats job
    val footerBySeg: Map[String, Map[String, Option[ColStat]]] =
      segs.map(s0 => s0 -> footerIntStats(spark, root, s0, plain0)).toMap
    val plain = plain0.filter(c => segs.exists(s0 => !footerBySeg(s0).contains(c)))
    val safe = "^[\\x20-\\x21\\x23-\\x5B\\x5D-\\x7E]*$"
    val plainStats: Map[String, Map[String, ColStat]] =
      if (plain.isEmpty || segs.isEmpty) Map.empty
      else {
        val paths = segs.map(s0 => s"${root.stripSuffix("/")}/$s0")
        val aggs = plain.flatMap(c =>
          Seq(min(col(c)).as(s"__lo_$c"), max(col(c)).as(s"__hi_$c")))
        spark.read.parquet(paths: _*)
          .select((plain.map(col) :+ segTag.as("__seg")): _*)
          .groupBy("__seg").agg(aggs.head, aggs.tail: _*)
          .collect().map { r =>
            r.getString(0) -> plain.flatMap { c =>
              val lo = r.getAs[Any](s"__lo_$c"); val hi = r.getAs[Any](s"__hi_$c")
              (lo, hi) match {
                case (null, _) | (_, null) => None
                case (l: String, h: String) =>
                  if (l.matches(safe) && h.matches(safe))
                    Some(c -> ColStat(l, h, "s"))
                  else None
                case _ => Some(c -> ColStat(
                  new java.math.BigDecimal(lo.toString).toPlainString,
                  new java.math.BigDecimal(hi.toString).toPlainString, "n"))
              }
            }.toMap
          }.toMap
      }
    segs.map { s0 =>
      s0 -> (footerBySeg(s0).collect { case (c, Some(st)) => c -> st } ++
        plainStats.getOrElse(s0, Map.empty) ++
        bloomKeys.map(k => k -> segBloom(spark, root, s0, k.stripSuffix("#bloom"))))
    }.toMap
  }

  /** Create-exclusive claim on version slot `v` — the commit CAS, routed
    * through the session's [[PublishArbiter]] (default: the filesystem
    * arbitrates — `O_CREAT|O_EXCL` locally, the Hadoop create contract
    * elsewhere; an S3 deployment selects an external conditional-put
    * arbiter via `spark.graft.tx.arbiter`). */
  private def claimSlot(spark: SparkSession, f: FileSystem, root: String,
                        v: Long): Boolean =
    PublishArbiter.resolve(spark).claimExclusive(f, claimPath(root, v))

  /** Reap an ORPHANED claim: a committer that died between claiming slot
    * `v` and renaming its manifest in leaves a claim file that would
    * otherwise block the slot forever (vacuum only clears claims at or
    * below the published head).  A claim with no manifest whose mtime is
    * older than `spark.graft.tx.staleClaimMs` (default 10 min — far beyond
    * any live write-temp+rename window) is deleted so the next attempt can
    * re-claim the slot.  If the "stale" committer is in fact alive and
    * publishes after the reap, [[publishExclusive]] arbitrates: the first
    * publish wins, the late one fails refuse-on-exist — never a silent
    * overwrite of an acknowledged manifest. */
  private def reapStaleClaim(spark: SparkSession, f: FileSystem, root: String,
                             v: Long): Unit = {
    val claim = claimPath(root, v)
    val staleMs = spark.conf.getOption("spark.graft.tx.staleClaimMs")
      .map(_.toLong).getOrElse(600000L)
    try {
      val st = f.getFileStatus(claim)
      if (!f.exists(manifestPath(root, v)) &&
          System.currentTimeMillis() - st.getModificationTime > staleMs)
        PublishArbiter.resolve(spark).releaseClaim(f, claim)
    } catch { case _: java.io.FileNotFoundException => () }
  }

  /** Atomically publish the fully-written temp manifest at the target path,
    * refusing if the target already exists — the visibility flip of every
    * commit, routed through the session's [[PublishArbiter]].  The default
    * filesystem arbiter hard-links locally (`link(2)`: atomic,
    * complete-content-only, EEXIST on an occupied slot — POSIX `rename(2)`
    * would silently OVERWRITE, exactly the lost-commit hole when a
    * reaped-but-live committer publishes after a new winner) and uses the
    * Hadoop rename contract elsewhere.  Returns false iff the slot was
    * already published; the caller surfaces that as a loud loser error,
    * never a retry (its claim was stolen — semantics demand the failure be
    * visible).  The object-store boundary (why S3A needs an EXTERNAL
    * conditional-put arbiter, the Delta-S3DynamoDBLogStore / Iceberg-catalog
    * shape) lives in [[PublishArbiter]]'s scaladoc; claimSlot and this
    * method are the only two arbitrated decisions in the whole protocol. */
  private[graft] def publishExclusive(spark: SparkSession, f: FileSystem,
                                      tmp: Path, target: Path): Boolean =
    PublishArbiter.resolve(spark).publishExclusive(f, tmp, target)

  /** Publish `segments` as the next version.  Per attempt: re-read the
    * head, re-verify the batch-id replay guard (so check-and-commit is one
    * decision), claim the slot create-exclusively, then write-temp +
    * [[publishExclusive]] into the claimed slot — readers still see one
    * atomic metadata op and a late (reaped) publisher can never overwrite
    * the winner.  The published manifest's `batch` is the max of this commit's id
    * and the head's carried id, so every manifest records the replay
    * horizon and vacuum can never lose it.  Returns [[ReplayNoOp]] (-1)
    * when the batch was already committed.  Retries on a lost claim with
    * the standard optimistic re-read.
    *
    * `expectVersion`: callers whose `segments` were DERIVED from a
    * specific head (append's base list, merge/delete/compact rewrites)
    * pass the version they expect to publish; if the head moved since
    * their read, the attempt throws instead of publishing a manifest that
    * silently drops the concurrent commit — the read-and-publish become
    * one CAS decision. */
  private def commit(spark: SparkSession, root: String, op: String,
                     segments: Seq[String], maxRetries: Int = 10,
                     batch: Option[Long] = None,
                     stats: Map[String, Map[String, ColStat]] = Map.empty,
                     expectVersion: Option[Long] = None,
                     cdc: Seq[String] = Nil,
                     dvs: Seq[String] = Nil,
                     schema: Option[String] = None): Long = {
    val f = fs(spark, root)
    var attempt = 0
    while (true) {
      val headV = latestVersion(spark, root)
      val headM = headV.flatMap { v =>
        try Some(readManifest(spark, root, v, withStats = false))
        catch { case _: java.io.FileNotFoundException => None }
      }
      val headBatch = headM.flatMap(_.batch)
      if (batch.exists(b => headBatch.exists(_ >= b))) return ReplayNoOp
      val carried = (batch.toSeq ++ headBatch.toSeq).reduceOption(_ max _)
      // schema carries forward through layout/delete commits that don't
      // pass one, the same way the batch horizon does
      val carriedSchema = schema.orElse(headM.flatMap(_.schema))
      val next = headV.map(_ + 1).getOrElse(1L)
      if (expectVersion.exists(_ != next))
        throw new IllegalArgumentException(
          s"TxTable.commit: head moved under $root — derived for " +
            s"v${expectVersion.get}, next slot is v$next")
      val target = manifestPath(root, next)
      f.mkdirs(target.getParent)
      // exists-check first: a manifest published without a claim (e.g. an
      // external writer) still blocks the slot
      if (!f.exists(target) && claimSlot(spark, f, root, next)) {
        // stats placement: inline while small; past the cell budget, into a
        // per-commit sidecar the manifest references by name — written
        // UNIQUELY NAMED and BEFORE the manifest publishes, so a published
        // manifest always finds its sidecar and a losing racer's sidecar is
        // an orphan vacuum reaps once stale
        val kept = stats.filter(kv => segments.contains(kv._1))
        val inlineMax = spark.conf.getOption("spark.graft.tx.statsInlineMax")
          .map(_.toInt).getOrElse(2048)
        val (inline, ref) =
          if (kept.values.map(_.size).sum <= inlineMax) (kept, None)
          else {
            val name = s"s-${java.util.UUID.randomUUID()}.json"
            val sp = new Path(s"${root.stripSuffix("/")}/$LogDir/$name")
            val sos = f.create(sp, false)
            try sos.write(("{\"stats\":" + statsJsonBody(kept) + "}")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            finally sos.close()
            (Map.empty[String, Map[String, ColStat]], Some(name))
          }
        val tmp = new Path(target.getParent, s".tmp-${java.util.UUID.randomUUID()}")
        val os = f.create(tmp, false)
        try os.write(writeJson(Manifest(next, op, segments, carried,
          inline, cdc, dvs, carriedSchema, ref))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally os.close()
        if (!publishExclusive(spark, f, tmp, target)) {
          f.delete(tmp, false)
          throw new IllegalStateException(
            s"TxTable.commit: exclusive publish into claimed slot v$next " +
              s"failed under $root — the slot was published by another " +
              "writer (possibly after this committer's claim was reaped as " +
              "stale); the winning manifest is preserved")
        }
        writeHeadHint(f, root, next)
        return next
      }
      // lost the race: either a live racer holds the slot (their manifest
      // will appear) or a dead committer orphaned the claim — reap it when
      // stale so a crash between claim and rename can never wedge the slot
      // (reap even when out of retries, so the caller's NEXT call succeeds)
      reapStaleClaim(spark, f, root, next)
      attempt += 1
      require(attempt <= maxRetries,
        s"TxTable.commit: lost the version race $maxRetries times under $root")
      // linear backoff with jitter so racing committers don't lockstep
      Thread.sleep(math.min(50L * attempt, 1000L) +
        java.util.concurrent.ThreadLocalRandom.current().nextLong(50L))
    }
    -1L // unreachable
  }

  /** Replace the table contents with `df` (full-refresh as a commit).
    * `statsCols` (numeric or string) are recorded as per-segment min/max
    * in the manifest and drive [[readWhere]]'s segment pruning;
    * `bloomCols` additionally record a per-segment Bloom filter for
    * [[readWhereEquals]] point-lookup skipping. */
  def commitOverwrite(spark: SparkSession, root: String, df: DataFrame,
                      statsCols: Seq[String] = Nil,
                      bloomCols: Seq[String] = Nil): Long = {
    enforceChecks(spark, root, df, "commitOverwrite")
    val seg = writeSegment(df, root)
    commit(spark, root, "overwrite", Seq(seg),
      stats = Map(seg -> segStatsWithBlooms(spark, root, seg,
        statsCols ++ bloomCols.map(bloomKey))).filter(_._2.nonEmpty),
      schema = Some(encodeSchema(relaxed(df.schema)))) // overwrite resets
  }

  /** Append `df` as a new segment alongside the current snapshot's. */
  def commitAppend(spark: SparkSession, root: String, df: DataFrame,
                   statsCols: Seq[String] = Nil,
                   bloomCols: Seq[String] = Nil): Long =
    appendWith(spark, root, df, None, statsCols, bloomCols)

  /** WRITE–AUDIT–PUBLISH append (the Iceberg WAP pattern): the batch is
    * STAGED as a segment first, `audit` runs against exactly the staged
    * files (read back from disk — so it also catches serialization/codec
    * drift the input plan can't show), and only a clean audit publishes
    * the manifest.  An audit that throws leaves the table at its prior
    * version, removes the staged segment, and rethrows — readers never
    * see unaudited rows, and there is no window where they could (the
    * manifest IS visibility).  This is [[Quality.expectations]]' natural
    * commit-side home: `audit = staged => require(violations == 0)`. */
  def commitAppendAudited(spark: SparkSession, root: String, df: DataFrame,
                          statsCols: Seq[String] = Nil,
                          bloomCols: Seq[String] = Nil)
                         (audit: DataFrame => Unit): Long =
    appendWith(spark, root, df, None, statsCols, bloomCols, Some(audit))

  private def appendWith(spark: SparkSession, root: String, df: DataFrame,
                         batch: Option[Long], statsCols: Seq[String] = Nil,
                         bloomCols: Seq[String] = Nil,
                         audit: Option[DataFrame => Unit] = None): Long = {
    enforceChecks(spark, root, df, "commitAppend")
    val seg = writeSegment(df, root)
    audit.foreach { a =>
      val segPath = new Path(s"${root.stripSuffix("/")}/$seg")
      try a(spark.read.parquet(segPath.toString))
      catch { case e: Throwable =>
        fs(spark, root).delete(segPath, true) // staged only — never referenced
        throw e
      }
    }
    val segSt = segStatsWithBlooms(spark, root, seg,
      statsCols ++ bloomCols.map(bloomKey))
    // the SEGMENT is ours alone; only the base list can go stale — rebuild
    // it per attempt via the conflict retry (commit re-checks the replay
    // guard per attempt too; an orphaned segment from a ReplayNoOp is
    // unreferenced and vacuum collects it)
    var attempt = 0
    while (true) {
      val headV = latestVersion(spark, root)
      val base = headV
        .map(readManifest(spark, root, _)).getOrElse(Manifest(0, "", Seq.empty))
      val stats = base.stats ++ (if (segSt.nonEmpty) Map(seg -> segSt) else Map.empty)
      // SCHEMA EVOLUTION: additions/omissions merge (reads null-fill);
      // a type change throws HERE — before anything is published.  A
      // pre-schema-era base upgrades by one mergeSchema footer sweep.
      val baseSchema = base.schema.map(decodeSchema).getOrElse {
        if (base.segments.isEmpty) df.schema
        else spark.read.option("mergeSchema", "true")
          .parquet(base.segments.map(s => s"${root.stripSuffix("/")}/$s"): _*)
          .schema
      }
      val evolved = mergeEvolve(baseSchema, df.schema, root)
      try return commit(spark, root, "append", base.segments :+ seg,
        maxRetries = 0, batch, stats,
        expectVersion = Some(headV.getOrElse(0L) + 1), dvs = base.dvs,
        schema = Some(encodeSchema(evolved)))
      catch {
        case e: IllegalArgumentException
          if attempt < 10 && !e.getMessage.contains("schema evolution") =>
            attempt += 1
            // same backoff as commit's internal retry: racing appenders
            // must not lockstep onto each other's slots
            Thread.sleep(math.min(50L * attempt, 1000L) +
              java.util.concurrent.ThreadLocalRandom.current().nextLong(50L))
      }
    }
    -1L // unreachable
  }

  /** Max streaming batch id committed so far — ONE head-manifest read,
    * because every commit carries the max id forward (so compaction,
    * overwrite, delete and [[vacuum]] cannot lose the replay horizon). */
  def lastCommittedBatch(spark: SparkSession, root: String): Option[Long] =
    latestVersion(spark, root).flatMap(v =>
      readManifest(spark, root, v, withStats = false).batch)

  /** EXACTLY-ONCE streaming sink: `stream.writeStream.foreachBatch(
    * TxTable.streamingAppend(root) _)`.  Each micro-batch commits as one
    * table version whose manifest records the batch id; after a crash the
    * checkpoint replays the in-flight batch and the duplicate id makes the
    * commit a no-op — the append lands exactly once even though the batch
    * runs at-least-once (the transactional-sink idiom Structured Streaming
    * expects of a real table format).  The id is re-verified inside the
    * commit retry loop, so the fast-path check below is pure I/O saving,
    * not the correctness boundary.  `statsCols` carries manifest min/max
    * stats through every micro-batch commit, so a stream-built table
    * prunes in [[readWhere]]/[[readWhereString]] exactly like a
    * batch-built one. */
  def streamingAppend(root: String, statsCols: Seq[String] = Nil,
                      bloomCols: Seq[String] = Nil)
                     (df: DataFrame, batchId: Long): Unit = {
    val spark = df.sparkSession
    if (lastCommittedBatch(spark, root).exists(_ >= batchId)) return
    appendWith(spark, root, df, Some(batchId), statsCols, bloomCols)
  }

  /** EXACTLY-ONCE streaming ingest with a DEAD-LETTER QUEUE: each
    * micro-batch splits against the MAIN table's registered CHECK
    * constraints ([[addCheck]]) — passing rows append to `root`,
    * violating rows append to `dlqRoot` tagged with a `dlq_checks`
    * column naming every violated constraint (comma-joined, sorted) —
    * so a poisoned record can never stall the stream (the plain
    * [[streamingAppend]] + constraint combination would refuse the whole
    * batch forever) and never silently vanishes either: it lands
    * queryable, replayable, and attributable in the DLQ table.
    *
    * Exactly-once holds PER TABLE via the same batch-id watermark as
    * [[streamingAppend]]: both commits carry the micro-batch id, so a
    * crash between the two commits (they cannot be atomic across tables)
    * merely replays the batch and the already-committed side no-ops —
    * delivery converges to exactly-once on both tables in every
    * interleaving.  Batches with no violations skip the DLQ commit
    * entirely (the `>=` watermark guard makes the gap replay-safe).
    * With no constraints registered this IS [[streamingAppend]].
    *
    * SQL CHECK semantics as everywhere: NULL passes.  The batch is
    * persisted for its two-way split + the enforcement pass, then
    * released. */
  def streamingAppendDlq(root: String, dlqRoot: String,
                         statsCols: Seq[String] = Nil)
                        (df: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    val cs = checks(spark, root).toSeq.sortBy(_._1)
    if (cs.isEmpty) { streamingAppend(root, statsCols)(df, batchId); return }
    val violated = array_compact(array(cs.map { case (n, e) =>
      when(coalesce(expr(e), lit(true)) === false, lit(n)) }: _*))
    val tagged = df.withColumn("__viol", violated)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val bad = tagged.filter(size(col("__viol")) > 0)
        .withColumn("dlq_checks", array_join(col("__viol"), ","))
        .drop("__viol")
      if (!lastCommittedBatch(spark, dlqRoot).exists(_ >= batchId) && !bad.isEmpty)
        appendWith(spark, dlqRoot, bad, Some(batchId))
      val good = tagged.filter(size(col("__viol")) === 0).drop("__viol")
      if (!lastCommittedBatch(spark, root).exists(_ >= batchId))
        appendWith(spark, root, good, Some(batchId), statsCols)
    } finally tagged.unpersist()
  }

  /** SEGMENT-PRUNED ACID upsert (the Delta-style MERGE shape): only the
    * segments that CONTAIN a hit key are rewritten — every other segment
    * carries over into the new manifest by reference, so a merge touching
    * 0.1% of keys rewrites ~0.1% of the table, transactionally.  Hit
    * segments are found by a broadcast semi-join of the incoming key set
    * against the head snapshot tagged with its source segment
    * (`input_file_name()` above the scan); their rows plus the incoming
    * batch go through [[Upsert.upsert]] (EXCLUDED-wins updateCols,
    * existing-wins preserveCols) into one replacement segment.
    *
    * The table's column set must be exactly `keys ++ updateCols ++
    * preserveCols` (parquet reads align by name, so column ORDER may vary
    * across segments but the SET must not).  Writer serialization is the
    * caller's contract for merge: a concurrent commit between head-read and
    * publish fails the version CAS and this method throws rather than
    * silently re-merging against a moved head.  `statsCols` adds columns
    * to the tracked stats set (on bootstrap it seeds it).
    *
    * `cdf = true` additionally records the commit's row-level CHANGE SET
    * (update_preimage / update_postimage / insert rows) in a `cdc/`
    * segment for [[readChanges]] — sized by the CHANGE set, not the
    * table, and computed from frames the merge already has in hand
    * (matched keys are a broadcast-sized subset of the incoming batch). */
  def commitMerge(spark: SparkSession, root: String, incoming: DataFrame,
                  keys: Seq[String], updateCols: Seq[String],
                  preserveCols: Seq[String], batch: Option[Long] = None,
                  statsCols: Seq[String] = Nil, cdf: Boolean = false): Long = {
    import org.apache.spark.sql.functions._
    val cols = keys ++ updateCols ++ preserveCols
    latestVersion(spark, root) match {
      case None => // bootstrap: the incoming batch IS the table
        val staged = incoming.select(cols.map(col): _*)
        enforceChecks(spark, root, staged, "commitMerge")
        val seg = writeSegment(staged, root)
        // an insert-only commit's change set IS its data segment — record
        // a reference instead of writing the same rows twice (the trick
        // the append path plays structurally); readChanges synthesizes
        // `_change_type = 'insert'` for `insert:`-prefixed entries
        val cdc = if (!cdf) Nil else Seq("insert:" + seg)
        commit(spark, root, "merge", Seq(seg), maxRetries = 0, batch = batch,
          stats = Map(seg -> segStats(spark, root, seg, statsCols)).filter(_._2.nonEmpty),
          expectVersion = Some(1L), cdc = cdc,
          schema = Some(encodeSchema(relaxed(staged.schema))))
      case Some(headV) =>
        val head = readManifest(spark, root, headV)
        val segs = head.segments
        // tagged at the scan (end-anchored: a table ROOT containing a
        // /data/<x>/ component must not hijack the match), DVs applied
        val cur = readVersionTagged(spark, root, headV)
        // the BATCH-sized key set feeds three separate actions (hit-segment
        // probe, merge join, CDF probes) — cache it so the incoming scan +
        // distinct shuffle run once, not once per action
        val inKeysDf = incoming.select(keys.map(col): _*).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val inKeys = broadcast(inKeysDf)
        // the hit probe exists to PRUNE segments; a single-segment head has
        // nothing to prune (hit ⇒ rewrite it; no-hit ⇒ the merge is a pure
        // insert and rewriting one segment alongside costs the same single
        // write) — skip the probe action entirely
        val hitSegs =
          if (segs.size <= 1) segs.toSet
          else cur
            .join(inKeys, keys.map(k => cur(k) <=> inKeys(k)).reduce(_ && _), "left_semi")
            .select("__seg").distinct().collect().map(_.getString(0)).toSet
        // touched is HIT-SEGMENT-sized (the pruned slice this merge
        // rewrites, never the table) and is consumed up to three times —
        // the rewrite write, the CDF preimages, the matched-key probe —
        // so cache it spill-safely instead of re-scanning the hit
        // segments per consumer
        val touched = cur.filter(col("__seg").isin(hitSegs.toSeq: _*)).drop("__seg")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val merged = Upsert.upsert(touched, incoming, keys, updateCols, preserveCols)
          val newSeg = writeSegment(merged, root)
          // CHECK constraints hold on the rows this commit PUBLISHES — the
          // MERGED output, not the raw incoming batch: a check spanning an
          // updated column and a preserved one (`amount <= cap` with amount
          // updated, cap preserved) can be violated by the combination even
          // when the batch alone looks fine, and a batch that omits a
          // preserved column the check references is still mergeable.
          // Enforced on the staged segment read back from disk (delta-sized
          // columnar re-read, also catching codec drift); a violation
          // removes the staged segment — nothing was published.
          lazy val mergedBack = spark.read.parquet(s"${root.stripSuffix("/")}/$newSeg")
          if (checks(spark, root).nonEmpty)
            try enforceChecks(spark, root, mergedBack, "commitMerge")
            catch { case e: Throwable =>
              fs(spark, root).delete(new Path(s"${root.stripSuffix("/")}/$newSeg"), true)
              throw e
            }
          val cdc = if (!cdf) Nil else {
            // matched keys = incoming ∩ existing; every existing match lives
            // in a hit segment BY DEFINITION of hitSegs, so `touched` sees
            // them all.  touched STREAMS against the broadcast incoming key
            // set (never the reverse — touched is segment-sized), and the
            // result is ≤ the incoming batch: broadcast for the probes below.
            def on(a: DataFrame, b: DataFrame) =
              keys.map(k => a(k) <=> b(k)).reduce(_ && _)
            // post-state probes reuse mergedBack (the just-written segment
            // read columnar): cheaper than re-running the merge join once
            // per change class
            // preimages = touched rows whose key the batch brings (their
            // values get overwritten) — a direct semi-join against the
            // already-broadcast incoming key set
            val pre = touched.join(inKeys, on(touched, inKeys), "left_semi")
              .withColumn("_change_type", lit("update_preimage"))
            // ONE mergedBack scan yields post AND insert rows: restrict to
            // incoming keys, then a broadcast left join against the touched
            // KEY SET routes each row (hit = key existed → postimage, miss
            // → insert) — half the scans and a plain-distinct broadcast
            // instead of a joined one
            val tKeysH = broadcast(touched.select(keys.map(col): _*).distinct()
              .withColumn("__hit", lit(1)))
            val inc = mergedBack.join(inKeys, on(mergedBack, inKeys), "left_semi")
            val postIns = inc.join(tKeysH, on(inc, tKeysH), "left")
              .withColumn("_change_type", when(col("__hit").isNotNull,
                lit("update_postimage")).otherwise(lit("insert")))
              .select(inc.columns.map(inc(_)) :+ col("_change_type"): _*)
            Seq(writeChangeSegment(pre.unionByName(postIns), root))
          }
          val carriedSegs = segs.filterNot(hitSegs.contains)
          commit(spark, root, "merge",
            carriedSegs :+ newSeg, maxRetries = 0,
            batch = batch, stats = carryStats(spark, root, head, newSeg, statsCols),
            expectVersion = Some(headV + 1), cdc = cdc,
            dvs = carryDvs(head.dvs, carriedSegs.toSet),
            schema = Some(encodeSchema(mergeEvolve(
              head.schema.map(decodeSchema).getOrElse(merged.schema),
              merged.schema, root))))
        } finally { touched.unpersist(false); inKeysDf.unpersist(false) }
    }
  }

  /** EXACTLY-ONCE streaming MERGE — the Delta-style streaming upsert:
    * `stream.writeStream.foreachBatch(TxTable.streamingMerge(root, keys,
    * updateCols, preserveCols) _)`.  Each micro-batch lands as one
    * segment-pruned [[commitMerge]] whose manifest records the batch id;
    * after a crash (or a full fresh-checkpoint replay) the duplicate id
    * makes the batch a no-op, so a keyed state materialization stays
    * correct even though batches run at-least-once.  Batch ORDER carries
    * the last-write-wins semantics: within one batch duplicate keys must
    * be pre-reduced by the caller (EXCLUDED-wins is per-commit).
    * `statsCols` keeps manifest min/max stats flowing through every
    * micro-batch merge commit. */
  def streamingMerge(root: String, keys: Seq[String], updateCols: Seq[String],
                     preserveCols: Seq[String], statsCols: Seq[String] = Nil,
                     cdf: Boolean = false)
                    (df: DataFrame, batchId: Long): Unit = {
    val spark = df.sparkSession
    if (lastCommittedBatch(spark, root).exists(_ >= batchId)) return
    commitMerge(spark, root, df, keys, updateCols, preserveCols, Some(batchId),
      statsCols, cdf)
  }

  /** Deletion vectors for a rewritten manifest: each carried DV keeps only
    * the data segments that SURVIVED the rewrite (a rewritten segment's
    * rows passed through the DV during the read, so its replacement is
    * DV-clean); DVs left scoping nothing are dropped. */
  private def carryDvs(dvs: Seq[String], survivors: Set[String]): Seq[String] =
    dvs.flatMap { entry =>
      val parts = entry.split("\\|").toSeq
      val kept = parts.tail.filter(survivors.contains)
      if (kept.isEmpty) None else Some((parts.head +: kept).mkString("|"))
    }

  /** Stats for a rewritten manifest: carried segments keep theirs; the
    * replacement segment gets fresh min/max over every column the head
    * manifest tracked plus `extraCols` (so skipping never silently
    * degrades across merge/delete/compact commits). */
  private def carryStats(spark: SparkSession, root: String, head: Manifest,
                         newSeg: String, extraCols: Seq[String] = Nil
                        ): Map[String, Map[String, ColStat]] = {
    val tracked = (head.stats.values.flatMap(_.keys).toSeq ++ extraCols).distinct
    val fresh = segStatsWithBlooms(spark, root, newSeg, tracked)
    head.stats ++ (if (fresh.nonEmpty) Map(newSeg -> fresh) else Map.empty)
  }

  /** Segment-pruned ACID DELETE — the transactional form of
    * [[Upsert.purgeKeys]] (right-to-be-forgotten without the partition
    * rename dance): segments containing tombstoned keys are rewritten
    * WITHOUT those rows; every other segment carries over by reference.
    * NULL-safe key matching, so NULL tombstone keys delete NULL-keyed rows.
    * Note: deleted rows leave older versions only at [[vacuum]] time — run
    * vacuum after the retention window when the deletion must be physical.
    * `cdf = true` records the deleted rows (change type 'delete') in a
    * `cdc/` segment for [[readChanges]]. */
  def commitDelete(spark: SparkSession, root: String, tombstones: DataFrame,
                   keys: Seq[String], cdf: Boolean = false): Long = {
    import org.apache.spark.sql.functions._
    val headV = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"TxTable.commitDelete: no commits under $root"))
    val head = readManifest(spark, root, headV)
    val segs = head.segments
    // the tombstone key set feeds three actions (hit probe, survivor
    // rewrite, CDF rows) — cache it so the caller's tombstone derivation
    // (often a table scan) runs once, not once per action
    val tombDf = tombstones.select(keys.map(col): _*).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val tomb = broadcast(tombDf)
      val tombH = broadcast(tombDf.withColumn("__hit", lit(1)))
      val cur = readVersionTagged(spark, root, headV)
      def keyCond(df: DataFrame) = keys.map(k => df(k) <=> tomb(k)).reduce(_ && _)
      // ONE per-segment probe answers both decisions this commit needs:
      // which segments contain tombstoned rows (hits > 0 ⇒ rewrite) and
      // whether ANY row survives in them (total > hits ⇒ write a
      // replacement; all-hit ⇒ the rewrite would be empty, skip the
      // write).  tomb is distinct on the full key, so the left join
      // cannot duplicate rows; collected rows = #segments (metadata).
      val perSeg = cur
        .join(tombH, keys.map(k => cur(k) <=> tombH(k)).reduce(_ && _), "left")
        .groupBy("__seg")
        .agg(count(lit(1)).as("__total"), count(col("__hit")).as("__hits"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val hitSegs = perSeg.collect { case (s, _, h) if h > 0 => s }.toSet
      if (hitSegs.isEmpty) return headV // nothing to delete: head unchanged
      val keptRows = perSeg.collect { case (s, t, h) if hitSegs(s) => t - h }.sum
      // touched is hit-segment-sized and consumed twice (survivor rewrite,
      // CDF delete rows) — cache it spill-safely
      val touched = cur.filter(col("__seg").isin(hitSegs.toSeq: _*))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val kept = touched.join(tomb, keyCond(touched), "left_anti").drop("__seg")
        val carried = segs.filterNot(hitSegs.contains)
        // a fully-emptied table still needs a readable head: only write the
        // replacement segment when rows survive
        val newSegs = if (keptRows == 0L) Seq.empty else Seq(writeSegment(kept, root))
        require(carried.nonEmpty || newSegs.nonEmpty,
          s"TxTable.commitDelete: delete would empty the table under $root — " +
            "commitOverwrite an explicit empty state instead")
        val stats = newSegs.headOption
          .map(s => carryStats(spark, root, head, s)).getOrElse(head.stats)
        val cdc = if (!cdf) Nil else Seq(writeChangeSegment(
          touched.join(tomb, keyCond(touched), "left_semi").drop("__seg")
            .withColumn("_change_type", lit("delete")), root))
        commit(spark, root, "delete", carried ++ newSegs, maxRetries = 0,
          stats = stats, expectVersion = Some(headV + 1), cdc = cdc,
          dvs = carryDvs(head.dvs, carried.toSet))
      } finally touched.unpersist(false)
    } finally tombDf.unpersist(false)
  }

  /** ONE-COMMIT keyed segment rewrite — the primitive [[Ivm]]'s apply
    * rides: the segments containing any key of `keySet` are read
    * (`touched`, hit-segment-sized), the caller's `rewrite(touched)`
    * replaces them as ONE new segment, every other segment carries over by
    * reference, and the manifest publishes with `batch` as the replay
    * horizon.  This collapses the delete-then-merge two-commit dance (and
    * its crash window) into a single atomic commit: `rewrite` decides
    * per-row keep/replace/drop, so a "dead" key simply does not reappear
    * in the replacement, and a crash anywhere leaves the head untouched
    * with the horizon unlatched — the whole window replays.  Contract for
    * `rewrite`: it receives EVERY row of the hit segments (including rows
    * whose keys are not in `keySet` — it must pass those through), rows it
    * omits are deleted, and rows for keys absent from every segment may be
    * introduced.  Returns the new head, or [[ReplayNoOp]] when `batch`
    * was already committed. */
  def commitRewriteHit(spark: SparkSession, root: String, keySet: DataFrame,
                       keys: Seq[String], batch: Option[Long] = None,
                       discardStaged: Option[() => Boolean] = None)
                      (rewrite: DataFrame => DataFrame): Long = {
    import org.apache.spark.sql.functions._
    if (batch.exists(b => lastCommittedBatch(spark, root).exists(_ >= b)))
      return ReplayNoOp // fast path; commit re-verifies per attempt
    val headV = latestVersion(spark, root).getOrElse(throw new IllegalArgumentException(
      s"TxTable.commitRewriteHit: no commits under $root"))
    val head = readManifest(spark, root, headV)
    val segs = head.segments
    val cur = readVersionTagged(spark, root, headV)
    val ks = broadcast(keySet.select(keys.map(col): _*).distinct())
    // single-segment heads have nothing to prune — skip the probe action
    val hitSegs =
      if (segs.size <= 1) segs.toSet
      else cur
        .join(ks, keys.map(k => cur(k) <=> ks(k)).reduce(_ && _), "left_semi")
        .select("__seg").distinct().collect().map(_.getString(0)).toSet
    val touched = cur.filter(col("__seg").isin(hitSegs.toSeq: _*)).drop("__seg")
    val seg = writeSegment(rewrite(touched), root)
    val f = fs(spark, root)
    // post-write, pre-publish abort hook: the caller decides from metrics
    // the write itself materialized (a Dataset.observe count on one arm of
    // the rewrite) that this commit must NOT publish — e.g. Ivm discards a
    // rewrite whose delta arm contributed zero rows, so its emptiness
    // probe rides the write instead of costing a dedicated action.  The
    // staged segment is removed; the head (and any replay horizon) is
    // untouched, exactly as if the rewrite had never been attempted.
    if (discardStaged.exists(_())) {
      f.delete(new Path(s"${root.stripSuffix("/")}/$seg"), true)
      return headV
    }
    // an all-dead rewrite can leave zero part files — an unreadable
    // segment; publish carried-only in that case (metadata listing, cheap)
    val segHasFiles = f.listStatus(new Path(s"${root.stripSuffix("/")}/$seg"))
      .exists(st => st.isFile && st.getPath.getName.startsWith("part-"))
    val carried = segs.filterNot(hitSegs.contains)
    val newSegs = if (segHasFiles) Seq(seg) else Seq.empty[String]
    require(carried.nonEmpty || newSegs.nonEmpty,
      s"TxTable.commitRewriteHit: rewrite would empty the table under $root — " +
        "commitOverwrite an explicit empty state instead")
    // the rewrite callback may introduce or alter rows per its contract, so
    // CHECK constraints are enforced on ITS output (the staged segment read
    // back, delta-sized) exactly like every other row-ingesting commit; a
    // violation removes the staged segment — nothing was published.  Zero
    // cost for unconstrained tables (one log listing).
    if (checks(spark, root).nonEmpty) newSegs.foreach { s0 =>
      val back = spark.read.parquet(s"${root.stripSuffix("/")}/$s0")
      try enforceChecks(spark, root, back, "commitRewriteHit")
      catch { case e: Throwable =>
        f.delete(new Path(s"${root.stripSuffix("/")}/$s0"), true)
        throw e
      }
    }
    val stats = newSegs.headOption
      .map(s0 => carryStats(spark, root, head, s0)).getOrElse(head.stats)
    commit(spark, root, "rewrite", carried ++ newSegs, maxRetries = 0,
      batch = batch, stats = stats, expectVersion = Some(headV + 1),
      dvs = carryDvs(head.dvs, carried.toSet), schema = head.schema)
  }

  /** RESTORE: make version `v`'s snapshot the HEAD again as a normal
    * FORWARD commit (Delta's `RESTORE TABLE ... TO VERSION`) — nothing is
    * rewritten or deleted: the new manifest re-references v's segments,
    * stats and deletion vectors by name, history stays linear (time
    * travel to the undone versions keeps working until [[vacuum]]), and
    * the replay horizon carries forward so exactly-once streaming is
    * unaffected.  Zero-copy: the only I/O is one manifest read and one
    * manifest write.  `v` must still be within vacuum retention (its
    * manifest readable); [[readChanges]] reports a restore like an
    * overwrite — delete-of-previous + insert-of-restored. */
  def restore(spark: SparkSession, root: String, v: Long): Long = {
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"TxTable.restore: no commits under $root"))
    require(v >= 1 && v <= cur, s"TxTable.restore: version $v outside [1, $cur]")
    val m = retainedManifest(spark, root, v)
    commit(spark, root, "restore", m.segments, maxRetries = 0,
      stats = m.stats, expectVersion = Some(cur + 1), dvs = m.dvs,
      schema = m.schema)
  }

  /** Compact the CURRENT snapshot into ≈ceil(bytes/targetBytes) files as a
    * normal commit — readers of any already-resolved version are never
    * disturbed (their segments stay on disk until [[vacuum]]). */
  def compactTx(spark: SparkSession, root: String,
                targetBytes: Long = 128L * 1024 * 1024): Long = {
    // ONE head resolution feeds both the snapshot and the CAS expectation.
    // (Resolving them separately opens a lost-commit race: an append landing
    // between the two listings would satisfy expectVersion = newer+1 while
    // the compacted snapshot was built from the OLDER head — the publish
    // then silently drops the racing append.  Caught by the 8-writer
    // stress spec.)
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"TxTable.compactTx: no commits under $root"))
    val snapshot = readVersion(spark, root, cur)
    val f = fs(spark, root)
    val head = readManifest(spark, root, cur)
    val bytes = head.segments.map(s => f.getContentSummary(
      new Path(s"${root.stripSuffix("/")}/$s")).getLength).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val seg = writeSegment(snapshot.repartition(n), root)
    // commit() drops stats of unlisted segments, so only the compacted
    // segment's fresh min/max survive into the new manifest
    commit(spark, root, "compact", Seq(seg), maxRetries = 0,
      stats = carryStats(spark, root, head, seg), expectVersion = Some(cur + 1))
  }

  /** BOUNDED small-segment compaction (Delta's OPTIMIZE small-file story):
    * only segments smaller than `minBytes` are read and merged into ONE
    * replacement segment; every larger segment carries over by reference —
    * the rewrite cost is O(small-segment bytes), never the table, which is
    * what makes compaction schedulable as routine maintenance on a table
    * whose big segments are already right-sized (a full [[compactTx]] at
    * 100 TB is an outage, this is a background tick).  Small segments are
    * read THROUGH their deletion vectors (their slice of the DV
    * materializes); carried segments keep their DV scoping.  Content is
    * provably unchanged — published as a normal layout-only commit, so
    * time travel and the CDF skip it like any compact.  No-op (returns the
    * current head) when fewer than two small segments exist. */
  def compactSmall(spark: SparkSession, root: String, minBytes: Long): Long = {
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"TxTable.compactSmall: no commits under $root"))
    val head = readManifest(spark, root, cur)
    val f = fs(spark, root)
    val sized = head.segments.map(s =>
      s -> f.getContentSummary(new Path(s"${root.stripSuffix("/")}/$s")).getLength)
    val small = sized.collect { case (s, b) if b < minBytes => s }
    if (small.size < 2) return cur // nothing worth merging
    val raw = readSegments(spark, root, head, small).withColumn("__seg", segTag)
    val rows = applyDvs(spark, root, head.dvs, raw).drop("__seg")
    val seg = writeSegment(rows, root)
    val carried = head.segments.filterNot(small.contains)
    commit(spark, root, "compact", carried :+ seg, maxRetries = 0,
      stats = carryStats(spark, root, head, seg), expectVersion = Some(cur + 1),
      dvs = carryDvs(head.dvs, carried.toSet), schema = head.schema)
  }

  /** `OPTIMIZE ZORDER BY` as TxTable maintenance: rewrite the CURRENT
    * snapshot into `numSegments` Morton-clustered segments over
    * `(colA, colB)`, each manifest-carrying fresh min/max stats on BOTH
    * original columns — after which [[readWhere]] prunes on EITHER
    * dimension (z-range segments are ~square tiles of the 2-D value
    * space), where append-order or single-column-sorted segments prune
    * one dimension at best.  Published as ONE compact commit: readers of
    * any already-resolved version are never disturbed, time travel to
    * pre-cluster versions still works, and the head's replay horizon
    * (batch id) is carried.
    *
    * Scale shape: one tiny bounds aggregate (4 scalars to the driver, for
    * rank-space scaling), then ONE `repartitionByRange` shuffle on the
    * z-value and ONE write pass — each range partition lands in its own
    * segment directory via `partitionBy` on the post-shuffle partition id
    * (no per-slice filter passes over the table), then per-segment
    * footer-stat aggregates.  Same cost shape as [[compactTx]] plus the
    * range exchange. */
  def compactZOrder(spark: SparkSession, root: String,
                    colA: String, colB: String,
                    numSegments: Int = 8, bits: Int = 16): Long =
    compactZOrderN(spark, root, Seq(colA, colB), numSegments, bits)

  /** N-dimensional [[compactZOrder]] — `OPTIMIZE ZORDER BY (c1, …, cn)`:
    * same one-shuffle rewrite, with the per-dimension bit budget shrinking
    * as dimensions are added (`bits × n ≤ 62`).  Stats are recorded on
    * every original clustering column plus everything the head manifest
    * already tracked. */
  /** INCREMENTAL OPTIMIZE — fold ONLY what arrived since `sinceVersion`
    * into the clustered layout.  Segments present in the head manifest but
    * not in `sinceVersion`'s are re-clustered over `cols` (reading them
    * THROUGH the head's deletion vectors, so the rewritten rows
    * materialize their DV hits); every other segment carries over
    * untouched with its manifest stats, and outstanding DV entries are
    * RESCOPED to the carried segment list — they still guard the segments
    * this pass did not touch, because materializing them everywhere would
    * mean rewriting the whole table, exactly the cost this primitive
    * exists to avoid.  Work is O(delta), not O(table):
    * [[compactZOrderN]] re-writes every byte per maintenance pass, which
    * at 100 TB turns a 1 GB delta batch into a 100 TB write; run the full
    * pass only when accumulated DVs / small segments cross a threshold
    * (the standard lakehouse compaction ladder).  Layout-only: the
    * visible row set is bit-identical before and after (TxTableSpec pins
    * it), so CDF treats it like any compact.  Returns the new head, or
    * the current head unchanged when nothing arrived since
    * `sinceVersion`. */
  def compactDeltaN(spark: SparkSession, root: String, cols: Seq[String],
                    sinceVersion: Long, numSegments: Int = 4,
                    bits: Int = 16): Long = {
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"TxTable.compactDeltaN: no commits under $root"))
    val head = readManifest(spark, root, cur)
    // sinceVersion = 0 means "nothing is clustered yet": every segment is
    // dirty and the pass degenerates to a full clustered rewrite — the
    // bootstrap rung of the maintenance ladder
    val baseSegs =
      if (sinceVersion == 0L) Set.empty[String]
      else retainedManifest(spark, root, sinceVersion,
        withStats = false).segments.toSet
    val dirty = head.segments.filterNot(baseSegs)
    if (dirty.isEmpty) return cur
    val kept = head.segments.filter(baseSegs)
    val keptSet = kept.toSet
    // only the dirty segments are read — through the head's DVs, so their
    // tombstoned rows die here instead of being re-clustered
    val raw = readSegments(spark, root, head, dirty)
    val live0 =
      if (head.dvs.isEmpty) raw
      else applyDvs(spark, root, head.dvs,
        raw.withColumn("__seg", segTag)).drop("__seg")
    // Z-BOUNDS FROM MANIFEST STATS (r17, guide §5): when every dirty
    // segment already carries exact "n"-tagged min/max for every
    // clustering column (recorded at its own commit) and no DV can have
    // shrunk the live extremes, the bounds the z scaling needs are a
    // driver-side fold over stats the head manifest is already holding —
    // the bounds aggregate job re-derived the same two scalars per column
    // from the same rows.  Any gap (missing stat, string-tagged stat,
    // outstanding DVs) falls back to the aggregate: pruning-identical,
    // byte-identical z values either way (same doubles into scaleToBits).
    val statBounds: Option[Seq[(String, String)]] =
      if (head.dvs.nonEmpty) None
      else {
        val per = cols.map { c =>
          val ss = dirty.map(s => head.stats.get(s).flatMap(_.get(c)))
          if (ss.exists(o => !o.exists(_.tag == "n"))) None
          else Some((
            ss.flatten.map(st => new java.math.BigDecimal(st.lo)).min.toPlainString,
            ss.flatten.map(st => new java.math.BigDecimal(st.hi)).max.toPlainString))
        }
        if (per.forall(_.isDefined)) Some(per.flatten) else None
      }
    // the clustered write evaluates its input up to three times (z-bounds
    // probe unless answered from manifest stats, range-partitioner
    // sampling, write scan) — persist the DV-filtered delta so the
    // dirty-segment read + DV anti-join run once, not per consumer.
    // Scale-safe by construction: `live` is DELTA-sized (only segments
    // committed after `sinceVersion`), never table-sized, and
    // MEMORY_AND_DISK spills rather than OOMs on an oversized batch.
    val live = live0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newSegs = try writeClusteredSegments(spark, root, live, cols,
      numSegments, bits, statBounds)
    finally live.unpersist(blocking = false)
    // DV entries rescope to the carried segments; an entry whose whole
    // scope was rewritten has been fully materialized and drops
    val dvs = head.dvs.flatMap { entry =>
      val parts = entry.split("\\|").toSeq
      val scoped = parts.tail.filter(keptSet)
      if (scoped.isEmpty) None
      else Some((parts.head +: scoped).mkString("|"))
    }
    val tracked = (head.stats.values.flatMap(_.keys).toSeq ++ cols).distinct
    val stats = head.stats.view.filterKeys(keptSet).toMap ++
      segStatsBatch(spark, root, newSegs, tracked).filter(_._2.nonEmpty)
    commit(spark, root, "compact", kept ++ newSegs, maxRetries = 0,
      stats = stats, expectVersion = Some(cur + 1), dvs = dvs,
      schema = head.schema)
  }

  def compactZOrderN(spark: SparkSession, root: String, cols: Seq[String],
                     numSegments: Int = 8, bits: Int = 16): Long = {
    val cur = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"TxTable.compactZOrder: no commits under $root"))
    val snap = readVersion(spark, root, cur)
    val segs = writeClusteredSegments(spark, root, snap, cols, numSegments, bits)
    require(segs.nonEmpty, s"TxTable.compactZOrder: empty table under $root — " +
      "compact an explicit empty state with commitOverwrite instead")
    // same invariant as carryStats: every column (and Bloom) the head
    // manifest tracked stays tracked across the rewrite, plus the two
    // z-order dimensions — OPTIMIZE must never degrade skipping on other
    // columns' range stats or point-lookup Blooms
    val head = readManifest(spark, root, cur)
    val tracked =
      (head.stats.values.flatMap(_.keys).toSeq ++ cols).distinct
    val stats = segStatsBatch(spark, root, segs, tracked)
      .filter(_._2.nonEmpty)
    commit(spark, root, "compact", segs, maxRetries = 0,
      stats = stats, expectVersion = Some(cur + 1))
  }

  /** CLUSTERED CTAS — `OPTIMIZE ZORDER` fused into the initial
    * (over)write: the incoming frame lands ALREADY Morton-clustered over
    * `cols`, each segment manifest-carrying min/max stats on every
    * clustering column (plus `statsCols`), so the very first read can
    * prune.  One range shuffle + ONE write pass, where
    * `commitOverwrite` + [[compactZOrderN]] would write the table twice
    * (the Delta `CREATE TABLE ... AS SELECT` + ZORDER fusion).  Note the
    * clustering bounds probe evaluates `df` once before the write scan —
    * persist upstream frames that are expensive to recompute. */
  def commitOverwriteClustered(spark: SparkSession, root: String, df: DataFrame,
                               cols: Seq[String], numSegments: Int = 8,
                               bits: Int = 16,
                               statsCols: Seq[String] = Nil): Long = {
    enforceChecks(spark, root, df, "commitOverwriteClustered")
    val segs = writeClusteredSegments(spark, root, df, cols, numSegments, bits)
    require(segs.nonEmpty, s"TxTable.commitOverwriteClustered: empty input for " +
      s"$root — commit an explicit empty state with commitOverwrite instead")
    val tracked = (cols ++ statsCols).distinct
    val stats = segStatsBatch(spark, root, segs, tracked)
      .filter(_._2.nonEmpty)
    commit(spark, root, "overwrite", segs, stats = stats)
  }

  /** Shared clustered write pass: Morton-key range shuffle, one
    * `partitionBy` write, each slice dir adopted as a segment by metadata
    * rename (no second data pass; empty slices never materialize). */
  private def writeClusteredSegments(spark: SparkSession, root: String,
                                     df: DataFrame, cols: Seq[String],
                                     numSegments: Int, bits: Int,
                                     bounds: Option[Seq[(String, String)]] = None)
      : Seq[String] = {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    require(numSegments >= 1, s"TxTable: numSegments $numSegments < 1")
    val staged = df
      .withColumn("__z", bounds.fold(ZOrder.zColumnN(df, cols, bits))(
        b => ZOrder.zColumnNFromBounds(cols, b, bits)))
      .repartitionByRange(numSegments, col("__z"))
      .withColumn("__slice", spark_partition_id())
      .drop("__z")
    val f = fs(spark, root)
    val staging = s"${root.stripSuffix("/")}/.zorder-${java.util.UUID.randomUUID()}"
    staged.write.partitionBy("__slice").parquet(staging)
    val segs = f.listStatus(new Path(staging)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("__slice="))
      .sortBy(_.getPath.getName.stripPrefix("__slice=").toInt)
      .map { st =>
        val seg = "data/" + java.util.UUID.randomUUID().toString
        val dest = new Path(s"${root.stripSuffix("/")}/$seg")
        f.mkdirs(dest.getParent)
        require(f.rename(st.getPath, dest),
          s"TxTable: could not adopt slice ${st.getPath}")
        seg
      }
    f.delete(new Path(staging), true)
    segs
  }

  /** The latest snapshot as a DataFrame. */
  def read(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root,
      latestVersion(spark, root).getOrElse(
        throw new IllegalArgumentException(s"TxTable.read: no commits under $root")))

  /** Number of live data segments in the head manifest — pure driver-side
    * metadata (one THIN manifest read, no stats sidecar, no scan plan).
    * The honest denominator for "scanned X of Y segments" pruning audits:
    * the scanned side must come from the pruned read's own `inputFiles`
    * (it proves what the scan actually touches), but the total is a
    * catalog fact and planning a second full read just to count it costs
    * a whole plan + file listing per audit. */
  def liveSegmentCount(spark: SparkSession, root: String): Int = {
    val v = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"TxTable.liveSegmentCount: no commits under $root"))
    readManifest(spark, root, v, withStats = false).segments.size
  }

  private def prunedRead(spark: SparkSession, root: String, colName: String)
                        (survives: ColStat => Boolean): DataFrame = {
    val v = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"TxTable.readWhere: no commits under $root"))
    val m = readManifest(spark, root, v)
    val kept = m.segments.filter { seg =>
      m.stats.get(seg).flatMap(_.get(colName)) match {
        case None => true // no stats: cannot prove it misses — keep
        case Some(st) => survives(st)
      }
    }
    if (kept.isEmpty) readVersion(spark, root, v).limit(0) // provably empty
    else {
      val raw = readSegments(spark, root, m, kept)
      if (m.dvs.isEmpty) raw
      else applyDvs(spark, root, m.dvs, raw.withColumn("__seg", segTag))
        .drop("__seg")
    }
  }

  /** Range-filtered read with MANIFEST-LEVEL data skipping: segments whose
    * recorded `[min, max]` for `colName` cannot intersect `[lo, hi]` are
    * dropped from the scan before any parquet footer is opened — the
    * Delta/Iceberg skipping idea, one manifest read instead of a footer
    * round-trip per file.  Semantically identical to
    * `read(...).filter(col between lo and hi)`: the residual filter still
    * applies (stats are segment-granular), and segments with no recorded
    * stats for the column — or stats of the wrong type — are
    * conservatively kept.  Pair with range-clustered appends
    * ([[Tables.writeSorted]] discipline) so segment ranges are disjoint
    * and a point/range query touches O(1) segments. */
  def readWhere(spark: SparkSession, root: String, colName: String,
                lo: java.math.BigDecimal, hi: java.math.BigDecimal): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(lo.compareTo(hi) <= 0, s"TxTable.readWhere: lo $lo > hi $hi")
    prunedRead(spark, root, colName) { st =>
      st.tag != "n" || // string stats on a numeric read: keep conservatively
        (new java.math.BigDecimal(st.hi).compareTo(lo) >= 0 &&
          new java.math.BigDecimal(st.lo).compareTo(hi) <= 0)
    }.filter(col(colName) >= lo && col(colName) <= hi)
  }

  /** MULTI-POINT [[readWhere]] — `read(...).filter(col IN values)` with
    * manifest-level skipping, as ONE pruned scan: a segment survives when
    * its recorded `[min, max]` contains ANY of the values.  This is the
    * IVF-probe shape (read lists 3, 7, 11 of a list_id-clustered index):
    * per-value `readWhere` calls would build N plans, apply the table's
    * deletion vectors N times, and union — all driver overhead; one call
    * prunes once, applies DVs once, and plans once.  Same conservative
    * contract as readWhere: stat-less or wrong-typed segments are kept and
    * the residual IN filter still applies. */
  def readWhereIn(spark: SparkSession, root: String, colName: String,
                  values: Seq[java.math.BigDecimal]): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(values.nonEmpty, "TxTable.readWhereIn: empty value set")
    prunedRead(spark, root, colName) { st =>
      st.tag != "n" || {
        val lo = new java.math.BigDecimal(st.lo)
        val hi = new java.math.BigDecimal(st.hi)
        values.exists(v => hi.compareTo(v) >= 0 && lo.compareTo(v) <= 0)
      }
    }.filter(col(colName).isin(values: _*))
  }

  /** [[readWhere]] for STRING columns: segment [min, max] bounds are
    * compared lexicographically (exact for the printable-ASCII bounds
    * segStats records — Spark's UTF8String binary order coincides with
    * Java's on that subset).  Same contract: identical to the plain
    * filtered read, pruning is pure optimization. */
  def readWhereString(spark: SparkSession, root: String, colName: String,
                      lo: String, hi: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(lo <= hi, s"TxTable.readWhereString: lo '$lo' > hi '$hi'")
    prunedRead(spark, root, colName) { st =>
      st.tag != "s" || (st.hi >= lo && st.lo <= hi)
    }.filter(col(colName) >= lo && col(colName) <= hi)
  }

  /** EQUALITY-filtered read with BLOOM-FILTER segment skipping: segments
    * whose recorded Bloom filter for `colName` proves `value` absent are
    * dropped before any footer is opened.  This is the point-lookup
    * complement to [[readWhere]]: on high-cardinality hash/uuid keys,
    * every segment's [min, max] spans the whole value space (range stats
    * prune nothing), but a Bloom miss is a proof of absence — the Delta
    * bloom-index idea carried at manifest level.  Min/max stats for the
    * column, when present, prune too (a point is the range [v, v]).
    * Semantically identical to `read(...).filter(col === value)`: false
    * positives just read a segment the residual filter then empties, and
    * segments without a recorded Bloom are conservatively kept.
    *
    * `value` must match the column's insertion type: `String` for string
    * columns, `Long` for integral ones (the underlying sketch hashes
    * strings and longs differently). */
  def readWhereEquals(spark: SparkSession, root: String, colName: String,
                      value: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val v = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"TxTable.readWhereEquals: no commits under $root"))
    val m = readManifest(spark, root, v)
    val kept = m.segments.filter { seg =>
      val cols = m.stats.getOrElse(seg, Map.empty)
      val bloomKeeps = cols.get(bloomKey(colName)) match {
        case Some(st) if st.tag == "b" =>
          org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(
              java.util.Base64.getDecoder.decode(st.lo))).mightContain(value)
        case _ => true // no bloom: cannot prove absence — keep
      }
      val rangeKeeps = cols.get(colName) match {
        case Some(st) if st.tag == "n" =>
          val x = new java.math.BigDecimal(value.toString)
          new java.math.BigDecimal(st.hi).compareTo(x) >= 0 &&
            new java.math.BigDecimal(st.lo).compareTo(x) <= 0
        case Some(st) if st.tag == "s" =>
          val x = value.toString; st.hi >= x && st.lo <= x
        case _ => true
      }
      bloomKeeps && rangeKeeps
    }
    val pruned =
      if (kept.isEmpty) readVersion(spark, root, v).limit(0) // provably absent
      else {
        val raw = readSegments(spark, root, m, kept)
        // deletion vectors apply to the kept-segment scan exactly as in
        // prunedRead/readVersion — a Bloom hit on a tombstoned key must
        // still come back empty for the `read().filter(col === value)`
        // contract to hold
        if (m.dvs.isEmpty) raw
        else applyDvs(spark, root, m.dvs, raw.withColumn("__seg", segTag))
          .drop("__seg")
      }
    pruned.filter(col(colName) === lit(value))
  }

  /** Scan `segments` of manifest `m` with the manifest-RECORDED schema when
    * available: the read plans with ZERO footer I/O (the cost the recorded
    * schema exists to remove — a mergeSchema read opens every segment
    * file's footer on the driver, which at 10⁵-10⁶ segments is a
    * driver-side sweep per read).  Segments written before a column
    * existed null-fill it (additive schema evolution); type changes were
    * refused at commit time, so the recorded schema is always readable.
    * Pre-schema-era manifests fall back to one mergeSchema footer sweep. */
  private def readSegments(spark: SparkSession, root: String, m: Manifest,
                           segments: Seq[String]): DataFrame = {
    val paths = segments.map(s => s"${root.stripSuffix("/")}/$s")
    m.schema.map(decodeSchema) match {
      case Some(sc) => spark.read.schema(sc).parquet(paths: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }
  }

  /** Time travel: the table exactly as of version `v` (each manifest
    * records its own era's schema — see [[readSegments]]). */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame = {
    val m = retainedManifest(spark, root, v, withStats = false)
    require(m.segments.nonEmpty, s"TxTable: version $v of $root is empty")
    val raw = readSegments(spark, root, m, m.segments)
    if (m.dvs.isEmpty) raw
    else applyDvs(spark, root, m.dvs, raw.withColumn("__seg", segTag))
      .drop("__seg")
  }

  /** The latest version whose manifest was published at or before
    * `tsMillis` (Delta's `TIMESTAMP AS OF` resolution).  One `_txlog`
    * listing; the publish time is the manifest file's mtime (link(2) and
    * rename both carry the temp file's inode/mtime, written microseconds
    * before publish).  Commits serialize through the version CAS — a
    * committer only claims slot v+1 after v's manifest is visible — so
    * mtimes are monotone in version order up to filesystem timestamp
    * granularity; like Delta, two commits inside one clock tick resolve to
    * the LATER version.  Fails loudly when `tsMillis` predates the oldest
    * retained manifest (naming the boundary, like time travel past the
    * vacuum horizon) — a vacuumed-out era must never silently resolve to
    * the earliest surviving snapshot. */
  def versionAsOf(spark: SparkSession, root: String, tsMillis: Long): Long = {
    val f = fs(spark, root)
    val dir = new Path(s"${root.stripSuffix("/")}/$LogDir")
    val manifests =
      if (!f.exists(dir)) Seq.empty
      else f.listStatus(dir).toSeq
        .filter(st => st.getPath.getName.startsWith("v") &&
          st.getPath.getName.endsWith(".json"))
        .map(st => (st.getPath.getName.stripPrefix("v").stripSuffix(".json").toLong,
          st.getModificationTime))
    require(manifests.nonEmpty, s"TxTable.versionAsOf: no commits under $root")
    val atOrBefore = manifests.filter(_._2 <= tsMillis)
    require(atOrBefore.nonEmpty, {
      val (v0, t0) = manifests.minBy(_._1)
      s"TxTable.versionAsOf: timestamp $tsMillis predates the earliest " +
        s"retained manifest (v$v0 published at $t0) under $root — that era " +
        "was removed by vacuum or never existed"
    })
    atOrBefore.maxBy(_._1)._1
  }

  /** Snapshot as of a wall-clock timestamp: [[versionAsOf]] + [[readVersion]]. */
  def readAsOf(spark: SparkSession, root: String, tsMillis: Long): DataFrame =
    readVersion(spark, root, versionAsOf(spark, root, tsMillis))

  /** The source-segment tag — `input_file_name()` must be computed AT the
    * scan (Spark refuses it above a multi-source join), so every path that
    * needs row provenance tags first and composes after. */
  private def segTag: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{input_file_name, regexp_extract}
    regexp_extract(input_file_name(), "/(data/[^/]+)/[^/]*$", 1)
  }

  /** Snapshot of version `v` tagged with its source segment as `__seg`,
    * deletion vectors applied — what the merge/delete rewrite paths read
    * (they need the provenance tag anyway for hit-segment detection). */
  private def readVersionTagged(spark: SparkSession, root: String,
                                v: Long): DataFrame = {
    val m = retainedManifest(spark, root, v, withStats = false)
    require(m.segments.nonEmpty, s"TxTable: version $v of $root is empty")
    val raw = readSegments(spark, root, m, m.segments).withColumn("__seg", segTag)
    applyDvs(spark, root, m.dvs, raw)
  }

  /** MERGE-ON-READ: anti-join a `__seg`-tagged snapshot against its
    * manifest's deletion vectors.  Each DV is a broadcast tombstone-key
    * set scoped to the data segments that existed when it committed (the
    * tag confines suppression to those segments, so later-appended rows
    * with a tombstoned key pass through untouched).  Broadcast anti-joins
    * add no shuffle; the tag column survives for callers that need
    * provenance.  Key columns are the DV parquet's own schema; matching is
    * null-safe like [[commitDelete]]'s. */
  private def applyDvs(spark: SparkSession, root: String, dvs: Seq[String],
                       tagged: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    dvs.foldLeft(tagged) { (acc, entry) =>
      val parts = entry.split("\\|").toSeq
      val (dvSeg, applies) = (parts.head, parts.tail)
      val keys = spark.read.parquet(s"${root.stripSuffix("/")}/$dvSeg")
      val keyCols = keys.schema.fieldNames.toSeq
      val scoped = applies.map(sg => keys.withColumn("__dvseg", lit(sg)))
        .reduce(_ unionByName _)
        .select((keyCols.map(k => col(k).as(s"__dv_$k")) :+ col("__dvseg")): _*)
      val cond = keyCols.map(k => acc(k) <=> scoped(s"__dv_$k"))
        .reduce(_ && _) && acc("__seg") === scoped("__dvseg")
      acc.join(broadcast(scoped), cond, "left_anti")
    }
  }

  /** DELETION-VECTOR DELETE — merge-on-read: publish the tombstone KEY SET
    * as a `dv/` sidecar scoped to the current snapshot's segments, with NO
    * data segment read or rewritten (the write is O(tombstones), the
    * row-level work moves to read time as a broadcast anti-join).  This is
    * the high-frequency-delete half of the story [[commitDelete]]'s
    * copy-on-write rewrite is too expensive for; any rewriting commit
    * ([[compactTx]], [[compactZOrder]], [[commitOverwrite]]) MATERIALIZES
    * outstanding DVs — it reads through them and publishes a DV-free
    * manifest — and [[commitMerge]]/[[commitDelete]] keep carried
    * segments' DVs scoped correctly.  `cdf = true` records the deleted
    * rows for [[readChanges]], which DOES cost a snapshot probe (that's
    * the tradeoff: pay it only if a change feed consumer needs the rows).
    * Returns the head (unchanged) when `tombstones` is empty. */
  def commitDeleteVectors(spark: SparkSession, root: String,
                          tombstones: DataFrame, keys: Seq[String],
                          cdf: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val headV = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"TxTable.commitDeleteVectors: no commits under $root"))
    val head = readManifest(spark, root, headV)
    val tomb = tombstones.select(keys.map(col): _*).distinct()
    if (tomb.isEmpty) return headV
    val dvSeg = "dv/" + java.util.UUID.randomUUID().toString
    tomb.write.parquet(s"${root.stripSuffix("/")}/$dvSeg")
    val entry = (dvSeg +: head.segments).mkString("|")
    val cdc = if (!cdf) Nil else {
      val cur = readVersion(spark, root, headV)
      val bt = broadcast(tomb)
      Seq(writeChangeSegment(
        cur.join(bt, keys.map(k => cur(k) <=> bt(k)).reduce(_ && _), "left_semi")
          .withColumn("_change_type", lit("delete")), root))
    }
    commit(spark, root, "dvdelete", head.segments, maxRetries = 0,
      stats = head.stats, expectVersion = Some(headV + 1), cdc = cdc,
      dvs = head.dvs :+ entry)
  }

  /** ONE-COMMIT incremental apply — the [[commitAppend]] +
    * [[commitDeleteVectors]] pair fused into a single manifest publish:
    * `inserts` stage as one new stats-tracked segment AND `tombstones`
    * publish as a deletion vector scoped to EVERY data segment of the new
    * snapshot (including the fresh one, so a key that is both inserted and
    * tombstoned in the same delta ends up deleted — apply order is
    * append-then-delete, matching the two-commit sequence bit for bit).
    * This is the maintained-index refresh primitive: a CDF delta lands as
    * ONE version, ONE CAS, with no window where readers see the inserts
    * without the takedowns (the two-commit dance had one), and half the
    * commit-protocol overhead — the same fix [[commitRewriteHit]] gave the
    * IVM apply.
    *
    * `batch` makes it an exactly-once streaming apply (replay no-ops).
    * Degenerate shapes fold away: empty tombstones publish a plain append
    * manifest; empty inserts publish a pure dvdelete-shaped one; both
    * empty returns the head unchanged.  `cdf = true` records the change
    * feed (inserts by segment reference, delete rows via one snapshot
    * probe).  CHECK constraints are enforced on `inserts` (the only rows
    * this commit introduces). */
  def commitDelta(spark: SparkSession, root: String, inserts: DataFrame,
                  tombstones: DataFrame, keys: Seq[String],
                  statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
                  cdf: Boolean = false, batch: Option[Long] = None): Long = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    if (batch.exists(b => lastCommittedBatch(spark, root).exists(_ >= b)))
      return ReplayNoOp // fast path; commit re-verifies per attempt
    val headV = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"TxTable.commitDelta: no commits under $root — bootstrap with " +
          "commitOverwrite first"))
    enforceChecks(spark, root, inserts, "commitDelta")
    val f = fs(spark, root)
    // stage the insert segment (ours alone); emptiness decided driver-side
    // from the written parquet FOOTERS (an empty write can still leave a
    // footer-only part file) — no extra isEmpty job
    val seg = writeSegment(inserts, root)
    val segHasFiles = segRecordCount(spark, f, root, seg) > 0
    if (!segHasFiles) f.delete(new Path(s"${root.stripSuffix("/")}/$seg"), true)
    val newSegs = if (segHasFiles) Seq(seg) else Seq.empty[String]
    val segSt =
      if (segHasFiles) segStatsWithBlooms(spark, root, seg,
        statsCols ++ bloomCols.map(bloomKey))
      else Map.empty[String, ColStat]
    // stage the tombstone key set, same footer-decided emptiness
    val dvSeg = "dv/" + java.util.UUID.randomUUID().toString
    tombstones.select(keys.map(col): _*).distinct()
      .write.parquet(s"${root.stripSuffix("/")}/$dvSeg")
    val dvHasKeys = segRecordCount(spark, f, root, dvSeg) > 0
    if (!dvHasKeys) f.delete(new Path(s"${root.stripSuffix("/")}/$dvSeg"), true)
    if (!segHasFiles && !dvHasKeys) return headV // nothing moved
    var attempt = 0
    while (true) {
      val curV = latestVersion(spark, root).getOrElse(headV)
      val base = readManifest(spark, root, curV)
      val stats = base.stats ++
        (if (segSt.nonEmpty) Map(seg -> segSt) else Map.empty)
      val allSegs = base.segments ++ newSegs
      // the DV scopes the WHOLE new snapshot — base segments and the fresh
      // delta segment alike (append-then-delete order)
      val dvs = base.dvs ++
        (if (dvHasKeys) Seq((dvSeg +: allSegs).mkString("|")) else Nil)
      val baseSchema = base.schema.map(decodeSchema).getOrElse(inserts.schema)
      val evolved =
        if (segHasFiles) mergeEvolve(baseSchema, inserts.schema, root)
        else baseSchema
      val cdc = if (!cdf) Nil else {
        val insRefs = if (segHasFiles) Seq("insert:" + seg) else Nil
        val delRows = if (!dvHasKeys) Nil else {
          val tomb = broadcast(
            spark.read.parquet(s"${root.stripSuffix("/")}/$dvSeg"))
          // post-append snapshot = base snapshot + the staged delta segment
          val cur = (Seq(readVersion(spark, root, curV)) ++
            (if (segHasFiles)
              Seq(spark.read.parquet(s"${root.stripSuffix("/")}/$seg"))
            else Nil))
            .reduce(_.unionByName(_, allowMissingColumns = true))
          Seq(writeChangeSegment(
            cur.join(tomb, keys.map(k => cur(k) <=> tomb(k)).reduce(_ && _),
              "left_semi").withColumn("_change_type", lit("delete")), root))
        }
        insRefs ++ delRows
      }
      // no takedowns ⇒ the manifest IS a plain append (keeps readChanges'
      // structural insert derivation); any DV makes it a delta commit
      val op = if (dvHasKeys) "delta" else "append"
      // this attempt's cdc/ change segment is derived from curV: a losing
      // attempt re-derives it, so reclaim the stale one before retrying
      // (and reclaim EVERYTHING staged when a concurrent replay of the same
      // batch wins) instead of leaving per-attempt orphans for vacuum
      def dropCdcSegs(): Unit = cdc.filterNot(_.startsWith("insert:"))
        .foreach(cs => f.delete(new Path(s"${root.stripSuffix("/")}/$cs"), true))
      try {
        val v = commit(spark, root, op, allSegs, maxRetries = 0,
          batch = batch, stats = stats, expectVersion = Some(curV + 1),
          cdc = cdc, dvs = dvs, schema = Some(encodeSchema(evolved)))
        if (v == ReplayNoOp) {
          newSegs.foreach(sg =>
            f.delete(new Path(s"${root.stripSuffix("/")}/$sg"), true))
          if (dvHasKeys)
            f.delete(new Path(s"${root.stripSuffix("/")}/$dvSeg"), true)
          dropCdcSegs()
        }
        return v
      } catch {
        // retry ONLY the expectVersion CAS miss (matched positively on its
        // message); any other IllegalArgumentException — an unregistered
        // arbiter name, a schema-evolution refusal, a null-message IAE —
        // is a genuine failure and surfaces immediately
        case e: IllegalArgumentException
          if attempt < 10 && e.getMessage != null &&
            e.getMessage.contains("head moved") =>
            dropCdcSegs()
            attempt += 1
            Thread.sleep(math.min(50L * attempt, 1000L) +
              java.util.concurrent.ThreadLocalRandom.current().nextLong(50L))
      }
    }
    -1L // unreachable
  }

  /** CHANGE DATA FEED (the Delta CDF idea): every row-level change the
    * table went through in versions `(fromVersion, toVersion]`, as table
    * columns + `_change_type` ('insert' | 'update_preimage' |
    * 'update_postimage' | 'delete') + `_commit_version` — so a downstream
    * incremental consumer reads the DELTA between two versions it has
    * seen, never a table-sized diff.
    *
    * Per-commit sourcing (nothing here scans more than the change set):
    *  - append commits derive their inserts from the commit's NEW data
    *    segments (segment list diff vs the previous manifest — no stored
    *    copy, the Delta add-file trick);
    *  - merge / delete commits read the `cdc/` change segment recorded at
    *    commit time (requires `cdf = true` on the writing call — a commit
    *    in range without one throws rather than guessing);
    *  - compact / cluster commits are layout-only: no logical change;
    *  - overwrite commits emit the previous snapshot as 'delete' + the new
    *    one as 'insert' (both snapshots are in the retained log).
    *
    * Changes must still be within [[vacuum]] retention: vacuumed manifests
    * or change segments make the range unreadable, exactly like time
    * travel. */
  def readChanges(spark: SparkSession, root: String, fromVersion: Long,
                  toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(0 <= fromVersion && fromVersion <= toVersion,
      s"TxTable.readChanges: bad range ($fromVersion, $toVersion]")
    // plan with the manifest-RECORDED schema when available (cdc segments
    // carry the commit era's table columns + `_change_type`), so the read
    // costs ZERO footer I/O — a mergeSchema read opens every segment
    // footer on the driver during planning, a per-refresh driver sweep the
    // recorded schema exists to remove.  Pre-schema-era manifests fall
    // back to the footer sweep.
    def readSegs(m: Manifest, ss: Seq[String], withChangeType: Boolean): DataFrame = {
      val paths = ss.map(s0 => s"${root.stripSuffix("/")}/$s0")
      m.schema.map(decodeSchema) match {
        case Some(sc) =>
          val full = if (withChangeType)
            sc.add("_change_type", org.apache.spark.sql.types.StringType)
          else sc
          spark.read.schema(full).parquet(paths: _*)
        case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
      }
    }
    val frames = ((fromVersion + 1) to toVersion).flatMap { v =>
      val m = retainedManifest(spark, root, v, withStats = false)
      val changed: Seq[DataFrame] = m.op match {
        case "append" =>
          val prev = if (v == 1) Set.empty[String]
            else retainedManifest(spark, root, v - 1, withStats = false).segments.toSet
          val fresh = m.segments.filterNot(prev.contains)
          if (fresh.isEmpty) Nil
          else Seq(readSegs(m, fresh, withChangeType = false)
            .withColumn("_change_type", lit("insert")))
        case "merge" | "delete" | "dvdelete" | "delta" =>
          if (m.cdc.nonEmpty) {
            // `insert:`-prefixed entries reference a DATA segment whose
            // rows are all inserts (insert-only commits record no separate
            // change copy); the rest are self-describing cdc/ segments
            val (refs, own) = m.cdc.partition(_.startsWith("insert:"))
            (if (own.nonEmpty) Seq(readSegs(m, own, withChangeType = true)) else Nil) ++
              (if (refs.nonEmpty)
                Seq(readSegs(m, refs.map(_.stripPrefix("insert:")), withChangeType = false)
                  .withColumn("_change_type", lit("insert")))
              else Nil)
          } else throw new IllegalArgumentException(
            s"TxTable.readChanges: commit v$v (${m.op}) recorded no change " +
              "data — write it with cdf = true to enable the change feed")
        case "compact" => Nil // layout-only: no logical change
        case "overwrite" | "restore" =>
          val del = if (v == 1) Nil else Seq(readVersion(spark, root, v - 1)
            .withColumn("_change_type", lit("delete")))
          del :+ readVersion(spark, root, v)
            .withColumn("_change_type", lit("insert"))
        case other => throw new IllegalStateException(
          s"TxTable.readChanges: unknown op '$other' at v$v under $root")
      }
      changed.map(_.withColumn("_commit_version", lit(v)))
    }
    frames.reduceOption((a, b) => a.unionByName(b, allowMissingColumns = true))
      .getOrElse(read(spark, root).limit(0)
        .withColumn("_change_type", lit(null).cast("string"))
        .withColumn("_commit_version", lit(null).cast("long")))
  }

  /** DRIVER-SIDE row count of the change feed over `(fromVersion,
    * toVersion]` — the exact number of rows [[readChanges]] would return,
    * decided from manifests and parquet FOOTER metadata alone (zero Spark
    * jobs): a cdc/ or referenced data segment's row count is recorded in
    * its parquet footers, and [[readChanges]] reads those segments raw by
    * path (deletion vectors never apply to them), so the footer sum is
    * exact, not an estimate.  Returns `None` when a window commit's
    * contribution is not footer-decidable (overwrite/restore — their
    * change rows are snapshot diffs read THROUGH deletion vectors) or not
    * recorded (`cdf = false` commits — [[readChanges]] raises the loud
    * error for those).  [[Ivm]] uses this to decide window emptiness
    * without a probe action: a layout-only window refreshes without
    * scheduling a single job, and a provably non-empty feed skips the
    * delta `isEmpty` probe entirely.  Cost: O(window) manifest reads plus
    * a handful of delta-sized-segment footer opens — metadata, never
    * data. */
  def changeWindowRows(spark: SparkSession, root: String, fromVersion: Long,
                       toVersion: Long): Option[Long] = {
    require(0 <= fromVersion && fromVersion <= toVersion,
      s"TxTable.changeWindowRows: bad range ($fromVersion, $toVersion]")
    val f = fs(spark, root)
    var total = 0L
    var v = fromVersion + 1
    while (v <= toVersion) {
      val m = retainedManifest(spark, root, v, withStats = false)
      m.op match {
        case "compact" => () // layout-only: no logical change
        case "append" =>
          val prev = if (v == 1) Set.empty[String]
            else retainedManifest(spark, root, v - 1, withStats = false)
              .segments.toSet
          m.segments.filterNot(prev.contains)
            .foreach(s0 => total += segRecordCount(spark, f, root, s0))
        case "merge" | "delete" | "dvdelete" | "delta" =>
          if (m.cdc.isEmpty) return None // readChanges raises the loud error
          m.cdc.foreach(e =>
            total += segRecordCount(spark, f, root, e.stripPrefix("insert:")))
        case _ => return None // overwrite/restore: DV-dependent snapshot diff
      }
      v += 1
    }
    Some(total)
  }

  /** Drop data segments referenced by NO manifest among the newest
    * `keepVersions` (and drop older manifests + all claims at or below the
    * head — published slots never need their claim again) — the retention
    * boundary for snapshot isolation: readers older than it lose their
    * snapshot.  The head manifest carries the max committed batch id, so
    * vacuum can never drop the streaming replay horizon. */
  // ------------------------------------------------------------------ tags

  private val TagPrefix = "tag-"

  private def tagPath(root: String, name: String): Path =
    new Path(s"${root.stripSuffix("/")}/$LogDir/$TagPrefix$name.json")

  /** Create the named tag pinning version `v` — an immutable ref (the
    * Iceberg tag / git-tag idea): [[readTag]] resolves it forever, and
    * [[vacuum]] RETAINS a tagged manifest and every artifact it references
    * (segments, deletion vectors, change segments, stats sidecars) even
    * past the keep-window, so a release cut as a tag stays readable while
    * untagged history ages out.  Creation is exclusive via the same
    * [[publishExclusive]] arbitration commits use — a racing duplicate tag
    * loses loudly; retagging requires [[deleteTag]] first. */
  def tag(spark: SparkSession, root: String, name: String, v: Long): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || "._-".contains(c)),
      s"TxTable.tag: tag name must be [A-Za-z0-9._-]+, got '$name'")
    readManifest(spark, root, v, withStats = false) // fail loudly on a bad version
    val f = fs(spark, root)
    val target = tagPath(root, name)
    val tmp = new Path(target.getParent, s".tmp-${java.util.UUID.randomUUID()}")
    val os = f.create(tmp, false)
    try os.write(s"""{"version":$v}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    if (!publishExclusive(spark, f, tmp, target)) {
      f.delete(tmp, false)
      throw new IllegalArgumentException(
        s"TxTable.tag: tag '$name' already exists under $root " +
          "(tags are immutable; deleteTag first)")
    }
  }

  /** All tags of the table, name → pinned version (one log listing). */
  def tags(spark: SparkSession, root: String): Map[String, Long] = {
    val f = fs(spark, root)
    val dir = new Path(s"${root.stripSuffix("/")}/$LogDir")
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(n => n.startsWith(TagPrefix) && n.endsWith(".json"))
      .map { n =>
        val name = n.stripPrefix(TagPrefix).stripSuffix(".json")
        val body = slurp(f, new Path(dir, n))
        val v = "\"version\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(body)
          .getOrElse(throw new IllegalStateException(
            s"TxTable.tags: malformed tag file '$n' under $root")).group(1).toLong
        name -> v
      }.toMap
  }

  /** The version the named tag pins; absent tags fail loudly. */
  def tagVersion(spark: SparkSession, root: String, name: String): Long =
    tags(spark, root).getOrElse(name, throw new NoSuchElementException(
      s"TxTable: no tag '$name' under $root"))

  /** Snapshot read of the tagged version (see [[tag]] for retention). */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame =
    readVersion(spark, root, tagVersion(spark, root, name))

  /** Drop the tag ref; the pinned version re-enters normal [[vacuum]]
    * retention on the next run (nothing is deleted here). */
  def deleteTag(spark: SparkSession, root: String, name: String): Unit = {
    val f = fs(spark, root)
    require(f.delete(tagPath(root, name), false),
      s"TxTable.deleteTag: no tag '$name' under $root")
  }

  // ------------------------------------------------------------- checks

  private val CheckPrefix = "check-"

  private def checkPath(root: String, name: String): Path =
    new Path(s"${root.stripSuffix("/")}/$LogDir/$CheckPrefix$name.json")

  /** Register a table-level CHECK constraint (the Delta `ALTER TABLE ADD
    * CONSTRAINT` idea): `exprSql` is a boolean SQL expression over the
    * table's columns, and from this call on every row-ingesting commit
    * ([[commitAppend]]/[[commitOverwrite]]/[[commitDelta]]/
    * [[commitOverwriteClustered]] and the streaming append path) REFUSES
    * to publish when any incoming row violates it — the table can never
    * transition from all-valid to invalid.  Commits whose published rows
    * are DERIVED rather than the raw batch enforce on what they publish:
    * [[commitMerge]] checks the MERGED output (a check spanning an updated
    * and a preserved column holds on the combination, not the batch) and
    * [[commitRewriteHit]] checks the rewrite callback's output — both via
    * a delta-sized columnar read-back of the staged segment, removed on
    * refusal.  SQL CHECK semantics: a row
    * violates only when the predicate is FALSE; NULL passes (constrain
    * nullability explicitly with `x IS NOT NULL`).  Adding a constraint
    * to a non-empty table first proves the EXISTING snapshot satisfies it
    * (one counting scan), so registration itself can't leave the table in
    * a state it forbids.  Creation is exclusive via the same
    * [[publishExclusive]] arbitration commits use; re-defining requires
    * [[dropCheck]] first.  Scale: enforcement is one extra map-side-
    * combined counting pass over the INCOMING batch (never the table);
    * callers with an expensive input plan should persist it. */
  def addCheck(spark: SparkSession, root: String, name: String,
               exprSql: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || "._-".contains(c)),
      s"TxTable.addCheck: check name must be [A-Za-z0-9._-]+, got '$name'")
    require(!exprSql.exists(c => c == '"' || c == '\\'),
      s"TxTable.addCheck: expression must not contain '\"' or '\\\\' " +
        "(the dependency-free log format stores it as a JSON string)")
    val pred = expr(exprSql) // parse errors surface here, before any I/O
    if (latestVersion(spark, root).nonEmpty) {
      val bad = read(spark, root)
        .filter(coalesce(pred, lit(true)) === false).count()
      require(bad == 0L, s"TxTable.addCheck: $bad existing rows violate " +
        s"'$name' ($exprSql) under $root — fix the data first")
    }
    val f = fs(spark, root)
    val target = checkPath(root, name)
    val tmp = new Path(target.getParent, s".tmp-${java.util.UUID.randomUUID()}")
    val os = f.create(tmp, false)
    try os.write(s"""{"expr":"$exprSql"}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    if (!publishExclusive(spark, f, tmp, target)) {
      f.delete(tmp, false)
      throw new IllegalArgumentException(
        s"TxTable.addCheck: check '$name' already exists under $root " +
          "(dropCheck first)")
    }
  }

  /** All CHECK constraints of the table, name → expression (one listing). */
  def checks(spark: SparkSession, root: String): Map[String, String] = {
    val f = fs(spark, root)
    val dir = new Path(s"${root.stripSuffix("/")}/$LogDir")
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(n => n.startsWith(CheckPrefix) && n.endsWith(".json"))
      .map { n =>
        val name = n.stripPrefix(CheckPrefix).stripSuffix(".json")
        val body = slurp(f, new Path(dir, n))
        val e = "\"expr\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(body)
          .getOrElse(throw new IllegalStateException(
            s"TxTable.checks: malformed check file '$n' under $root")).group(1)
        name -> e
      }.toMap
  }

  /** Remove the named constraint; future commits stop enforcing it
    * (already-committed data is untouched — it was valid when written). */
  def dropCheck(spark: SparkSession, root: String, name: String): Unit = {
    val f = fs(spark, root)
    require(f.delete(checkPath(root, name), false),
      s"TxTable.dropCheck: no check '$name' under $root")
  }

  /** One counting pass over the frame this commit would publish, against
    * every registered constraint; any violation refuses the commit before
    * a manifest is published (callers checking a staged segment's
    * read-back remove the segment), naming the constraint and the
    * violation count.  Zero cost for unconstrained tables (one log
    * listing, no data pass). */
  private def enforceChecks(spark: SparkSession, root: String,
                            df: DataFrame, op: String): Unit = {
    import org.apache.spark.sql.functions._
    val cs = checks(spark, root).toSeq.sortBy(_._1)
    if (cs.isEmpty) return
    val aggs = cs.map { case (n, e) =>
      sum(when(coalesce(expr(e), lit(true)) === false, 1L).otherwise(0L)).as(n) }
    val row = try df.agg(aggs.head, aggs.tail: _*).collect().head
    catch { case e: org.apache.spark.sql.AnalysisException =>
      throw new IllegalArgumentException(
        s"TxTable.$op: a CHECK constraint (${cs.map(_._1).mkString(", ")}) " +
          s"does not resolve against the incoming batch's columns " +
          s"[${df.columns.mkString(", ")}] under $root: ${e.getMessage}")
    }
    cs.zipWithIndex.foreach { case ((n, e), i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      require(bad == 0L, s"TxTable.$op: $bad incoming rows violate CHECK " +
        s"'$n' ($e) under $root — nothing was published (any staged " +
        "segment was removed)")
    }
  }

  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 2): Unit = {
    val f = fs(spark, root)
    val head = latestVersion(spark, root).getOrElse(return)
    val keepFrom = math.max(1L, head - keepVersions + 1)
    // tagged versions outside the keep window stay fully live: their
    // manifest survives below, and their segments/cdc/dvs/sidecars join
    // the retained set here.  A dangling tag (manifest vacuumed by a
    // pre-tag-era run) pins nothing and is left for the owner to delete.
    val taggedVs = tags(spark, root).values.toSet
      .filter(v => v >= 1L && v < keepFrom)
    val pinned = taggedVs.toSeq.sorted.flatMap { v =>
      try Some(readManifest(spark, root, v, withStats = false))
      catch { case _: java.io.FileNotFoundException => None }
    }
    val kept = pinned ++
      (keepFrom to head).map(readManifest(spark, root, _, withStats = false))
    val live = kept.flatMap(_.segments).toSet
    val dataDir = new Path(s"${root.stripSuffix("/")}/data")
    if (f.exists(dataDir)) f.listStatus(dataDir).foreach { st =>
      if (!live.contains("data/" + st.getPath.getName))
        f.delete(st.getPath, true)
    }
    // change segments age out with their manifest (the CDF retention
    // boundary — readChanges past it fails like time travel does)
    val liveCdc = kept.flatMap(_.cdc).toSet
    val cdcDir = new Path(s"${root.stripSuffix("/")}/cdc")
    if (f.exists(cdcDir)) f.listStatus(cdcDir).foreach { st =>
      if (!liveCdc.contains("cdc/" + st.getPath.getName))
        f.delete(st.getPath, true)
    }
    // deletion-vector sidecars live as long as a retained manifest scopes
    // them (rewrites drop fully-materialized DVs from their manifests)
    val liveDvs = kept.flatMap(_.dvs.map(_.split("\\|").head)).toSet
    val dvDir = new Path(s"${root.stripSuffix("/")}/dv")
    if (f.exists(dvDir)) f.listStatus(dvDir).foreach { st =>
      if (!liveDvs.contains("dv/" + st.getPath.getName))
        f.delete(st.getPath, true)
    }
    (1L until keepFrom).filterNot(taggedVs)
      .foreach(v => f.delete(manifestPath(root, v), false))
    // one listing, not one probe per version slot; claims above head with
    // no manifest are orphans of dead committers — reap once stale, the
    // same threshold the commit retry path uses
    val staleMs = spark.conf.getOption("spark.graft.tx.staleClaimMs")
      .map(_.toLong).getOrElse(600000L)
    val now = System.currentTimeMillis()
    // stats sidecars live exactly as long as a RETAINED manifest references
    // them; anything else (losers' orphans, sidecars of just-deleted old
    // manifests) reaps once stale — the mtime guard protects an in-flight
    // committer whose sidecar is written but whose manifest has not
    // published yet, the same race the claim reaper respects
    val liveRefs = kept.flatMap(_.statsRef).toSet
    f.listStatus(new Path(s"${root.stripSuffix("/")}/$LogDir")).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("v") && n.endsWith(".claim")) {
        val v = n.stripPrefix("v").stripSuffix(".claim").toLong
        // claims release through the session arbiter so an external-store
        // implementation can clear its conditional-put entry too
        if (v <= head) PublishArbiter.resolve(spark).releaseClaim(f, st.getPath)
        else if (!f.exists(manifestPath(root, v)) &&
                 now - st.getModificationTime > staleMs)
          PublishArbiter.resolve(spark).releaseClaim(f, st.getPath)
      } else if (n.startsWith("s-") && n.endsWith(".json") &&
                 !liveRefs.contains(n) &&
                 now - st.getModificationTime > staleMs)
        f.delete(st.getPath, false)
    }
  }
}
