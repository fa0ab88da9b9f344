package graft.engine

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Minimal TRANSACTIONAL table format — the missing piece `Tables.compact`
  * documents (a racing lister can catch the gap between its two renames):
  * the Delta/Iceberg idea with zero dependencies.  One table =
  *
  * {{{
  *   <root>/data/<uuid>/part-*.parquet   immutable data segments
  *   <root>/cdc/<uuid>/part-*.parquet    per-commit change segments (CDF)
  *   <root>/dv/<uuid>                    deletion vector: row positions of one segment
  *   <root>/_txlog/v<NNNNNNNNNN>.json    manifest: the segment list of version N
  *   <root>/_txlog/v<NNNNNNNNNN>.claim   zero-byte slot claim (commit CAS)
  * }}}
  *
  * Deletion vectors are ROW POSITIONS (the Delta Lake / Iceberg v2
  * position-delete design), at most one small driver-read file per data
  * segment ([[readDv]]); a later delete on the segment writes the union as
  * a new file.  Reads drop DV rows with one driver-built filter
  * ([[readLive]]), and MERGE is merge-on-read: it writes only the rows it
  * changes plus the positions they replace ([[commitMerge]]).
  *
  * Every commit writes its data into a FRESH uuid segment directory, then
  * publishes a manifest listing the segments that make up the new snapshot
  * via write-temp + rename — ONE metadata operation, so a reader resolving
  * the log sees either version N or N+1, never a half-swapped directory.
  * Old segments are untouched until [[vacuum]], so a reader that resolved
  * version N keeps reading a consistent snapshot while N+1..N+k land
  * (snapshot isolation, and time travel for free via [[readVersion]]).
  *
  * Commit concurrency: every commit runs through ONE optimistic loop
  * ([[commit]]), the Delta log-append shape: read the head,
  * re-check the batch-id replay guard, derive the next manifest from the
  * head (the caller states its segments, stats, deletion vectors, change
  * segments and schema), CLAIM version slot vN with a create-exclusive
  * zero-byte `vN.claim`, publish.  A commit whose data came from the
  * snapshot it read (MERGE, DELETE, the keyed rewrite, restore,
  * compaction, DV delete) FAILS on a moved head or a lost claim; one whose
  * data is its own (overwrite, append, the streaming sinks, the fused
  * delta) re-derives from the new head and retries lost claims with
  * jittered backoff.  On local filesystems the claim goes through `O_CREAT|O_EXCL` (nio `Files.createFile`), which
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
  * already refuses an existing destination.  Liveness: a
  * committer that dies between claim and publish cannot wedge the slot —
  * the loop and [[vacuum]] reap a claim with no manifest once it is
  * older than `spark.graft.tx.staleClaimMs` (default 10 min); if the
  * "dead" committer was merely slow and publishes after its claim was
  * reaped and the slot re-won, the exclusive link/rename arbitrates — the
  * late publisher ERRORS rather than clobbering the already-acknowledged
  * winner manifest.
  *
  * Staging: each commit call registers every directory it writes under
  * `data/`, `dv/` and `cdc/` in one [[Staging]] scope and, when it returns
  * or throws, deletes those its own published manifest does not reference
  * (all of them when it published nothing).  A publish that throws has an
  * unknown outcome, so the sweep then keeps what its manifest references.
  * A directory no manifest references therefore belongs to an in-flight,
  * crashed or unknown-outcome commit, which [[vacuum]] reaps only once
  * stale.
  *
  * Exactly-once bookkeeping: EVERY manifest carries the maximum streaming
  * batch id committed so far (`batch` is carried forward through append /
  * merge / delete / compact / overwrite), the way Delta persists per-app
  * txn versions — so [[lastCommittedBatch]] is a single head-manifest read
  * and [[vacuum]] can never drop the replay horizon.  The replay check is
  * re-verified INSIDE the commit loop, after the head re-read, so
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
  * streaming sinks' commits.  Every commit learns what it staged from ONE
  * [[describe]] call: one footer pass per new segment gives its row count
  * (which decides whether an empty segment publishes) and its integer
  * bounds, and one grouped aggregate, read with the written frame's
  * schema, answers the other columns.
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
  // dvs: DELETION VECTORS — each entry is "dv/<uuid>|<dataSeg>": the
  // row-position file of one data segment, at most one entry per segment
  // (see [[readDv]]).  Positions name physical rows, so a later re-insert of
  // a deleted key is never suppressed.  Pipe-joined flat strings keep the
  // dependency-free JSON exact (segment names are uuids, never '|')
  // schema: base64 of the snapshot's logical StructType JSON, stated by
  // every commit — SCHEMA EVOLUTION support: appends may add columns or
  // omit existing ones (reads null-fill), type changes are refused AT
  // COMMIT TIME, and the recorded schema lets reads plan WITHOUT opening
  // any segment footer; each manifest keeps its own snapshot's schema, so
  // time travel reads the schema of its era
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
  // version, batch and statsRef are set by the commit loop at publish; a
  // caller's derivation states everything else
  private case class Manifest(op: String, segments: Seq[String], schema: String,
                              stats: Map[String, Map[String, ColStat]] = Map.empty,
                              cdc: Seq[String] = Nil,
                              dvs: Seq[String] = Nil,
                              version: Long = 0L,
                              batch: Option[Long] = None,
                              statsRef: Option[String] = None)

  /** Every staged directory or file manifest `m` references: its data
    * segments, its change segments and its deletion-vector files. */
  private def dirsOf(m: Manifest): Seq[String] =
    m.segments ++ m.cdc.map(_.stripPrefix("insert:")) ++ m.dvs.map(_.split("\\|").head)

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
      s""""schema":"${m.schema}",""" +
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
    // escape-free ASCII (boundStat refuses anything else), so a
    // dependency-free extraction is exact
    val version = """"version":(\d+)""".r.findFirstMatchIn(s).get.group(1).toLong
    val op = """"op":"([^"]*)"""".r.findFirstMatchIn(s).get.group(1)
    val batch = """"batch":(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
    def list(key: String): Option[Seq[String]] =
      s"\"$key\":\\[([^\\]]*)\\]".r.findFirstMatchIn(s).map(_.group(1).split(",").toSeq
        .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty))
    val segments = list("segments").get
    val cdc = list("cdc").getOrElse(Nil)
    val dvs = list("dvs").getOrElse(Nil)
    val schema = """"schema":"([^"]*)"""".r.findFirstMatchIn(s).map(_.group(1))
      .getOrElse(throw new IllegalStateException(
        s"TxTable: manifest v$version records no schema — every commit states " +
          "one, so the table metadata is damaged"))
    val statsRef = """"statsRef":"([^"]*)"""".r.findFirstMatchIn(s).map(_.group(1))
    val stats = """"stats":\{(.*)\}\}$""".r.findFirstMatchIn(s).map(_.group(1)) match {
      case None => Map.empty[String, Map[String, ColStat]]
      case Some(body) => parseStatsBody(body)
    }
    Manifest(op, segments, schema, stats, cdc, dvs, version, batch, statsRef)
  }

  private def parseStatsBody(body: String): Map[String, Map[String, ColStat]] =
    """"(data/[^"]+)":\{([^}]*)\}""".r.findAllMatchIn(body).map { m0 =>
      val cols = """"([^"]+)":\["([^"]*)","([^"]*)"(?:,"([nsb])")?\]""".r
        .findAllMatchIn(m0.group(2))
        .map(c => c.group(1) ->
          ColStat(c.group(2), c.group(3), Option(c.group(4)).getOrElse("n"))).toMap
      m0.group(1) -> cols
    }.toMap

  /** The manifest form of `s`, relaxed to all-nullable ([[relaxed]]). */
  private def encodeSchema(s: org.apache.spark.sql.types.StructType): String =
    java.util.Base64.getEncoder.encodeToString(
      relaxed(s).json.getBytes(java.nio.charset.StandardCharsets.UTF_8))

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

  /** The head snapshot's recorded logical schema (None for a table with no
    * commits). */
  def tableSchema(spark: SparkSession,
                  root: String): Option[org.apache.spark.sql.types.StructType] =
    latestVersion(spark, root)
      .map(v => decodeSchema(readManifest(spark, root, v, withStats = false).schema))

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
    hinted.orElse(logVersions(f, root).lastOption)
  }

  /** The head version; `op` names the caller when the table has no commits. */
  private def headVersion(spark: SparkSession, root: String, op: String): Long =
    latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"TxTable.$op: no commits under $root"))

  /** Every manifest in the log as (version, publish mtime), ascending by
    * version (one listing). */
  private def logManifests(f: FileSystem, root: String): Seq[(Long, Long)] = {
    val dir = new Path(s"${root.stripSuffix("/")}/$LogDir")
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.map(st => (st.getPath.getName, st.getModificationTime))
      .collect { case (n, t) if n.startsWith("v") && n.endsWith(".json") =>
        (n.stripPrefix("v").stripSuffix(".json").toLong, t) }.sortBy(_._1)
  }

  private def logVersions(f: FileSystem, root: String): Seq[Long] =
    logManifests(f, root).map(_._1)

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
      else logVersions(f, root)
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
    val m = parseJson(slurp(fs(spark, root), manifestPath(root, v)))
    if (withStats) loadStats(spark, root, m) else m
  }

  /** `m` with its sidecar stats loaded (itself when they are inline). */
  private def loadStats(spark: SparkSession, root: String, m: Manifest): Manifest =
    m.statsRef match {
      case Some(ref) =>
        val p = new Path(s"${root.stripSuffix("/")}/$LogDir/$ref")
        val body =
          try slurp(fs(spark, root), p)
          catch { case _: java.io.FileNotFoundException =>
            throw new IllegalStateException(
              s"TxTable: stats sidecar $ref of manifest v${m.version} is missing under " +
                s"$root — the sidecar must live exactly as long as its " +
                "manifest (vacuum keeps referenced sidecars); the table " +
                "metadata is damaged")
          }
        m.copy(stats = """^\{"stats":(.*)\}$""".r.findFirstMatchIn(body.trim)
          .map(mm => parseStatsBody(mm.group(1)))
          .getOrElse(throw new IllegalStateException(
            s"TxTable: stats sidecar $ref under $root is malformed")))
      case None => m
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
        val retained = logVersions(fs(spark, root), root)
        throw new IllegalStateException(
          s"TxTable: version v$v of $root is not retained " +
            retained.headOption.map(lo =>
              s"(earliest retained v$lo, head v${retained.last})")
              .getOrElse("(no manifests at all)") +
            " — it was removed by vacuum; time travel/restore/CDF cannot " +
            "reach past the retention boundary")
    }

  /** One segment's deletion vector: dead row positions per part file name
    * (Spark names a part file after its write job's uuid, so a name
    * identifies one file table-wide). */
  private type Dv = Map[String, org.roaringbitmap.RoaringBitmap]

  /** The DV file of each segment of `m` that has one. */
  private def dvFiles(m: Manifest): Map[String, String] =
    m.dvs.map { e => val Array(dv, seg) = e.split("\\|"); seg -> dv }.toMap

  /** Read a DV file on the driver: no Spark job, a few KB per segment. */
  private def readDv(spark: SparkSession, root: String, dv: String): Dv = {
    val in = fs(spark, root).open(new Path(s"${root.stripSuffix("/")}/$dv"))
    try Seq.fill(in.readInt()) {
      val file = in.readUTF()
      val bm = new org.roaringbitmap.RoaringBitmap()
      bm.deserialize(in)
      file -> bm
    }.toMap finally in.close()
  }

  /** Write `dv` as a fresh DV file staged in `st`; returns its name. */
  private def writeDv(st: Staging, dv: Dv): String = {
    val name = st.dir("dv")
    val out = fs(st.spark, st.root).create(new Path(st.path(name)), false)
    try {
      out.writeInt(dv.size)
      dv.foreach { case (file, bm) => out.writeUTF(file); bm.runOptimize(); bm.serialize(out) }
    } finally out.close()
    name
  }

  /** (segment, part file, row position) coordinates as one [[Dv]]. */
  private def asDv(hits: Seq[(String, String, Long)]): Dv =
    hits.groupBy(_._2).map { case (file, rs) =>
      file -> org.roaringbitmap.RoaringBitmap.bitmapOf(rs.map(r => Math.toIntExact(r._3)): _*)
    }

  private def union(a: Dv, b: Dv): Dv =
    (a.toSeq ++ b.toSeq).groupMapReduce(_._1)(_._2)(org.roaringbitmap.RoaringBitmap.or(_, _))

  /** `m`'s DV entries with `hits` — the coordinates of the rows this commit
    * deletes — added: each hit segment gets ONE new DV file, the union of
    * its old positions and the new ones. */
  private def addPositions(st: Staging, m: Manifest,
                           hits: Seq[(String, String, Long)]): Seq[String] = {
    val old = dvFiles(m)
    (old ++ hits.groupBy(_._1).map { case (seg, rows) =>
      seg -> writeDv(st, union(old.get(seg).fold(Map.empty: Dv)(readDv(st.spark, st.root, _)), asDv(rows)))
    }).toSeq.sorted.map { case (seg, dv) => s"$dv|$seg" }
  }

  /** Write `df` as a fresh segment directory staged in `st`; returns the
    * segment name.  `kind = "cdc"` writes a CHANGE segment (table columns +
    * `_change_type`) for change data capture: it lives outside every
    * snapshot's segment list, is sized by the CHANGE set (a merge touching
    * 0.1% of keys records ~0.1%-of-table rows), and is vacuumed with its
    * manifest. */
  private def writeSegment(st: Staging, df: DataFrame, kind: String = "data"): String = {
    val seg = st.dir(kind)
    writeSized(df, st.path(seg))
    seg
  }

  /** Run a segment write with AQE coalescing targeting the ADVISORY byte
    * size instead of machine parallelism (`parallelismFirst=false`, in a
    * [[Scoped.run]] child).  The session default fans every post-shuffle
    * stage out to the core count — so a change-sized MERGE wrote its few-MB
    * segment through 32 tasks into 32 near-empty files, paying task
    * launches now and per-file opens on every later read of the segment
    * (measured: q_tx_ivm job time −34% with the fanout removed).  Writes
    * with no shuffle above them are unaffected. */
  private def writeSized(df: DataFrame, path: String): Unit = {
    // An OBSERVED frame (commitRewriteHit's discard-probe metric) must run
    // its action on the session its Observation listener registered with —
    // re-rooting would leave `Observation.get` waiting forever.  Those
    // writes happen under the IVM refresh's AQE-off regime, where the
    // coalescing conf is inert anyway: write them on their own session.
    // (commitMerge observes on the sized child itself.)
    val observed = df.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.CollectMetrics])
    if (observed) df.write.parquet(path)
    else Scoped.run(df.sparkSession, SizedWrite) { child => Scoped.onto(df, child).write.parquet(path) }
  }

  /** The [[writeSized]] regime: coalesce to the advisory size. */
  private val SizedWrite = Map("spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false")

  /** What one commit needs to know of its just-written segments `segs`:
    * each one's row count, and the manifest stats over `cols` (plain column
    * names and `<col>#bloom` keys) of each non-empty one.  Every read takes
    * `schema`, the written frame's, so none infers one.  The cost is per
    * COMMIT and per new segment, never per table:
    *
    *  1. ONE footer pass per segment, on the driver with no job: its row
    *     count, and the exact [min, max] of each top-level INT32/INT64
    *     column with no annotation or a signed ≥32-bit one, when every
    *     non-empty row group's statistics cover all its rows.  Strings
    *     (writers may truncate binary bounds), floats and doubles (NaN
    *     handling diverges from SQL min/max) and logical types (a decimal,
    *     date or timestamp renders differently from its physical int) never
    *     take it.  An IO failure propagates: the row count decides whether
    *     a segment publishes.
    *  2. ONE aggregate, grouped by segment, for the columns some non-empty
    *     segment's footers left unanswered ([[boundStat]] renders them).
    *  3. One Bloom per non-empty segment and Bloom key ([[segBloom]]).
    *
    * Returns the row counts, and the non-empty stat maps. */
  private def describe(spark: SparkSession, root: String, segs: Seq[String],
                       schema: StructType, cols: Seq[String])
      : (Map[String, Long], Map[String, Map[String, ColStat]]) = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
    import org.apache.spark.sql.functions.{col, max, min}
    import scala.jdk.CollectionConverters._
    val (bloomKeys, plain) = cols.distinct.partition(_.endsWith("#bloom"))
    val (f, conf) = (fs(spark, root), spark.sparkContext.hadoopConfiguration)
    type Bounds = Option[(Long, Long)] // None: no non-null value (yet)
    def widen(a: Bounds, b: Bounds): Bounds =
      (a ++ b).reduceOption((x, y) => (x._1 min y._1, x._2 max y._2))
    // 1. per segment: its rows, and the bounds of each plain column every
    // footer answers exactly (an absent column: the aggregate answers it)
    val footers: Map[String, (Long, Map[String, Bounds])] = segs.map { seg =>
      var rows = 0L
      var exact: Map[String, Bounds] = plain.map(_ -> (None: Bounds)).toMap
      f.listStatus(new Path(s"${root.stripSuffix("/")}/$seg"))
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-")).foreach { st =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, conf))
          try {
            rows += r.getRecordCount
            val fileSchema = r.getFooter.getFileMetaData.getSchema
            val blocks = r.getFooter.getBlocks.asScala.filter(_.getRowCount > 0)
            exact = exact.flatMap { case (c, acc) =>
              val plainInt = Option.when(fileSchema.containsField(c))(
                fileSchema.getType(fileSchema.getFieldIndex(c))).filter(_.isPrimitive)
                .map(_.asPrimitiveType).exists { pt =>
                  (pt.getPrimitiveTypeName == INT32 || pt.getPrimitiveTypeName == INT64) &&
                    (pt.getLogicalTypeAnnotation match {
                      case null => true
                      case a: IntLogicalTypeAnnotation => a.isSigned && a.getBitWidth >= 32
                      case _ => false
                    })
                }
              // None once a row group cannot answer: no stats, or stats
              // that miss some of its rows
              blocks.foldLeft(Option.when(plainInt)(acc)) { (got, blk) =>
                got.flatMap(a => blk.getColumns.asScala.find(_.getPath.toDotString == c)
                  .map(_.getStatistics).filter(s0 => s0 != null && !s0.isEmpty).flatMap { s0 =>
                    if (s0.hasNonNullValue) (s0.genericGetMin, s0.genericGetMax) match {
                      case (lo: Number, hi: Number) => Some(widen(a, Some((lo.longValue, hi.longValue))))
                      case _ => None
                    } else Option.when(s0.getNumNulls == blk.getRowCount)(a)
                  })
              }.map(c -> _)
            }
          } finally r.close()
        }
      seg -> (rows, exact)
    }.toMap
    val nonEmpty = segs.filter(footers(_)._1 > 0)
    // 2. one grouped aggregate over the segments whose footers fell short
    val rest = plain.filter(c => nonEmpty.exists(s0 => !footers(s0)._2.contains(c)))
    val short = nonEmpty.filter(s0 => rest.exists(c => !footers(s0)._2.contains(c)))
    val aggregated: Map[String, Map[String, ColStat]] =
      if (short.isEmpty) Map.empty
      else {
        val aggs = rest.flatMap(c => Seq(min(col(c)).as(s"__lo_$c"), max(col(c)).as(s"__hi_$c")))
        spark.read.schema(schema).parquet(short.map(s0 => s"${root.stripSuffix("/")}/$s0"): _*)
          .groupBy(segTag(col("_metadata.file_path"))).agg(aggs.head, aggs.tail: _*)
          .collect().map { r =>
            r.getString(0) -> rest.flatMap(c =>
              boundStat(r.getAs[Any](s"__lo_$c"), r.getAs[Any](s"__hi_$c")).map(c -> _)).toMap
          }.toMap
      }
    // 3. Blooms
    val stats = nonEmpty.map { s0 =>
      s0 -> (footers(s0)._2.collect { case (c, Some((lo, hi))) =>
        c -> ColStat(lo.toString, hi.toString, "n") } ++
        aggregated.getOrElse(s0, Map.empty) ++
        bloomKeys.map(k => k -> segBloom(spark, root, s0, schema, k.stripSuffix("#bloom"))))
    }.filter(_._2.nonEmpty).toMap
    (footers.map { case (s0, (rows, _)) => s0 -> rows }, stats)
  }

  /** An aggregated `(min, max)` pair as a manifest stat: exact decimal
    * strings (tag "n") for finite numbers, the raw strings (tag "s") when
    * both are printable ASCII minus '"' (x22) and '\' (x5C) — JSON-safe
    * without escapes.  None records no skipping info (conservative keep):
    * an all-NULL column, a NaN or infinite bound, an unrepresentable string,
    * or a bound of any other type (date, timestamp, boolean). */
  private def boundStat(lo: Any, hi: Any): Option[ColStat] = {
    val safe = "^[\\x20-\\x21\\x23-\\x5B\\x5D-\\x7E]*$"
    def render(x: Any): Option[String] = x match {
      case d: Double if d.isNaN || d.isInfinite => None
      case f: Float if f.isNaN || f.isInfinite => None
      case n: Number => Some(new java.math.BigDecimal(n.toString).toPlainString)
      case t: String if t.matches(safe) => Some(t)
      case _ => None
    }
    for (l <- render(lo); h <- render(hi))
      yield ColStat(l, h, if (lo.isInstanceOf[String]) "s" else "n")
  }

  /** The synthetic stats key carrying a column's per-segment Bloom filter. */
  private def bloomKey(c: String): String = c + "#bloom"

  /** A per-segment Bloom filter over `colName`, serialized base64 for the
    * manifest (base64 is JSON-safe without an escaper).  ~1.2 KB at the
    * default sizing — manifests stay KBs — and one column-pruned pass over
    * the just-written segment (read with its `schema`), per COMMIT, never
    * per read.  This is the skipping story for HIGH-CARDINALITY point
    * lookups (uuid/hash keys): random keys make every segment's [min, max]
    * span the whole value space, but a Bloom miss still proves absence. */
  private def segBloom(spark: SparkSession, root: String, seg: String,
                       schema: StructType, colName: String): ColStat = {
    val bf = spark.read.schema(schema).parquet(s"${root.stripSuffix("/")}/$seg")
      .stat.bloomFilter(colName, 100000L, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    ColStat(java.util.Base64.getEncoder.encodeToString(bos.toByteArray), "", "b")
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
    try {
      val st = f.getFileStatus(claim)
      if (!f.exists(manifestPath(root, v)) && stale(spark, st))
        PublishArbiter.resolve(spark).releaseClaim(f, claim)
    } catch { case _: java.io.FileNotFoundException => () }
  }

  /** Older than `spark.graft.tx.staleClaimMs` (default 10 min): past it, an
    * unpublished claim, staged directory or stats sidecar belongs to a dead
    * committer. */
  private def stale(spark: SparkSession, st: FileStatus): Boolean =
    System.currentTimeMillis() - st.getModificationTime >
      spark.conf.getOption("spark.graft.tx.staleClaimMs").map(_.toLong).getOrElse(600000L)

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

  /** Write `body` to a temp file beside `target`, then [[publishExclusive]]
    * it there; false, with the temp file removed, when `target` exists. */
  private def publishNew(spark: SparkSession, f: FileSystem, target: Path,
                         body: String): Boolean = {
    val tmp = new Path(target.getParent, s".tmp-${java.util.UUID.randomUUID()}")
    val os = f.create(tmp, false)
    try os.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    val ok = publishExclusive(spark, f, tmp, target)
    if (!ok) f.delete(tmp, false)
    ok
  }

  /** A commit lost the race for its version slot, or found the head moved
    * past the one its manifest was derived from; the caller may re-read and
    * retry. */
  private final class Conflict(msg: String) extends IllegalArgumentException(msg)

  /** One commit call's staging scope (see the object doc), opened by
    * [[staged]]: the directories it wrote and the manifest its [[commit]]
    * published. */
  private final class Staging(val spark: SparkSession, val root: String) {
    private val dirs = scala.collection.mutable.ArrayBuffer.empty[String]
    var published: Option[Manifest] = None

    /** A fresh `<kind>/<uuid>` directory name, registered for the sweep. */
    def dir(kind: String): String = {
      val d = s"$kind/${java.util.UUID.randomUUID()}"
      dirs += d
      d
    }

    def path(d: String): String = s"${root.stripSuffix("/")}/$d"

    /** Delete every registered directory the published manifest does not
      * reference — all of them when nothing was published. */
    def sweep(): Unit = {
      val f = fs(spark, root)
      val kept = published.toSeq.flatMap(dirsOf).toSet
      dirs.filterNot(kept).foreach { d =>
        // best-effort, like the head hint: a failed delete must neither make
        // a published commit look failed nor mask the call's own error; the
        // directory is unreferenced, so vacuum reaps it once stale
        try f.delete(new Path(path(d)), true)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }

  /** Run one commit call in its own [[Staging]] scope, swept on exit. */
  private def staged[T](spark: SparkSession, root: String)(body: Staging => T): T = {
    val st = new Staging(spark, root)
    try body(st) finally st.sweep()
  }

  /** THE commit loop (see the object doc): publish `derive(head)` (`None`
    * on an empty table) into the claimed slot through write-temp +
    * [[publishExclusive]], so a late (reaped) publisher can never
    * overwrite the winner.  Its `batch` is the max of this commit's id and
    * the head's, so every manifest records the replay horizon.  Returns
    * [[ReplayNoOp]] (-1) when the batch was already committed.  `from =
    * Some(v)` declares the manifest DERIVED from head `v` (`Some(0)`: an
    * empty table): a moved head or a lost claim raises [[Conflict]]
    * rather than publish a manifest that silently drops a concurrent
    * commit.  Otherwise `derive` re-runs per attempt and a lost claim
    * retries up to 10 times. */
  private def commit(st: Staging, from: Option[Long] = None, batch: Option[Long] = None)
                    (derive: Option[Manifest] => Manifest): Long = {
    val (spark, root) = (st.spark, st.root)
    val f = fs(spark, root)
    var attempt = 0
    while (true) {
      val headV = latestVersion(spark, root)
      // a THIN head: a derivation that carries the head's stats forward
      // loads a sidecar itself ([[loadStats]])
      val head = headV.map(readManifest(spark, root, _, withStats = false))
      val headBatch = head.flatMap(_.batch)
      if (batch.exists(b => headBatch.exists(_ >= b))) return ReplayNoOp
      val next = headV.getOrElse(0L) + 1
      if (from.exists(_ + 1 != next))
        throw new Conflict(s"TxTable.commit: head moved under $root — " +
          s"derived from v${from.get}, head is v${next - 1}")
      val m = derive(head)
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
        val kept = m.stats.filter(kv => m.segments.contains(kv._1))
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
        val out = m.copy(version = next, stats = inline, statsRef = ref,
          batch = (batch.toSeq ++ headBatch).reduceOption(_ max _))
        // set BEFORE the publish: one that throws may have landed, so only a
        // definite loss lets the sweep take `out`'s directories
        st.published = Some(out)
        if (!publishNew(spark, f, target, writeJson(out))) {
          st.published = None
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
      // (reap even when giving up, so the caller's NEXT call succeeds)
      reapStaleClaim(spark, f, root, next)
      attempt += 1
      if (from.isDefined || attempt > 10)
        throw new Conflict(
          s"TxTable.commit: lost the race for v$next under $root ($attempt attempts)")
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
                      bloomCols: Seq[String] = Nil): Long = staged(spark, root) { st =>
    enforceChecks(spark, root, df, "commitOverwrite")
    val seg = writeSegment(st, df)
    val (_, stats) = describe(spark, root, Seq(seg), df.schema, statsCols ++ bloomCols.map(bloomKey))
    commit(st) { _ => Manifest("overwrite", Seq(seg), encodeSchema(df.schema), stats) }
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
                         audit: Option[DataFrame => Unit] = None): Long =
    staged(spark, root) { st =>
      enforceChecks(spark, root, df, "commitAppend")
      val seg = writeSegment(st, df)
      audit.foreach(_(spark.read.schema(df.schema).parquet(st.path(seg))))
      val (_, segSt) = describe(spark, root, Seq(seg), df.schema, statsCols ++ bloomCols.map(bloomKey))
      // the SEGMENT is ours alone; only the base list can go stale, so the
      // manifest is re-derived from each attempt's head.  SCHEMA EVOLUTION:
      // additions/omissions merge (reads null-fill); a type change throws
      // HERE — before anything is published
      commit(st, batch = batch) { head =>
        val base = head.map(loadStats(spark, root, _))
          .getOrElse(Manifest("append", Nil, encodeSchema(df.schema)))
        Manifest("append", base.segments :+ seg,
          encodeSchema(mergeEvolve(decodeSchema(base.schema), df.schema, root)),
          base.stats ++ segSt,
          dvs = base.dvs)
      }
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

  /** MERGE-ON-READ ACID upsert (the Delta / Iceberg v2 MERGE shape): no
    * segment it hits is rewritten.  [[Upsert.upsert]] of the live rows the
    * batch keys ([[probe]]) and the batch (EXCLUDED-wins updateCols,
    * existing-wins preserveCols) lands as ONE new segment holding exactly
    * the updated and inserted rows, and the probed rows' positions join
    * their segments' deletion vectors ([[addPositions]]): O(batch) rows
    * written, never O(segments hit).
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
    * in a `cdc/` segment for [[readChanges]]: the probed rows as
    * update_preimage, the new segment's rows as update_postimage (key was
    * probed) or insert — sized by the batch, not the table. */
  def commitMerge(spark: SparkSession, root: String, incoming: DataFrame,
                  keys: Seq[String], updateCols: Seq[String],
                  preserveCols: Seq[String], batch: Option[Long] = None,
                  statsCols: Seq[String] = Nil, cdf: Boolean = false): Long = {
    import org.apache.spark.sql.functions._
    val cols = keys ++ updateCols ++ preserveCols
    latestVersion(spark, root) match {
      case None => staged(spark, root) { st => // bootstrap: the incoming batch IS the table
        val rows = incoming.select(cols.map(col): _*)
        enforceChecks(spark, root, rows, "commitMerge")
        val seg = writeSegment(st, rows)
        // an insert-only commit's change set IS its data segment — record
        // a reference instead of writing the same rows twice (the trick
        // the append path plays structurally); readChanges synthesizes
        // `_change_type = 'insert'` for `insert:`-prefixed entries
        val cdc = if (!cdf) Nil else Seq("insert:" + seg)
        val (_, stats) = describe(spark, root, Seq(seg), rows.schema, statsCols)
        commit(st, Some(0L), batch) { _ =>
          Manifest("merge", Seq(seg), encodeSchema(rows.schema), stats, cdc)
        }
      }
      case Some(headV) => staged(spark, root) { st =>
        val head = readManifest(spark, root, headV)
        val probed = probe(spark, root, head, incoming.select(keys.map(col): _*), keys)
        // batch-sized; the change rows re-read it: cache it then
        if (cdf) probed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // the upsert's write runs on a sized child (see writeSized), and the
          // probed positions ride it as a metric observed on that child: no
          // separate action collects them
          val seg = st.dir("data")
          val (schema, hits) = Scoped.run(spark, SizedWrite) { child =>
            val obs = org.apache.spark.sql.Observation(s"merge_positions_${java.util.UUID.randomUUID()}")
            val out = Upsert.upsert(Scoped.onto(probed, child)
              .observe(obs, collect_list(struct(ProbeCols.map(col): _*)).as("hits"))
              .drop(ProbeCols: _*), Scoped.onto(incoming, child), keys, updateCols, preserveCols)
            out.write.parquet(st.path(seg))
            // a probe AQE proved empty is pruned with its metric: re-check then
            (out.schema, obs.get.get("hits").fold(coords(probed))(
              _.asInstanceOf[Seq[org.apache.spark.sql.Row]].map(coord)))
          }
          val old = probed.drop(ProbeCols: _*)
          // read back with the written frame's schema: no inference job
          val back = spark.read.schema(schema).parquet(st.path(seg))
          // CHECK constraints hold on the rows this commit PUBLISHES — a
          // check spanning an updated and a preserved column can be violated
          // by the combination even when the batch alone looks fine
          if (checks(spark, root).nonEmpty) enforceChecks(spark, root, back, "commitMerge")
          val cdc = if (!cdf) Nil else {
            // a new row is a postimage when its key was probed, else an
            // insert: ONE existence join (one key broadcast) labels each new
            // row once, exact even with duplicate keys.  The outer reference
            // needs its alias: an unaliased one resolves inside the subquery
            val probedKey = old.as("__o").where(keys.map(k =>
              col(s"__o.$k") <=> col(s"__b.$k").outer()).reduce(_ && _)).exists()
            Seq(writeSegment(st, old.withColumn("_change_type", lit("update_preimage"))
              .unionByName(back.as("__b").withColumn("_change_type",
                when(probedKey, "update_postimage").otherwise("insert"))), "cdc"))
          }
          // an empty batch adds no segment (the head always has one)
          val (rows, stats) = carryStats(spark, root, head, Seq(seg), schema, statsCols)
          val newSegs = Seq(seg).filter(rows(_) > 0)
          val dvs = addPositions(st, head, hits)
          commit(st, Some(headV), batch) { _ =>
            Manifest("merge", head.segments ++ newSegs,
              encodeSchema(mergeEvolve(decodeSchema(head.schema), schema, root)),
              stats, cdc, dvs)
          }
        } finally probed.unpersist(false)
      }
    }
  }

  /** EXACTLY-ONCE streaming MERGE — the Delta-style streaming upsert:
    * `stream.writeStream.foreachBatch(TxTable.streamingMerge(root, keys,
    * updateCols, preserveCols) _)`.  Each micro-batch lands as one
    * merge-on-read [[commitMerge]] whose manifest records the batch id;
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

  /** Deletion vectors for a rewritten manifest: the DVs of the segments
    * that SURVIVED the rewrite (a rewritten segment's rows passed through
    * its DV during the read, so its replacement is DV-clean). */
  private def carryDvs(m: Manifest, survivors: Set[String]): Seq[String] =
    m.dvs.filter(e => survivors(e.split("\\|")(1)))

  /** Stats for a rewritten manifest: carried segments keep theirs; the
    * replacement segments `newSegs`, written with `schema`, are described
    * afresh ([[describe]]) over every column and Bloom the head manifest
    * tracked plus `extraCols`, so skipping never silently degrades across
    * merge/delete/compact commits.  Returns the new segments' row counts
    * with the stats. */
  private def carryStats(spark: SparkSession, root: String, head: Manifest,
                         newSegs: Seq[String], schema: StructType, extraCols: Seq[String] = Nil)
      : (Map[String, Long], Map[String, Map[String, ColStat]]) = {
    val (rows, fresh) = describe(spark, root, newSegs, schema,
      head.stats.values.flatMap(_.keys).toSeq ++ extraCols)
    (rows, head.stats ++ fresh)
  }

  /** Segment-pruned ACID DELETE — the transactional form of
    * [[Upsert.purgeKeys]] (right-to-be-forgotten without the partition
    * rename dance): segments containing tombstoned keys are rewritten
    * WITHOUT those rows; every other segment carries over by reference.
    * NULL-safe key matching, so NULL tombstone keys delete NULL-keyed rows.
    * Note: deleted rows leave older versions only at [[vacuum]] time — run
    * vacuum after the retention window when the deletion must be physical.
    * A miss returns the head unchanged; deleting every row publishes a
    * readable empty head (see [[rewriteHit]]).  `cdf = true` records the
    * deleted rows (change type 'delete') in a `cdc/` segment for
    * [[readChanges]]. */
  def commitDelete(spark: SparkSession, root: String, tombstones: DataFrame,
                   keys: Seq[String], cdf: Boolean = false): Long = {
    import org.apache.spark.sql.functions.col
    rewriteHit(spark, root, "delete", headVersion(spark, root, "commitDelete"),
      tombstones.select(keys.map(col): _*), keys, deleteProbed = true, cdf = cdf)(identity)
  }

  /** ONE-COMMIT keyed segment rewrite — the primitive [[Ivm]]'s apply
    * rides: a [[rewriteHit]] whose manifest publishes with `batch` as the
    * replay horizon.  This collapses the delete-then-merge two-commit dance
    * (and its crash window) into a single atomic commit: `rewrite` decides
    * per-row keep/replace/drop, so a "dead" key simply does not reappear
    * in the replacement, and a crash anywhere leaves the head untouched
    * with the horizon unlatched — the whole window replays.  Contract for
    * `rewrite`: it receives EVERY row of the hit segments (including rows
    * whose keys are not in `keySet` — it must pass those through), rows it
    * omits are deleted, and rows for keys absent from every segment may be
    * introduced.  Returns the new head, or [[ReplayNoOp]] when `batch` was
    * already committed. */
  def commitRewriteHit(spark: SparkSession, root: String, keySet: DataFrame,
                       keys: Seq[String], batch: Option[Long] = None,
                       discardStaged: Option[() => Boolean] = None)
                      (rewrite: DataFrame => DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    if (batch.exists(b => lastCommittedBatch(spark, root).exists(_ >= b)))
      return ReplayNoOp // fast path; commit re-verifies per attempt
    val headV = headVersion(spark, root, "commitRewriteHit")
    rewriteHit(spark, root, "rewrite", headV, keySet.select(keys.map(col): _*), keys,
      batch = batch, discardStaged = discardStaged)(rewrite)
  }

  /** The ONE keyed copy-on-write commit behind [[commitDelete]] and
    * [[commitRewriteHit]], against head version `headV`.  The [[probe]] of
    * `keySet` (on `keys`) names the head segments holding a live row it
    * keys; they are re-read through their deletion vectors ([[readLive]],
    * `touched`, hit-segment-sized), `rewrite(touched)` lands as ONE staged
    * segment, and every other segment carries over by reference with its
    * stats and DV.
    *
    *  - `deleteProbed`: `touched` also drops the probed rows themselves (the
    *    DELETE), so a miss changes nothing — the probe runs even on a
    *    single-segment head, and a miss returns the head unchanged without
    *    a commit.  `cdf` then records the probed rows as the commit's
    *    'delete' change rows in a `cdc/` segment for [[readChanges]].
    *  - `discardStaged`: post-write, pre-publish abort hook.  The caller
    *    decides from metrics the write itself materialized (a
    *    Dataset.observe count on one arm of the rewrite) that this commit
    *    must NOT publish — e.g. Ivm discards a rewrite whose delta arm
    *    contributed zero rows, so its emptiness probe rides the write
    *    instead of costing a dedicated action.  The staged segment is
    *    removed; the head (and any replay horizon) is untouched, exactly as
    *    if the rewrite had never been attempted.
    *
    * EMPTINESS is decided from the staged segment's parquet footers: Spark
    * leaves one footer-only part file for an empty write, so only the
    * recorded row count can tell.  A 0-row staged segment is dropped when
    * other segments carry over, and otherwise published as the table's
    * readable empty head (a DELETE of every row leaves an empty table). */
  private def rewriteHit(spark: SparkSession, root: String, op: String, headV: Long,
                         keySet: DataFrame, keys: Seq[String],
                         deleteProbed: Boolean = false, cdf: Boolean = false,
                         batch: Option[Long] = None,
                         discardStaged: Option[() => Boolean] = None)
                        (rewrite: DataFrame => DataFrame): Long = {
    val head = readManifest(spark, root, headV)
    val segs = head.segments
    staged(spark, root) { st =>
      // the probe exists to PRUNE segments; a single-segment head has
      // nothing to prune (hit ⇒ rewrite it; no-hit ⇒ the rewrite only adds
      // rows, and rewriting one segment alongside costs the same single
      // write) — skip the probe action
      val skipProbe = segs.size <= 1 && !deleteProbed
      val (hits, cdc) = if (skipProbe) (Nil, Nil) else probeDeletes(st, head, keySet, keys, cdf)
      val hitSegs = if (skipProbe) segs.toSet else hits.map(_._1).toSet
      if (hitSegs.isEmpty && deleteProbed) headV // nothing to remove
      else {
        val out = rewrite(readLive(spark, root, head, segs.filter(hitSegs),
          if (deleteProbed) hits else Nil))
        val seg = writeSegment(st, out)
        if (discardStaged.exists(_())) headV
        else {
          // CHECK constraints hold on the rows this commit PUBLISHES — the
          // rewrite's output, not the caller's raw input.  Enforced on the
          // staged segment read back from disk (delta-sized columnar re-read,
          // also catching codec drift) with the written frame's schema (no
          // inference job); a violation publishes nothing.  Zero cost for
          // unconstrained tables (one log listing).
          if (checks(spark, root).nonEmpty)
            enforceChecks(spark, root, spark.read.schema(out.schema).parquet(st.path(seg)), op)
          val carried = segs.filterNot(hitSegs)
          val (rows, stats) = carryStats(spark, root, head, Seq(seg), out.schema)
          val newSegs = Seq(seg).filter(rows(_) > 0 || carried.isEmpty)
          commit(st, Some(headV), batch) { _ =>
            Manifest(op, carried ++ newSegs, head.schema, stats, cdc, carryDvs(head, carried.toSet))
          }
        }
      }
    }
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
    val cur = headVersion(spark, root, "restore")
    require(v >= 1 && v <= cur, s"TxTable.restore: version $v outside [1, $cur]")
    val m = retainedManifest(spark, root, v)
    staged(spark, root) { st =>
      commit(st, Some(cur)) { _ => Manifest("restore", m.segments, m.schema, m.stats, dvs = m.dvs) }
    }
  }

  /** Compact the CURRENT snapshot into ≈ceil(bytes/targetBytes) files as a
    * normal commit — readers of any already-resolved version are never
    * disturbed (their segments stay on disk until [[vacuum]]). */
  def compactTx(spark: SparkSession, root: String,
                targetBytes: Long = 128L * 1024 * 1024): Long = {
    // ONE head resolution feeds both the snapshot and the version the
    // commit is derived from.  (Resolving them separately opens a
    // lost-commit race: an append landing between the two listings would
    // pass the moved-head check against the newer head while
    // the compacted snapshot was built from the OLDER head — the publish
    // then silently drops the racing append.  Caught by the 8-writer
    // stress spec.)
    val cur = headVersion(spark, root, "compactTx")
    val snapshot = readVersion(spark, root, cur)
    val f = fs(spark, root)
    val head = readManifest(spark, root, cur)
    val bytes = head.segments.map(s => f.getContentSummary(
      new Path(s"${root.stripSuffix("/")}/$s")).getLength).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    staged(spark, root) { st =>
      val seg = writeSegment(st, snapshot.repartition(n))
      // commit drops stats of unlisted segments, so only the compacted
      // segment's fresh min/max survive into the new manifest
      val (_, stats) = carryStats(spark, root, head, Seq(seg), snapshot.schema)
      commit(st, Some(cur)) { _ => Manifest("compact", Seq(seg), head.schema, stats) }
    }
  }

  /** BOUNDED small-segment compaction (Delta's OPTIMIZE small-file story):
    * only segments smaller than `minBytes` are read and merged into ONE
    * replacement segment; every larger segment carries over by reference —
    * the rewrite cost is O(small-segment bytes), never the table, which is
    * what makes compaction schedulable as routine maintenance on a table
    * whose big segments are already right-sized (a full [[compactTx]] at
    * 100 TB is an outage, this is a background tick).  Small segments are
    * read THROUGH their deletion vectors (their slice of the DV
    * materializes); carried segments keep their DVs.  Content is
    * provably unchanged — published as a normal layout-only commit, so
    * time travel and the CDF skip it like any compact.  No-op (returns the
    * current head) when fewer than two small segments exist. */
  def compactSmall(spark: SparkSession, root: String, minBytes: Long): Long = {
    val cur = headVersion(spark, root, "compactSmall")
    val head = readManifest(spark, root, cur)
    val f = fs(spark, root)
    val sized = head.segments.map(s =>
      s -> f.getContentSummary(new Path(s"${root.stripSuffix("/")}/$s")).getLength)
    val small = sized.collect { case (s, b) if b < minBytes => s }
    if (small.size < 2) return cur // nothing worth merging
    staged(spark, root) { st =>
      val live = readLive(spark, root, head, small)
      val seg = writeSegment(st, live)
      val carried = head.segments.filterNot(small.contains)
      val (_, stats) = carryStats(spark, root, head, Seq(seg), live.schema)
      commit(st, Some(cur)) { _ =>
        Manifest("compact", carried :+ seg, head.schema, stats,
          dvs = carryDvs(head, carried.toSet))
      }
    }
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
    * already tracked.  It is the bootstrap rung of [[compactDeltaN]]
    * (`sinceVersion = 0`: every segment is dirty). */
  def compactZOrderN(spark: SparkSession, root: String, cols: Seq[String],
                     numSegments: Int = 8, bits: Int = 16): Long =
    compactDeltaN(spark, root, cols, sinceVersion = 0L, numSegments, bits)

  /** INCREMENTAL OPTIMIZE — fold ONLY what arrived since `sinceVersion`
    * into the clustered layout.  Segments present in the head manifest but
    * not in `sinceVersion`'s are re-clustered over `cols` (reading them
    * THROUGH the head's deletion vectors, so the rewritten rows
    * materialize their DV hits); every other segment carries over
    * untouched with its manifest stats and its DV, which still guards it —
    * materializing every DV would mean rewriting the whole table, exactly
    * the cost this primitive exists to avoid.  Work is O(delta), not O(table):
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
    val cur = headVersion(spark, root, "compactDeltaN")
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
    // only the dirty segments are read — through the head's DVs, so their
    // tombstoned rows die here instead of being re-clustered
    val live0 = readLive(spark, root, head, dirty)
    // Z-BOUNDS FROM MANIFEST STATS (r17, guide §5): when every dirty
    // segment already carries exact "n"-tagged min/max for every
    // clustering column (recorded at its own commit) and no DV on a dirty
    // segment can have shrunk the live extremes, the bounds the z scaling
    // needs are a driver-side fold over stats the head manifest already
    // holds — the bounds aggregate job re-derived the same two scalars per
    // column from the same rows.  Any gap (missing stat, string-tagged stat,
    // a DV on a dirty segment) falls back to the aggregate: pruning-identical,
    // byte-identical z values either way (same doubles into scaleToBits).
    val statBounds: Option[Seq[(String, String)]] =
      if (dirty.exists(dvFiles(head).contains)) None
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
    // sampling, write scan) — persist the DV-filtered dirty rows so the
    // dirty-segment read + DV filter run once, not per consumer.
    // `live` is DELTA-sized on an incremental pass (only segments committed
    // after `sinceVersion`) and table-sized on the `sinceVersion = 0` rung,
    // which rewrites every row anyway; MEMORY_AND_DISK spills rather than
    // OOMs either way.
    val live = live0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    staged(spark, root) { st =>
      val newSegs = try writeClusteredSegments(st, live, cols,
        numSegments, bits, statBounds)
      finally live.unpersist(blocking = false)
      // every dirty row DV-dead and nothing carried: the clustered write made
      // no slice, and a segment-less manifest would be unreadable
      require(kept.nonEmpty || newSegs.nonEmpty, s"TxTable.compactDeltaN: empty " +
        s"table under $root — compact an explicit empty state with commitOverwrite instead")
      // the z-order dimensions join the tracked set: OPTIMIZE never degrades
      // skipping on other columns' range stats or point-lookup Blooms (the
      // commit drops the rewritten segments' stats with them)
      val (_, stats) = carryStats(spark, root, head, newSegs, live.schema, cols)
      commit(st, Some(cur)) { _ =>
        Manifest("compact", kept ++ newSegs, head.schema, stats,
          dvs = carryDvs(head, kept.toSet))
      }
    }
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
                               statsCols: Seq[String] = Nil): Long =
    staged(spark, root) { st =>
      enforceChecks(spark, root, df, "commitOverwriteClustered")
      val segs = writeClusteredSegments(st, df, cols, numSegments, bits)
      require(segs.nonEmpty, s"TxTable.commitOverwriteClustered: empty input for " +
        s"$root — commit an explicit empty state with commitOverwrite instead")
      val (_, stats) = describe(spark, root, segs, df.schema, cols ++ statsCols)
      commit(st) { _ => Manifest("overwrite", segs, encodeSchema(df.schema), stats) }
    }

  /** Shared clustered write pass: Morton-key range shuffle, one
    * `partitionBy` write, each slice dir adopted as a segment by metadata
    * rename (no second data pass; empty slices never materialize). */
  private def writeClusteredSegments(st: Staging, df: DataFrame, cols: Seq[String],
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
    val f = fs(st.spark, st.root)
    // staged under data/ like a segment: no manifest references it, so the
    // sweep deletes it on every exit and vacuum reaps it once stale
    val staging = st.path(st.dir("data"))
    staged.write.partitionBy("__slice").parquet(staging)
    val segs = f.listStatus(new Path(staging)).toSeq
      .filter(s0 => s0.isDirectory && s0.getPath.getName.startsWith("__slice="))
      .sortBy(_.getPath.getName.stripPrefix("__slice=").toInt)
      .map { s0 =>
        val seg = st.dir("data")
        val dest = new Path(st.path(seg))
        f.mkdirs(dest.getParent)
        require(f.rename(s0.getPath, dest),
          s"TxTable: could not adopt slice ${s0.getPath}")
        seg
      }
    segs
  }

  /** The latest snapshot as a DataFrame. */
  def read(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root, headVersion(spark, root, "read"))

  /** Number of live data segments in the head manifest — pure driver-side
    * metadata (one THIN manifest read, no stats sidecar, no scan plan).
    * The honest denominator for "scanned X of Y segments" pruning audits:
    * the scanned side must come from the pruned read's own `inputFiles`
    * (it proves what the scan actually touches), but the total is a
    * catalog fact and planning a second full read just to count it costs
    * a whole plan + file listing per audit. */
  def liveSegmentCount(spark: SparkSession, root: String): Int = {
    val v = headVersion(spark, root, "liveSegmentCount")
    readManifest(spark, root, v, withStats = false).segments.size
  }

  /** The head's segments whose manifest stat map `survives` (a segment
    * without stats gets an empty map), read through their deletion
    * vectors — a Bloom hit on a tombstoned key still comes back empty.
    * `survives` must keep every segment it cannot prove misses. */
  private def prunedRead(spark: SparkSession, root: String, name: String)
                        (survives: Map[String, ColStat] => Boolean): DataFrame = {
    val v = headVersion(spark, root, name)
    val m = readManifest(spark, root, v)
    val kept = m.segments.filter(seg => survives(m.stats.getOrElse(seg, Map.empty)))
    if (kept.isEmpty) readVersion(spark, root, v).limit(0) // provably empty
    else readLive(spark, root, m, kept)
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
    prunedRead(spark, root, "readWhere")(_.get(colName).forall { st =>
      st.tag != "n" || // string stats on a numeric read: keep conservatively
        (new java.math.BigDecimal(st.hi).compareTo(lo) >= 0 &&
          new java.math.BigDecimal(st.lo).compareTo(hi) <= 0)
    }).filter(col(colName) >= lo && col(colName) <= hi)
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
    prunedRead(spark, root, "readWhereIn")(_.get(colName).forall { st =>
      st.tag != "n" || {
        val lo = new java.math.BigDecimal(st.lo)
        val hi = new java.math.BigDecimal(st.hi)
        values.exists(v => hi.compareTo(v) >= 0 && lo.compareTo(v) <= 0)
      }
    }).filter(col(colName).isin(values: _*))
  }

  /** [[readWhere]] for STRING columns: segment [min, max] bounds are
    * compared lexicographically (exact for the printable-ASCII bounds
    * [[describe]] records — Spark's UTF8String binary order coincides with
    * Java's on that subset).  Same contract: identical to the plain
    * filtered read, pruning is pure optimization. */
  def readWhereString(spark: SparkSession, root: String, colName: String,
                      lo: String, hi: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(lo <= hi, s"TxTable.readWhereString: lo '$lo' > hi '$hi'")
    prunedRead(spark, root, "readWhereString")(_.get(colName).forall { st =>
      st.tag != "s" || (st.hi >= lo && st.lo <= hi)
    }).filter(col(colName) >= lo && col(colName) <= hi)
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
    prunedRead(spark, root, "readWhereEquals") { cols =>
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
    }.filter(col(colName) === lit(value))
  }

  /** Scan `segments` of manifest `m` with the manifest-RECORDED schema: the
    * read plans with ZERO footer I/O (inferring a schema merged across
    * segments would open every segment file's footer on the driver, which
    * at 10⁵-10⁶ segments is a driver-side sweep per read).  Segments
    * written before a column existed null-fill it (additive schema
    * evolution); type changes were refused at commit time, so the recorded
    * schema is always readable.  `withChangeType` reads `cdc/` change
    * segments, whose rows add a `_change_type` column to the recorded
    * table columns. */
  private def readSegments(spark: SparkSession, root: String, m: Manifest,
                           segments: Seq[String],
                           withChangeType: Boolean = false): DataFrame = {
    val sc = decodeSchema(m.schema)
    spark.read.schema(if (!withChangeType) sc
        else sc.add("_change_type", org.apache.spark.sql.types.StringType))
      .parquet(segments.map(s => s"${root.stripSuffix("/")}/$s"): _*)
  }

  /** Time travel: the table exactly as of version `v` (each manifest
    * records its own era's schema — see [[readSegments]]). */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame = {
    val m = retainedManifest(spark, root, v, withStats = false)
    require(m.segments.nonEmpty, s"TxTable: version $v of $root is empty")
    readLive(spark, root, m, m.segments)
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
    val manifests = logManifests(fs(spark, root), root)
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

  /** The source-segment tag (`data/<id>`) cut from a scan's file path
    * (`_metadata.file_path`).  End-anchored, so a table ROOT containing a
    * /data/<x>/ component cannot hijack the match. */
  private def segTag(path: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.regexp_extract(path, "/(data/[^/]+)/[^/]*$", 1)

  /** MERGE-ON-READ: `segments` of manifest `m` scanned ONCE, minus their
    * DV rows and the `dead` coordinates a rewrite drops — the one read path
    * behind every snapshot read, pruned read, probe and rewrite.  One
    * driver-built filter (DV files via [[readDv]], no job) drops, per part
    * file, `_metadata.file_name` = it AND `_metadata.row_index` in its
    * positions: no join, no broadcast, other filters still push down. */
  private def readLive(spark: SparkSession, root: String, m: Manifest,
                       segments: Seq[String],
                       dead: Seq[(String, String, Long)] = Nil): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.functions.col
    // no segments (a pruned read that keeps none): the snapshot's schema, no rows
    if (segments.isEmpty) return readSegments(spark, root, m, m.segments).limit(0)
    val scan = readSegments(spark, root, m, segments)
    val pos = GraftSqlBridge.expr(col("_metadata.row_index"))
    val files = segments.flatMap(dvFiles(m).get).map(readDv(spark, root, _)).foldLeft(asDv(dead))(union)
    val drop = files.map { case (file, bm) =>
      col("_metadata.file_name") === file && GraftSqlBridge.column(
        org.apache.spark.sql.catalyst.expressions.InSet(pos, bm.toArray.map(i => i.toLong: Any).toSet))
    }
    if (drop.isEmpty) scan else scan.filter(!drop.reduce(_ || _))
  }

  /** The tag columns [[probe]] adds. */
  private val ProbeCols = Seq("__seg", "__file", "__pos")

  /** THE key probe: the live rows of manifest `m` whose key is in `keySet`
    * (broadcast, matched null-safely; a semi-join needs no distinct), each
    * with its segment (`__seg`), part file (`__file`) and row position
    * (`__pos`) — the coordinates a deletion vector records.  The segment is
    * cut from the file path after the semi-join: only probed rows pay. */
  private def probe(spark: SparkSession, root: String, m: Manifest,
                    keySet: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val live = readLive(spark, root, m, m.segments).select(col("*"),
      col("_metadata.file_path").as("__path"), col("_metadata.file_name").as("__file"),
      col("_metadata.row_index").as("__pos"))
    val ks = broadcast(keySet)
    live.join(ks, keys.map(k => live(k) <=> ks(k)).reduce(_ && _), "left_semi")
      .withColumn("__seg", segTag(col("__path"))).drop("__path")
  }

  /** A probe's coordinates, collected: one small row per probed row. */
  private def coords(probed: DataFrame): Seq[(String, String, Long)] =
    probed.select(ProbeCols.head, ProbeCols.tail: _*).collect().toSeq.map(coord)

  private def coord(r: org.apache.spark.sql.Row) = (r.getString(0), r.getString(1), r.getLong(2))

  /** [[probe]] `m` for `keySet`: the probed rows' coordinates, collected
    * (one small row each), and, with `cdf`, the probed rows staged in `st`
    * as the commit's 'delete' change segment (the probe cached for both). */
  private def probeDeletes(st: Staging, m: Manifest, keySet: DataFrame, keys: Seq[String],
                           cdf: Boolean): (Seq[(String, String, Long)], Seq[String]) = {
    import org.apache.spark.sql.functions.lit
    val probed = probe(st.spark, st.root, m, keySet, keys)
    if (cdf) probed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val hits = coords(probed)
      (hits, if (!cdf || hits.isEmpty) Nil else Seq(writeSegment(st,
        probed.drop(ProbeCols: _*).withColumn("_change_type", lit("delete")), "cdc")))
    } finally probed.unpersist(false)
  }

  /** DELETION-VECTOR DELETE — merge-on-read: the [[probe]] finds the live
    * rows keyed in `tombstones` and their positions join their segments'
    * deletion vectors ([[addPositions]]); no data segment is read whole or
    * rewritten, so the write is O(deleted rows).  This is the
    * high-frequency-delete half of the story [[commitDelete]]'s
    * copy-on-write rewrite is too expensive for; any rewriting commit
    * ([[compactTx]], [[compactZOrder]], [[commitOverwrite]]) MATERIALIZES
    * outstanding DVs — it reads through them and publishes a DV-free
    * manifest — and [[commitDelete]]/[[commitRewriteHit]] carry the DVs of
    * the segments they keep.  `cdf = true` records the probed rows as the
    * deleted rows for [[readChanges]] (the probe is cached for it).
    * Returns the head (unchanged) when no live row matches. */
  def commitDeleteVectors(spark: SparkSession, root: String,
                          tombstones: DataFrame, keys: Seq[String],
                          cdf: Boolean = false): Long = {
    import org.apache.spark.sql.functions.col
    val headV = headVersion(spark, root, "commitDeleteVectors")
    val head = readManifest(spark, root, headV)
    staged(spark, root) { st =>
      val (hits, cdc) = probeDeletes(st, head, tombstones.select(keys.map(col): _*), keys, cdf)
      if (hits.isEmpty) headV
      else {
        val dvs = addPositions(st, head, hits)
        commit(st, Some(headV)) { _ =>
          Manifest("dvdelete", head.segments, head.schema, head.stats, cdc, dvs)
        }
      }
    }
  }

  /** ONE-COMMIT incremental apply — the [[commitAppend]] +
    * [[commitDeleteVectors]] pair fused into a single manifest publish:
    * `inserts` stage as one new stats-tracked segment, and ONE [[probe]]
    * of `tombstones` over every data segment of the new snapshot —
    * including the staged one, so a key that is both inserted and
    * tombstoned in the same delta ends up deleted (append-then-delete,
    * matching the two-commit sequence bit for bit) — adds the probed
    * positions to the deletion vectors.  This is the maintained-index
    * refresh primitive: a CDF delta lands as ONE version, ONE CAS, with no
    * window where readers see the inserts without the takedowns, and half
    * the commit-protocol overhead — the same fix [[commitRewriteHit]] gave
    * the IVM apply.  A lost race re-derives (and re-probes) from the new head.
    *
    * `batch` makes it an exactly-once streaming apply (replay no-ops).
    * Degenerate shapes fold away: no tombstone hit publishes a plain append
    * manifest; empty inserts publish a pure dvdelete-shaped one; neither
    * returns the head unchanged.  `cdf = true` records the change feed
    * (inserts by segment reference, delete rows from the probe).  CHECK
    * constraints are enforced on `inserts` (the only rows this commit
    * introduces). */
  def commitDelta(spark: SparkSession, root: String, inserts: DataFrame,
                  tombstones: DataFrame, keys: Seq[String],
                  statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
                  cdf: Boolean = false, batch: Option[Long] = None): Long = {
    import org.apache.spark.sql.functions.col
    if (batch.exists(b => lastCommittedBatch(spark, root).exists(_ >= b)))
      return ReplayNoOp // fast path; commit re-verifies per attempt
    val headV = latestVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"TxTable.commitDelta: no commits under $root — bootstrap with " +
          "commitOverwrite first"))
    enforceChecks(spark, root, inserts, "commitDelta")
    staged(spark, root) { st =>
      // stage the insert segment (ours alone); emptiness decided driver-side
      // from the written parquet FOOTERS (an empty write can still leave a
      // footer-only part file) — no extra isEmpty job
      val seg = writeSegment(st, inserts)
      val (rows, segSt) = describe(spark, root, Seq(seg), inserts.schema,
        statsCols ++ bloomCols.map(bloomKey))
      val newSegs = Seq(seg).filter(rows(_) > 0)
      val tomb = tombstones.select(keys.map(col): _*)
      // the next manifest over `head` and its tombstone positions — the DV
      // scopes the WHOLE new snapshot, base segments and the staged one
      def apply(head: Manifest): (Manifest, Seq[(String, String, Long)]) = {
        val base = loadStats(spark, root, head)
        val next = Manifest("delta", base.segments ++ newSegs,
          if (newSegs.isEmpty) base.schema
          else encodeSchema(mergeEvolve(decodeSchema(base.schema), inserts.schema, root)),
          base.stats ++ segSt, dvs = base.dvs)
        // this attempt's change rows and DV files derive from `head`: a
        // losing attempt's are left for the sweep
        val (hits, del) = probeDeletes(st, next, tomb, keys, cdf)
        // no takedowns ⇒ the manifest IS a plain append (keeps readChanges'
        // structural insert derivation)
        (next.copy(op = if (hits.isEmpty) "append" else "delta",
          cdc = (if (cdf) newSegs.map("insert:" + _) else Nil) ++ del,
          dvs = addPositions(st, next, hits)), hits)
      }
      val first = apply(readManifest(spark, root, headV, withStats = false))
      if (newSegs.isEmpty && first._2.isEmpty) headV // nothing moved
      else commit(st, batch = batch) { head =>
        if (head.get.version == headV) first._1 else apply(head.get)._1
      }
    }
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
    // segments and change segments are read RAW by path (deletion vectors
    // never apply to a commit's own change rows), planned with the
    // manifest-recorded schema ([[readSegments]]) so the read costs ZERO
    // footer I/O per refresh
    val frames = ((fromVersion + 1) to toVersion).flatMap { v =>
      val m = retainedManifest(spark, root, v, withStats = false)
      val changed: Seq[DataFrame] = m.op match {
        case "append" =>
          val prev = if (v == 1) Set.empty[String]
            else retainedManifest(spark, root, v - 1, withStats = false).segments.toSet
          val fresh = m.segments.filterNot(prev.contains)
          if (fresh.isEmpty) Nil
          else Seq(readSegments(spark, root, m, fresh)
            .withColumn("_change_type", lit("insert")))
        case "merge" | "delete" | "dvdelete" | "delta" =>
          if (m.cdc.nonEmpty) {
            // `insert:`-prefixed entries reference a DATA segment whose
            // rows are all inserts (insert-only commits record no separate
            // change copy); the rest are self-describing cdc/ segments
            val (refs, own) = m.cdc.partition(_.startsWith("insert:"))
            (if (own.nonEmpty)
              Seq(readSegments(spark, root, m, own, withChangeType = true))
            else Nil) ++
              (if (refs.nonEmpty)
                Seq(readSegments(spark, root, m, refs.map(_.stripPrefix("insert:")))
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
    // row counts only: no stats, so no schema
    def rows(segs: Seq[String]) = describe(spark, root, segs, new StructType(), Nil)._1.values.sum
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
          total += rows(m.segments.filterNot(prev.contains))
        case "merge" | "delete" | "dvdelete" | "delta" =>
          if (m.cdc.isEmpty) return None // readChanges raises the loud error
          total += rows(m.cdc.map(_.stripPrefix("insert:")))
        case _ => return None // overwrite/restore: DV-dependent snapshot diff
      }
      v += 1
    }
    Some(total)
  }

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
    if (!publishNew(spark, f, tagPath(root, name), s"""{"version":$v}"""))
      throw new IllegalArgumentException(
        s"TxTable.tag: tag '$name' already exists under $root " +
          "(tags are immutable; deleteTag first)")
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
    if (!publishNew(spark, f, checkPath(root, name), s"""{"expr":"$exprSql"}"""))
      throw new IllegalArgumentException(
        s"TxTable.addCheck: check '$name' already exists under $root " +
          "(dropCheck first)")
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

  /** Drop data segments referenced by NO manifest among the newest
    * `keepVersions` (and drop older manifests + all claims at or below the
    * head — published slots never need their claim again) — the retention
    * boundary for snapshot isolation: readers older than it lose their
    * snapshot.  The head manifest carries the max committed batch id, so
    * vacuum can never drop the streaming replay horizon.  A `data/`,
    * `cdc/` or `dv/` directory referenced only by manifests this run drops
    * goes at once; one that NO manifest references belongs to an in-flight
    * or crashed commit (every commit call sweeps what it staged but did not
    * publish), so it is reaped only once older than
    * `spark.graft.tx.staleClaimMs` — a concurrent writer's staged segment
    * must still exist when its manifest publishes. */
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
    // a dangling tag's manifest, or a dropped one a concurrent vacuum
    // deleted since the listing, reads as None
    def manifest(v: Long): Option[Manifest] =
      try Some(readManifest(spark, root, v, withStats = false))
      catch { case _: java.io.FileNotFoundException => None }
    val pinned = taggedVs.toSeq.sorted.flatMap(manifest)
    val kept = pinned ++
      (keepFrom to head).map(readManifest(spark, root, _, withStats = false))
    // one listing, not one probe per version slot
    val dropped = logVersions(f, root).filter(v => v < keepFrom && !taggedVs(v))
    val live = kept.flatMap(dirsOf).toSet
    val dead = dropped.flatMap(manifest).flatMap(dirsOf).toSet
    // change segments age out with their manifest (the CDF retention
    // boundary — readChanges past it fails like time travel does), and
    // a deletion-vector file lives as long as a retained manifest
    // references it (a union supersedes it; rewrites drop materialized DVs)
    Seq("data", "cdc", "dv").foreach { kind =>
      val dir = new Path(s"${root.stripSuffix("/")}/$kind")
      if (f.exists(dir)) f.listStatus(dir).foreach { st =>
        val d = s"$kind/${st.getPath.getName}"
        if (!live(d) && (dead(d) || stale(spark, st)))
          f.delete(st.getPath, true)
      }
    }
    dropped.foreach(v => f.delete(manifestPath(root, v), false))
    // claims above head go through the commit loop's stale-claim reaper.
    // Stats sidecars live exactly as long as a RETAINED manifest references
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
        else reapStaleClaim(spark, f, root, v)
      } else if (n.startsWith("s-") && n.endsWith(".json") &&
                 !liveRefs.contains(n) && stale(spark, st))
        f.delete(st.getPath, false)
    }
  }
}
