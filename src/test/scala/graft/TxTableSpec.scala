package graft

import org.apache.spark.sql.functions._

import graft.engine.TxTable

/** Manifest-swap transactional table: commit/read/time-travel/compact/vacuum
  * protocol invariants (TxTable.scala). */
class TxTableSpec extends SparkFunSuite {
  import spark.implicits._

  private def newRoot(): String =
    java.nio.file.Files.createTempDirectory("txtable_spec").toString + "/tbl"

  test("overwrite then append: versions accumulate, time travel reads each snapshot") {
    val root = newRoot()
    assert(TxTable.latestVersion(spark, root).isEmpty)
    val v1 = TxTable.commitOverwrite(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val v2 = TxTable.commitAppend(spark, root, Seq((3L, "c")).toDF("k", "v"))
    assert(v1 === 1L && v2 === 2L)
    assert(TxTable.read(spark, root).count() === 3)
    assert(TxTable.readVersion(spark, root, 1L).count() === 2,
      "version 1 must stay readable after later commits (snapshot isolation)")
    val v3 = TxTable.commitOverwrite(spark, root, Seq((9L, "z")).toDF("k", "v"))
    assert(v3 === 3L && TxTable.read(spark, root).count() === 1)
    assert(TxTable.readVersion(spark, root, 2L).count() === 3)
  }

  test("history: thin audit trail tracks ops, segment counts, batch watermark") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    TxTable.streamingAppend(root)(Seq((3L, "c")).toDF("k", "v"), 7L)
    TxTable.commitAppend(spark, root, Seq((4L, "d")).toDF("k", "v"))
    val h = TxTable.history(spark, root).orderBy("version").collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(h.map(_.getString(1)).toSeq === Seq("overwrite", "append", "append"))
    assert(h.map(_.getLong(2)).toSeq === Seq(1L, 2L, 3L), "segment counts grow per append")
    assert(h.head.isNullAt(5), "pre-streaming commits carry no batch watermark")
    assert(h(1).getLong(5) === 7L && h(2).getLong(5) === 7L,
      "the batch watermark latches and carries forward through later commits")
  }

  test("history(limit): the newest-N suffix via the head hint, full sweep unchanged") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq((1L, "a")).toDF("k", "v"))
    for (i <- 2 to 6)
      TxTable.commitAppend(spark, root, Seq((i.toLong, "x")).toDF("k", "v"))
    val full = TxTable.history(spark, root).orderBy("version")
      .collect().map(_.toString).toSeq
    val capped = TxTable.history(spark, root, limit = 3).orderBy("version")
      .collect().map(_.toString).toSeq
    assert(capped === full.takeRight(3),
      "limit must return exactly the newest-N rows the full audit ends with")
    assert(TxTable.history(spark, root, limit = 100).count() === 6,
      "a limit past the log start returns every retained commit")
    intercept[IllegalArgumentException](TxTable.history(spark, root, limit = 0))
  }

  test("commitDelta: a non-retryable commit failure surfaces immediately, " +
    "never through the CAS-miss backoff") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq((1L, "a")).toDF("k", "s"))
    val ss = spark.newSession()
    ss.conf.set(graft.engine.PublishArbiter.ConfKey, "no_such_arbiter")
    def listing() = Seq("data", "dv", "cdc").map(d =>
      Option(new java.io.File(s"$root/$d").list()).toSeq.flatten.sorted)
    val before = listing()
    // every commit protocol shape: a re-deriving append, the fused delta,
    // a keyed rewrite, a DV delete and a compaction
    val calls = Seq[(String, () => Long)](
      "commitAppend" -> (() => TxTable.commitAppend(ss, root, Seq((2L, "b")).toDF("k", "s"))),
      "commitDelta" -> (() => TxTable.commitDelta(ss, root, Seq((2L, "b")).toDF("k", "s"),
        spark.emptyDataset[Long].toDF("k"), Seq("k"))),
      "commitMerge" -> (() => TxTable.commitMerge(ss, root, Seq((1L, "m")).toDF("k", "s"),
        Seq("k"), Seq("s"), Nil)),
      "commitDeleteVectors" -> (() =>
        TxTable.commitDeleteVectors(ss, root, Seq(1L).toDF("k"), Seq("k"))),
      "compactTx" -> (() => TxTable.compactTx(ss, root)))
    for ((name, call) <- calls) {
      val t0 = System.nanoTime()
      val e = intercept[IllegalArgumentException](call())
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(e.getMessage.contains("unregistered arbiter"),
        s"$name: the genuine failure must surface with its own message")
      // a catch-all retry burns >= 2.75 s of sleeps before surfacing
      assert(elapsedMs < 2500,
        f"$name must fail fast, not retry through backoff (took $elapsedMs%.0f ms)")
      assert(listing() === before, s"$name left staged directories behind")
    }
    assert(TxTable.latestVersion(spark, root).contains(1L))
  }

  test("a publish that takes effect and then throws keeps its staged segments") {
    // an unknown outcome: the link landed but the call failed after it (a
    // temp-file delete, a lost RPC reply, an arbiter acknowledgement timeout)
    graft.engine.PublishArbiter.register("publish_then_throw",
      new graft.engine.PublishArbiter {
        def claimExclusive(f: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path): Boolean =
          graft.engine.PublishArbiter.Filesystem.claimExclusive(f, p)
        def publishExclusive(f: org.apache.hadoop.fs.FileSystem,
                             tmp: org.apache.hadoop.fs.Path,
                             target: org.apache.hadoop.fs.Path): Boolean = {
          graft.engine.PublishArbiter.Filesystem.publishExclusive(f, tmp, target)
          throw new java.io.IOException("acknowledgement lost")
        }
      })
    // a definite loss: the slot reads as published by another writer
    graft.engine.PublishArbiter.register("publish_lost",
      new graft.engine.PublishArbiter {
        def claimExclusive(f: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path): Boolean =
          graft.engine.PublishArbiter.Filesystem.claimExclusive(f, p)
        def publishExclusive(f: org.apache.hadoop.fs.FileSystem,
                             tmp: org.apache.hadoop.fs.Path,
                             target: org.apache.hadoop.fs.Path): Boolean = false
      })
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    val ss = spark.newSession()
    ss.conf.set(graft.engine.PublishArbiter.ConfKey, "publish_then_throw")
    // a re-deriving append, a merge-on-read MERGE (new segment + DV file)
    // and a DV delete (a DV file that supersedes the merge's)
    intercept[java.io.IOException](
      TxTable.commitAppend(ss, root, Seq((3L, "c")).toDF("k", "s")))
    intercept[java.io.IOException](
      TxTable.commitMerge(ss, root, Seq((1L, "m")).toDF("k", "s"), Seq("k"), Seq("s"), Nil))
    assert(headDvs(root).size === 1, "the merge must publish a DV")
    intercept[java.io.IOException](
      TxTable.commitDeleteVectors(ss, root, Seq(2L).toDF("k"), Seq("k")))
    assert(TxTable.latestVersion(spark, root).contains(4L))
    for (v <- 3L to 4L; (dv, seg) <- manifestDvs(root, v))
      assert(new java.io.File(s"$root/$dv").isFile && new java.io.File(s"$root/$seg").isDirectory,
        s"v$v references $dv|$seg, which the sweep removed")
    assert(TxTable.liveSegmentCount(spark, root) === 3, "the merge's segment must be live")
    assert(TxTable.read(spark, root).as[(Long, String)].collect().sorted.toSeq ===
      Seq((1L, "m"), (3L, "c")),
      "the published head must still read: its segments and DVs were not swept")
    // when the publish definitely lost, the sweep takes everything staged
    def listing() = Seq("data", "dv", "cdc").map(d =>
      Option(new java.io.File(s"$root/$d").list()).toSeq.flatten.sorted)
    val before = listing()
    val lost = spark.newSession()
    lost.conf.set(graft.engine.PublishArbiter.ConfKey, "publish_lost")
    intercept[IllegalStateException](TxTable.commitMerge(lost, root,
      Seq((3L, "x"), (9L, "y")).toDF("k", "s"), Seq("k"), Seq("s"), Nil, cdf = true))
    // the lost merge's claim still holds the slot: the delete loses the race
    intercept[IllegalArgumentException](
      TxTable.commitDeleteVectors(lost, root, Seq(3L).toDF("k"), Seq("k"), cdf = true))
    assert(listing() === before, "a lost publish must leave no staged segment or DV file")
    assert(TxTable.read(spark, root).as[(Long, String)].collect().sorted.toSeq ===
      Seq((1L, "m"), (3L, "c")))
  }

  /** The (DV file, data segment) entries of manifest `v`. */
  private def manifestDvs(root: String, v: Long): Seq[(String, String)] = {
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$root/_txlog/v$v%010d.json")), "UTF-8")
    "\"dvs\":\\[([^\\]]*)\\]".r.findFirstMatchIn(json).toSeq
      .flatMap(_.group(1).split(",")).map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .map { e => val Array(dv, seg) = e.split("\\|"); (dv, seg) }
  }

  private def headDvs(root: String) =
    manifestDvs(root, TxTable.latestVersion(spark, root).get)

  test("commitAppendAudited: failed audit unwinds the staged segment entirely") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq((1L, 10.0)).toDF("k", "v"))
    def dataDirs() = {
      val d = new java.io.File(s"$root/data")
      if (d.exists()) d.listFiles().count(_.isDirectory) else 0
    }
    val before = dataDirs()
    val ex = intercept[IllegalArgumentException] {
      TxTable.commitAppendAudited(spark, root,
          Seq((2L, -5.0)).toDF("k", "v")) { staged =>
        require(staged.filter($"v" < 0).isEmpty, "negative v staged")
      }
    }
    assert(ex.getMessage.contains("negative v staged"))
    assert(TxTable.latestVersion(spark, root).contains(1L),
      "a failed audit publishes nothing")
    assert(dataDirs() === before,
      "the staged segment must be deleted, not left as an orphan")
    // the audit sees the STAGED files, not the input plan
    var seen = -1L
    TxTable.commitAppendAudited(spark, root,
        Seq((3L, 7.0)).toDF("k", "v")) { staged => seen = staged.count() }
    assert(seen === 1L && TxTable.read(spark, root).count() === 2)
  }

  test("compactTx merges segments as a commit; prior snapshots undisturbed") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, (1L to 10L).toDF("k"))
    (1 to 3).foreach(i => TxTable.commitAppend(spark, root, Seq(100L + i).toDF("k")))
    val before = TxTable.read(spark, root).as[Long].collect().sorted.toSeq
    val vc = TxTable.compactTx(spark, root)
    assert(vc === 5L)
    assert(TxTable.read(spark, root).as[Long].collect().sorted.toSeq === before,
      "compaction must be a pure re-layout")
    // the pre-compaction head still resolves to the same rows
    assert(TxTable.readVersion(spark, root, 4L).as[Long].collect().sorted.toSeq === before)
    // and the compacted snapshot is ONE segment directory
    val dataDirs = new java.io.File(root + "/data").listFiles.count(_.isDirectory)
    assert(dataDirs === 5, "4 commit segments + 1 compacted segment until vacuum")
  }

  test("vacuum drops unreferenced segments and old manifests, keeps the head readable") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, (1L to 5L).toDF("k"))
    TxTable.commitAppend(spark, root, Seq(6L).toDF("k"))
    TxTable.compactTx(spark, root)
    TxTable.vacuum(spark, root, keepVersions = 1)
    assert(TxTable.read(spark, root).count() === 6)
    val dataDirs = new java.io.File(root + "/data").listFiles.count(_.isDirectory)
    assert(dataDirs === 1, "only the compacted segment survives the vacuum")
    intercept[Exception](TxTable.readVersion(spark, root, 1L).count())
  }

  test("vacuum spares a fresh unreferenced segment (an in-flight commit's), reaps it once stale") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq(1L).toDF("k"))
    // a concurrent writer has staged this segment but not yet published
    val inFlight = new java.io.File(root + "/data/x")
    assert(inFlight.mkdirs())
    TxTable.vacuum(spark, root, keepVersions = 1)
    assert(inFlight.exists(), "vacuum must not delete a fresh staged segment")
    spark.conf.set("spark.graft.tx.staleClaimMs", "1")
    try {
      Thread.sleep(50)
      TxTable.vacuum(spark, root, keepVersions = 1)
      assert(!inFlight.exists(), "a stale unreferenced segment is a crashed commit's: reap it")
    } finally spark.conf.unset("spark.graft.tx.staleClaimMs")
    assert(TxTable.read(spark, root).count() === 1)
  }

  test("additive schema evolution: old segments surface NULL for new columns") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq((1L, "a")).toDF("k", "v"))
    TxTable.commitAppend(spark, root, Seq((2L, "b", 9.5)).toDF("k", "v", "score"))
    val rows = TxTable.read(spark, root).orderBy("k").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    val scoreIdx = TxTable.read(spark, root).schema.fieldIndex("score")
    assert(rows(0).isNullAt(scoreIdx) && rows(1).getDouble(scoreIdx) === 9.5)
  }

  test("commitMerge writes only the changed rows; every segment carries over") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root,
      Seq((1L, 10.0, 100L), (2L, 20.0, 200L)).toDF("k", "price", "owner"))
    TxTable.commitAppend(spark, root,
      Seq((3L, 30.0, 300L), (4L, 40.0, 400L)).toDF("k", "price", "owner"))
    def dataDirs() = new java.io.File(root + "/data").listFiles.filter(_.isDirectory)
      .map(_.getName).toSet
    val before = dataDirs()
    // hits only segment 2 (key 3) + one pure insert (key 5)
    val incoming = Seq((3L, 33.0, -1L), (5L, 50.0, 500L)).toDF("k", "price", "owner")
    TxTable.commitMerge(spark, root, incoming, Seq("k"), Seq("price"), Seq("owner"))
    val got = TxTable.read(spark, root).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 10.0, 100L), (2L, 20.0, 200L), (3L, 33.0, 300L),
      (4L, 40.0, 400L), (5L, 50.0, 500L)),
      "price updates (EXCLUDED wins), owner preserved (existing wins), insert lands")
    // merge-on-read: both segments carry over by reference, ONE new segment
    // holds exactly the updated and inserted rows, and ONE DV, on segment 2,
    // holds key 3's old position
    val added = dataDirs() -- before
    assert(before.subsetOf(dataDirs()) && added.size === 1)
    assert(spark.read.parquet(s"$root/data/${added.head}").select("k", "price", "owner")
      .as[(Long, Double, Long)].collect().sorted.toSeq === Seq((3L, 33.0, 300L), (5L, 50.0, 500L)))
    assert(TxTable.liveSegmentCount(spark, root) === 3)
    val dvs = headDvs(root)
    assert(dvs.size === 1 && before.map("data/" + _).contains(dvs.head._2))
    assert(TxTable.readVersion(spark, root, 2L).count() === 4, "time travel is unchanged")
    TxTable.vacuum(spark, root, keepVersions = 1)
    assert(dataDirs() === before ++ added,
      "after vacuum every segment is still live: none was rewritten")
    assert(TxTable.read(spark, root).count() === 5)
  }

  test("commitDelete removes tombstoned keys from hit segments only; no-op on misses") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    TxTable.commitAppend(spark, root, Seq((3L, "c"), (4L, "d")).toDF("k", "v"))
    val v = TxTable.commitDelete(spark, root, Seq(Tuple1(3L)).toDF("k"), Seq("k"))
    assert(v === 3L)
    assert(TxTable.read(spark, root).orderBy("k").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L, 4L))
    // segment 1 (keys 1,2) carried by reference; time travel still sees key 3
    assert(TxTable.readVersion(spark, root, 2L).count() === 4)
    // a miss is a pure no-op: same head version, no new commit
    assert(TxTable.commitDelete(spark, root, Seq(Tuple1(99L)).toDF("k"), Seq("k")) === 3L)
    assert(TxTable.latestVersion(spark, root) === Some(3L))
    // deleting every remaining row publishes a readable empty head (SQL
    // DELETE semantics); time travel still sees the rows, a merge lands
    assert(TxTable.commitDelete(spark, root,
      Seq(1L, 2L, 4L).map(Tuple1(_)).toDF("k"), Seq("k")) === 4L)
    assert(TxTable.read(spark, root).count() === 0)
    assert(TxTable.liveSegmentCount(spark, root) === 1)
    assert(TxTable.readVersion(spark, root, 3L).orderBy("k").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 4L))
    TxTable.commitMerge(spark, root, Seq((5L, "e")).toDF("k", "v"), Seq("k"), Seq("v"), Nil)
    assert(TxTable.read(spark, root).collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq === Seq((5L, "e")))
  }

  test("a keyed rewrite whose hit segment dies entirely publishes no 0-row segment") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq(1L, 2L).toDF("k"))
    TxTable.commitAppend(spark, root, Seq(3L, 4L).toDF("k"))
    // the rewrite drops every row of the hit segment {3, 4}
    TxTable.commitRewriteHit(spark, root, Seq(3L).toDF("k"), Seq("k"))(_.filter(col("k") < 3))
    assert(TxTable.liveSegmentCount(spark, root) === 1,
      "only the carried segment {1, 2} stays live")
    assert(TxTable.read(spark, root).as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("streamingAppend commits each batch id exactly once across replays") {
    val root = newRoot()
    val sink = TxTable.streamingAppend(root) _
    sink(Seq(1L).toDF("k"), 0L)
    sink(Seq(1L).toDF("k"), 0L) // at-least-once replay of batch 0
    sink(Seq(2L).toDF("k"), 1L)
    sink(Seq(2L).toDF("k"), 0L) // stale replay after batch 1 landed
    assert(TxTable.read(spark, root).as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    assert(TxTable.lastCommittedBatch(spark, root) === Some(1L))
    assert(TxTable.latestVersion(spark, root) === Some(2L),
      "replayed batches must not even burn a version number")
  }

  test("commit loses the version race cleanly and retries onto the next slot") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq(1L).toDF("k"))
    // a racing committer lands v2 between our head read and our rename:
    // simulate by pre-creating the v2 manifest the competitor would write
    val log = new java.io.File(root + "/_txlog")
    val v1 = new String(java.nio.file.Files.readAllBytes(
      log.listFiles.filter(_.getName == "v0000000001.json").head.toPath))
    java.nio.file.Files.write(new java.io.File(log, "v0000000002.json").toPath,
      v1.replace("\"version\":1", "\"version\":2").getBytes)
    val v = TxTable.commitAppend(spark, root, Seq(2L).toDF("k"))
    assert(v === 3L, "loser of the v2 race must land on v3, not clobber v2")
    assert(TxTable.read(spark, root).count() === 2)
  }

  test("claim CAS: two concurrent local committers both land on distinct versions") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq(0L).toDF("k"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val gate = new java.util.concurrent.CountDownLatch(1)
    def committer(v: Long) = pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = { gate.await(); TxTable.commitAppend(spark, root, Seq(v).toDF("k")) }
    })
    val (fa, fb) = (committer(1L), committer(2L))
    gate.countDown()
    val (va, vb) = (fa.get(), fb.get())
    pool.shutdown()
    assert(Set(va, vb) === Set(2L, 3L),
      "the create-exclusive claim must serialize the racers: one v2, one v3")
    assert(TxTable.read(spark, root).as[Long].collect().sorted.toSeq === Seq(0L, 1L, 2L),
      "no lost rows — the claim loser must retry onto the next slot, not clobber")
  }

  test("batch id survives compact + vacuum: replay after maintenance is a no-op") {
    val root = newRoot()
    val sink = TxTable.streamingAppend(root) _
    sink(Seq(1L).toDF("k"), 0L)
    sink(Seq(2L).toDF("k"), 1L)
    TxTable.compactTx(spark, root)
    TxTable.vacuum(spark, root, keepVersions = 1)
    assert(TxTable.lastCommittedBatch(spark, root) === Some(1L),
      "compact + vacuum must carry the replay horizon forward")
    sink(Seq(2L).toDF("k"), 1L) // crash-replay of batch 1 after maintenance
    assert(TxTable.read(spark, root).as[Long].collect().sorted.toSeq === Seq(1L, 2L),
      "the replayed batch must not append twice")
    TxTable.commitOverwrite(spark, root, Seq(5L, 6L).toDF("k"))
    assert(TxTable.lastCommittedBatch(spark, root) === Some(1L),
      "overwrite must carry the batch id too — the horizon is table-lifetime max")
  }

  test("a table root containing a /data/ path component does not confuse merge/delete") {
    val root = java.nio.file.Files.createTempDirectory("txtable_spec").toString + "/data/tbl"
    TxTable.commitOverwrite(spark, root,
      Seq((1L, 1.0, 10L), (2L, 2.0, 20L)).toDF("k", "p", "o"))
    TxTable.commitAppend(spark, root, Seq((3L, 3.0, 30L)).toDF("k", "p", "o"))
    TxTable.commitMerge(spark, root, Seq((1L, 9.0, -1L)).toDF("k", "p", "o"),
      Seq("k"), Seq("p"), Seq("o"))
    val got = TxTable.read(spark, root).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 9.0, 10L), (2L, 2.0, 20L), (3L, 3.0, 30L)),
      "end-anchored __seg: no duplicated rows when the root path contains /data/")
    TxTable.commitDelete(spark, root, Seq(Tuple1(3L)).toDF("k"), Seq("k"))
    assert(TxTable.read(spark, root).count() === 2)
  }

  test("string stats flow through streamingAppend; readWhereString prunes segments") {
    val root = newRoot()
    val sink = TxTable.streamingAppend(root, statsCols = Seq("s")) _
    sink(Seq(("aa", 1L), ("am", 2L)).toDF("s", "k"), 0L)
    sink(Seq(("ba", 3L), ("bm", 4L)).toDF("s", "k"), 1L)
    sink(Seq(("ca", 5L), ("cm", 6L)).toDF("s", "k"), 2L)
    def segsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.inputFiles.map(f => f.replaceAll("/[^/]*$", "")).toSet
    val mid = TxTable.readWhereString(spark, root, "s", "b", "bz")
    assert(segsOf(mid).size === 1,
      "two of three stream-built segments must be pruned from the manifest")
    assert(mid.orderBy("k").collect().map(_.getString(0)).toSeq === Seq("ba", "bm"))
    // a non-ASCII bound is not recorded (no JSON escaper): conservative keep
    sink(Seq(("dé", 7L)).toDF("s", "k"), 3L)
    assert(TxTable.readWhereString(spark, root, "s", "a", "e").count() === 7,
      "segment with unrepresentable bounds must still be scanned, result exact")
  }

  test("readWhere prunes segments by manifest stats, stays exact, survives rewrites") {
    def bd(i: Int) = new java.math.BigDecimal(i)
    def segsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.inputFiles.map(f => f.replaceAll("/[^/]*$", "")).toSet
    val root = newRoot()
    def slice(a: Long, b: Long) = (a to b).map(i => (i, i * 10)).toDF("k", "v")
    TxTable.commitOverwrite(spark, root, slice(1, 100), statsCols = Seq("k"))
    TxTable.commitAppend(spark, root, slice(101, 200), statsCols = Seq("k"))
    TxTable.commitAppend(spark, root, slice(201, 300), statsCols = Seq("k"))
    assert(segsOf(TxTable.read(spark, root)).size === 3)

    // mid-range query: ONE segment scanned, result exact
    val mid = TxTable.readWhere(spark, root, "k", bd(150), bd(160))
    assert(segsOf(mid).size === 1, "stats must prune the two non-overlapping segments")
    assert(mid.collect().map(_.getLong(0)).sorted.toSeq === (150L to 160L))

    // untracked column: conservatively reads everything, still correct
    val untracked = TxTable.readWhere(spark, root, "v", bd(1500), bd(1600))
    assert(segsOf(untracked).size === 3, "no stats for v — nothing may be pruned")
    assert(untracked.count() === 11)

    // provably-empty range: zero rows without scanning data
    assert(TxTable.readWhere(spark, root, "k", bd(1000), bd(2000)).count() === 0)

    // a delete rewrites the middle segment; carried stats must keep pruning
    TxTable.commitDelete(spark, root, Seq(155L).toDF("k"), Seq("k"))
    val lowAfter = TxTable.readWhere(spark, root, "k", bd(1), bd(50))
    assert(segsOf(lowAfter).size === 1, "carried stats must survive the delete rewrite")
    assert(lowAfter.count() === 50)
    assert(TxTable.readWhere(spark, root, "k", bd(150), bd(160)).count() === 10,
      "rewritten segment re-measured: deleted key gone, neighbors intact")
  }

  test("bloom skipping: point lookups prune segments min/max cannot, survive rewrites") {
    val root = newRoot()
    def seg(lo: Long, hi: Long) = (lo to hi).toDF("k")
      .withColumn("h", md5(col("k").cast("string")))
    // random md5 keys: every segment's [min,max] on h spans the hex space
    TxTable.commitAppend(spark, root, seg(1, 200), bloomCols = Seq("h"))
    TxTable.commitAppend(spark, root, seg(201, 400), bloomCols = Seq("h"))
    TxTable.commitAppend(spark, root, seg(401, 600), bloomCols = Seq("h"))
    val probe = seg(350, 350).select("h").collect().head.getString(0)
    def segsOf(df: org.apache.spark.sql.DataFrame): Int =
      df.inputFiles.map(_.replaceAll("/[^/]*$", "")).toSet.size
    val hit = TxTable.readWhereEquals(spark, root, "h", probe)
    assert(hit.count() === 1 && hit.select("k").head.getLong(0) === 350L)
    assert(segsOf(hit) < 3, "bloom must prune at least one non-owning segment")
    // absent key: typically zero segments (provably absent modulo fpp)
    val miss = TxTable.readWhereEquals(spark, root, "h", "not-a-digest")
    assert(miss.count() === 0)
    assert(segsOf(miss) < 3, "an absent key must not scan every segment")
    // a delete rewrites the middle segment; carryStats must rebuild its bloom
    TxTable.commitDelete(spark, root, Seq(300L).toDF("k"), Seq("k"))
    val after = TxTable.readWhereEquals(spark, root, "h", probe)
    assert(after.count() === 1 && segsOf(after) < 3,
      "bloom skipping must survive the merge/delete rewrite")
    // long-typed column blooms dispatch on the value type
    val root2 = newRoot()
    TxTable.commitAppend(spark, root2, (1L to 100L).toDF("k"), bloomCols = Seq("k"))
    TxTable.commitAppend(spark, root2, (101L to 200L).toDF("k"), bloomCols = Seq("k"))
    val one = TxTable.readWhereEquals(spark, root2, "k", 150L)
    assert(one.count() === 1 && segsOf(one) === 1)
  }

  test("change data feed: replaying the feed reconstructs the head snapshot") {
    val root = newRoot()
    // v1 bootstrap merge, v2 update+insert merge, v3 append, v4 delete
    TxTable.commitMerge(spark, root, Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("k", "x", "tag"),
      Seq("k"), Seq("x"), Seq("tag"), cdf = true)
    TxTable.commitMerge(spark, root, Seq((2L, 99.0, "IGNORED"), (3L, 30.0, "c")).toDF("k", "x", "tag"),
      Seq("k"), Seq("x"), Seq("tag"), cdf = true)
    TxTable.commitAppend(spark, root, Seq((4L, 40.0, "d")).toDF("k", "x", "tag"))
    val head = TxTable.commitDelete(spark, root, Seq(1L).toDF("k"), Seq("k"), cdf = true)

    val ch = TxTable.readChanges(spark, root, 0L, head)
    // fold the feed key-wise: last insert/update_postimage wins, delete kills
    val lastState = ch.filter(col("_change_type").isin("insert", "update_postimage", "delete"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("k")
          .orderBy(col("_commit_version").desc)))
      .filter(col("__rn") === 1 && col("_change_type") =!= "delete")
      .select("k", "x", "tag")
    val replayed = lastState.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sortBy(_._1).toSeq
    val actual = TxTable.read(spark, root).select("k", "x", "tag")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sortBy(_._1).toSeq
    assert(replayed === actual, "feed fold must equal the head snapshot")
    assert(actual === Seq((2L, 99.0, "b"), (3L, 30.0, "c"), (4L, 40.0, "d")),
      "EXCLUDED-wins x, preserved tag, appended row present, deleted key gone")

    // the update recorded both images with the right values
    val images = ch.filter(col("k") === 2L && col("_commit_version") === 2L)
      .select("_change_type", "x").collect().map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    assert(images === Seq(("update_postimage", 99.0), ("update_preimage", 20.0)))

    // a version window selects only that window's changes
    val w = TxTable.readChanges(spark, root, head - 1, head)
    assert(w.select("_change_type").collect().map(_.getString(0)).toSeq === Seq("delete"))
  }

  test("ivm: keys that zero out leave the view; updates move only their key") {
    val root = newRoot()
    val view = newRoot()
    import graft.engine.Ivm
    val v1 = TxTable.commitMerge(spark, root,
      Seq((1L, 10.0, "u1"), (2L, 5.0, "u1"), (3L, 7.0, "u2")).toDF("id", "x", "u"),
      Seq("id"), Seq("x"), Seq("u"), cdf = true)
    Ivm.refreshSumCount(spark, root, view, 0L, v1, "u", "x")
    def viewRows() = TxTable.read(spark, view)
      .select(col("u"), col("n"), col("sum").cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(viewRows() === Seq(("u1", 2L, 15.0), ("u2", 1L, 7.0)))
    val v2 = TxTable.commitDelete(spark, root, Seq(1L, 2L).toDF("id"), Seq("id"), cdf = true)
    Ivm.refreshSumCount(spark, root, view, v1, v2, "u", "x")
    assert(viewRows() === Seq(("u2", 1L, 7.0)), "u1 zeroed out and must leave the view")
    val v3 = TxTable.commitMerge(spark, root, Seq((3L, 9.0, "IGNORED")).toDF("id", "x", "u"),
      Seq("id"), Seq("x"), Seq("u"), cdf = true)
    Ivm.refreshSumCount(spark, root, view, v2, v3, "u", "x")
    assert(viewRows() === Seq(("u2", 1L, 9.0)), "the update must move u2's sum only")
  }

  test("deletion vectors: no rewrite, re-insert visible, compact materializes") {
    val root = newRoot()
    def dataSegs() = new java.io.File(root + "/data").listFiles.count(_.isDirectory)
    TxTable.commitAppend(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    TxTable.commitAppend(spark, root, Seq((3L, "c"), (4L, "d")).toDF("k", "v"))
    val before = dataSegs()
    val v = TxTable.commitDeleteVectors(spark, root, Seq(2L, 3L).toDF("k"), Seq("k"))
    assert(dataSegs() === before, "a DV delete must not touch data segments")
    def rows() = TxTable.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(rows() === Seq((1L, "a"), (4L, "d")))
    assert(TxTable.readVersion(spark, root, v - 1)
      .count() === 4, "time travel to the pre-DV snapshot sees every row")
    // a re-inserted tombstoned key lands in a segment the DV does not
    // scope: it must be visible
    val reinserted = TxTable.commitAppend(spark, root, Seq((2L, "b2")).toDF("k", "v"))
    assert(rows() === Seq((1L, "a"), (2L, "b2"), (4L, "d")))
    // ...through every DV consumer, not only the full read
    def kv(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val two = java.math.BigDecimal.valueOf(2L)
    assert(kv(TxTable.readWhereEquals(spark, root, "k", 2L)) === Seq((2L, "b2")))
    assert(kv(TxTable.readWhere(spark, root, "k", two, two)) === Seq((2L, "b2")))
    assert(kv(TxTable.readVersion(spark, root, reinserted)) ===
      Seq((1L, "a"), (2L, "b2"), (4L, "d")))
    // stacked second DV
    TxTable.commitDeleteVectors(spark, root, Seq(4L).toDF("k"), Seq("k"))
    assert(rows() === Seq((1L, "a"), (2L, "b2")))
    // compaction reads through the DVs and publishes a DV-free manifest;
    // vacuum then collects the sidecars
    TxTable.compactTx(spark, root)
    assert(rows() === Seq((1L, "a"), (2L, "b2")))
    TxTable.vacuum(spark, root, keepVersions = 1)
    assert(!new java.io.File(root + "/dv").exists() ||
      new java.io.File(root + "/dv").listFiles.isEmpty,
      "materialized DV sidecars must age out with their manifests")
    assert(rows() === Seq((1L, "a"), (2L, "b2")))
  }

  private def scans(df: org.apache.spark.sql.DataFrame, dir: String) =
    df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains(s"/$dir/")) => s
    }

  test("deletion vectors: DV'd point and range reads push their filter to parquet") {
    val root = newRoot()
    TxTable.commitAppend(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      statsCols = Seq("id"))
    TxTable.commitAppend(spark, root, Seq((3L, "c"), (4L, "d")).toDF("id", "v"),
      statsCols = Seq("id"))
    TxTable.commitDeleteVectors(spark, root, Seq(2L).toDF("id"), Seq("id"))
    val lo = java.math.BigDecimal.valueOf(1L)
    val hi = java.math.BigDecimal.valueOf(3L)
    for ((name, df) <- Seq(
        "readWhereEquals" -> TxTable.readWhereEquals(spark, root, "id", 3L),
        "readWhere" -> TxTable.readWhere(spark, root, "id", lo, hi))) {
      val data = scans(df, "data")
      assert(data.nonEmpty, s"$name planned no data scan")
      data.foreach { s =>
        assert(s.dataFilters.exists(_.references.exists(_.name == "id")),
          s"$name: the id predicate stayed above the scan:\n${df.queryExecution.sparkPlan}")
        assert(s.metadata.getOrElse("PushedFilters", "").contains("id"),
          s"$name: the id predicate was not pushed to parquet: ${s.metadata}")
      }
      assert(data.size === 1, s"$name must scan its segments once")
      assert(scans(df, "dv").isEmpty, s"$name must apply the DV without scanning it")
    }
    assert(TxTable.readWhere(spark, root, "id", lo, hi).select("id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 3L))
  }

  test("deletion vectors: a read scans every segment once and plans no DV scan") {
    val root = newRoot()
    (1 to 6).foreach(i =>
      TxTable.commitAppend(spark, root, Seq((i.toLong, s"v$i")).toDF("k", "v")))
    TxTable.commitDeleteVectors(spark, root, Seq(2L, 5L).toDF("k"), Seq("k"))
    assert(headDvs(root).map(_._2).distinct.size === 2, "one DV per hit segment")
    val one = java.math.BigDecimal.ONE
    for ((name, df) <- Seq(
        "read" -> TxTable.read(spark, root),
        "readWhere" -> TxTable.readWhere(spark, root, "k", one, one),
        "readWhereEquals" -> TxTable.readWhereEquals(spark, root, "k", 1L))) {
      assert(scans(df, "dv").isEmpty,
        s"$name planned a scan of a DV file:\n${df.queryExecution.sparkPlan}")
      val data = scans(df, "data")
      assert(data.size === 1 && data.head.relation.location.rootPaths.size === 6,
        s"$name must scan the six segments in one scan:\n${df.queryExecution.sparkPlan}")
    }
    assert(TxTable.read(spark, root).select("k").as[Long].collect().sorted.toSeq ===
      Seq(1L, 3L, 4L, 6L))
  }

  test("no source file under src/main tags rows with input_file_name") {
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val main = new java.io.File("src/main")
    assert(main.isDirectory, s"run from the repository root: ${main.getAbsolutePath}")
    val users = scalaFiles(main)
      .filter(f => java.nio.file.Files.readString(f.toPath).contains("input_file_name"))
    assert(users.isEmpty, "input_file_name() is nondeterministic and blocks filter " +
      s"pushdown; read `_metadata.file_path` instead: ${users.mkString(", ")}")
    // partition swaps go through Upsert's rename swap, not dynamic overwrite
    val overwriters = scalaFiles(main)
      .filter(f => java.nio.file.Files.readString(f.toPath).contains("partitionOverwriteMode"))
    assert(overwriters.isEmpty, s"dynamic partition overwrite in ${overwriters.mkString(", ")}")
    // keyed commits find their rows through one probe, reads apply DVs in
    // one place, and merge makes one upsert call
    def calls(src: String, needle: String) =
      needle.r.findAllMatchIn(src).count(m => !src.take(m.start).endsWith("def "))
    val tx = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/engine/TxTable.scala"))
    assert(calls(tx, "col\\(\"_metadata\\.row_index\"\\)") === 2,
      "row positions are read only by readLive's DV filter and the probe")
    assert(!tx.contains("hitSegments"), "TxTable.scala still contains hitSegments")
    assert(calls(tx, "Upsert\\.upsert\\(") === 1, "Upsert.upsert( call sites in TxTable")
    // one commit loop: no retry decided by message text, no per-caller
    // retry knobs, no footer-swept schema, and one backoff
    for (gone <- Seq("getMessage.contains", "expectVersion", "maxRetries", "mergeSchema"))
      assert(!tx.contains(gone), s"TxTable.scala still contains $gone")
    assert("Thread\\.sleep\\(".r.findAllMatchIn(tx).size === 1, "Thread.sleep( sites in TxTable")
  }

  test("compactDeltaN from version 0 refuses a fully DV-deleted table, head stays readable") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq((1L, 1L), (2L, 2L)).toDF("k", "g"))
    val v = TxTable.commitDeleteVectors(spark, root, Seq(1L, 2L).toDF("k"), Seq("k"))
    intercept[IllegalArgumentException](
      TxTable.compactDeltaN(spark, root, Seq("g"), sinceVersion = 0L))
    assert(TxTable.latestVersion(spark, root) === Some(v))
    assert(TxTable.read(spark, root).count() === 0)
  }

  test("deletion vectors: merge carries scoping; cdf records deleted rows") {
    val root = newRoot()
    TxTable.commitMerge(spark, root, Seq((1L, 1.0), (2L, 2.0)).toDF("k", "x"),
      Seq("k"), Seq("x"), Nil)
    TxTable.commitAppend(spark, root, Seq((3L, 3.0), (4L, 4.0)).toDF("k", "x"))
    val v = TxTable.commitDeleteVectors(spark, root, Seq(2L, 4L).toDF("k"),
      Seq("k"), cdf = true)
    val ch = TxTable.readChanges(spark, root, v - 1, v)
    assert(ch.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("delete"))
    assert(ch.select("k").collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 4L))
    // a merge updating key 3 adds key 3's old position to its segment's
    // DV: the union must keep suppressing key 4 there, and key 2's DV on
    // the other segment carries over untouched
    TxTable.commitMerge(spark, root, Seq((3L, 30.0)).toDF("k", "x"),
      Seq("k"), Seq("x"), Nil)
    assert(TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      === Seq((1L, 1.0), (3L, 30.0)))
  }

  test("join-view ivm: dim updates move contributions between groups; replay no-ops") {
    val fact = newRoot(); val dim = newRoot(); val view = newRoot()
    import graft.engine.Ivm
    def refresh(ff: Long, ft: Long, df0: Long, dt: Long): Long =
      Ivm.refreshJoinSumCount(spark, fact, dim, view, ff, ft, df0, dt,
        "k", "k", "g", "x")
    def viewRows() = TxTable.read(spark, view)
      .select(col("g"), col("n"), col("sum").cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val f1 = TxTable.commitMerge(spark, fact,
      Seq((1L, 10.0, 100L), (2L, 5.0, 100L), (3L, 7.0, 200L), (4L, 2.0, 999L))
        .toDF("id", "x", "k"),
      Seq("id"), Seq("x"), Seq("k"), cdf = true)
    val d1 = TxTable.commitMerge(spark, dim,
      Seq((100L, "a"), (200L, "b")).toDF("k", "g"),
      Seq("k"), Seq("g"), Nil, cdf = true)
    refresh(0L, f1, 0L, d1)
    // key 999 has no dim match: the inner-join view must not see it
    assert(viewRows() === Seq(("a", 2L, 15.0), ("b", 1L, 7.0)))
    // dim update moves key 200 from group b to group a: fact row 3's
    // contribution must migrate with NO fact change in the window
    val d2 = TxTable.commitMerge(spark, dim, Seq((200L, "a")).toDF("k", "g"),
      Seq("k"), Seq("g"), Nil, cdf = true)
    refresh(f1, f1, d1, d2)
    assert(viewRows() === Seq(("a", 3L, 22.0)), "group b zeroed out and left")
    // replaying an applied window is a no-op (exactly-once horizon)
    val head = refresh(f1, f1, d1, d2)
    assert(refresh(f1, f1, d1, d2) === head)
    assert(viewRows() === Seq(("a", 3L, 22.0)))
    // dim delete retracts every joined fact row of that key
    val d3 = TxTable.commitDelete(spark, dim, Seq(100L).toDF("k"), Seq("k"), cdf = true)
    refresh(f1, f1, d2, d3)
    assert(viewRows() === Seq(("a", 1L, 7.0)), "only key 200's row survives")
  }

  test("change data feed: un-recorded commits refuse, vacuum ages cdc out") {
    val root = newRoot()
    TxTable.commitMerge(spark, root, Seq((1L, 1.0)).toDF("k", "x"),
      Seq("k"), Seq("x"), Nil, cdf = true)
    TxTable.commitMerge(spark, root, Seq((1L, 2.0)).toDF("k", "x"),
      Seq("k"), Seq("x"), Nil) // cdf NOT requested
    val e = intercept[IllegalArgumentException](
      TxTable.readChanges(spark, root, 0L, 2L).count())
    assert(e.getMessage.contains("no change data"))

    val head = TxTable.commitMerge(spark, root, Seq((1L, 3.0)).toDF("k", "x"),
      Seq("k"), Seq("x"), Nil, cdf = true)
    // the INSERT-ONLY bootstrap records its data segment as the change set
    // (an `insert:` manifest reference) — no duplicate cdc copy on disk;
    // only the v3 update merge wrote a real cdc segment
    assert(new java.io.File(root + "/cdc").listFiles.count(_.isDirectory) === 1)
    assert(TxTable.readChanges(spark, root, 0L, 1L)
      .select("_change_type").collect().map(_.getString(0)).toSeq === Seq("insert"),
      "the referenced bootstrap change set must read back as inserts")
    TxTable.vacuum(spark, root, keepVersions = 1)
    assert(new java.io.File(root + "/cdc").listFiles.count(_.isDirectory) === 1,
      "vacuum must drop cdc segments of dropped manifests and keep the head's")
    assert(TxTable.readChanges(spark, root, head - 1, head).count() === 2,
      "head commit's change set (pre+post image) must survive its vacuum")
  }

  test("restore re-publishes an old snapshot as a forward commit, zero-copy") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    TxTable.commitMerge(spark, root, Seq((2L, "B2"), (3L, "c")).toDF("k", "v"),
      Seq("k"), Seq("v"), Nil)
    TxTable.commitDelete(spark, root, Seq(1L).toDF("k"), Seq("k"))
    def dataSegs() = new java.io.File(root + "/data").listFiles.count(_.isDirectory)
    val before = dataSegs()
    val v = TxTable.restore(spark, root, 1L)
    assert(v === 4L, "restore must be a forward commit, not history rewriting")
    assert(dataSegs() === before, "restore must not write any data segment")
    assert(TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      === Seq((1L, "a"), (2L, "b")), "head must equal the restored snapshot")
    // the undone versions stay time-travelable until vacuum
    assert(TxTable.readVersion(spark, root, 3L).count() === 2)
    // the change feed reports the restore like an overwrite
    val ch = TxTable.readChanges(spark, root, 3L, 4L)
    assert(ch.select("_change_type").distinct().collect()
      .map(_.getString(0)).sorted.toSeq === Seq("delete", "insert"))
    // history continues normally on top of a restore
    TxTable.commitAppend(spark, root, Seq((9L, "z")).toDF("k", "v"))
    assert(TxTable.read(spark, root).count() === 3)
    // a vacuumed version refuses to restore (no dangling segment refs)
    TxTable.vacuum(spark, root, keepVersions = 1)
    intercept[Exception](TxTable.restore(spark, root, 2L))
  }

  test("readWhereEquals applies deletion vectors: tombstoned key is invisible") {
    val root = newRoot()
    TxTable.commitAppend(spark, root, (1L to 100L).toDF("k"), bloomCols = Seq("k"))
    TxTable.commitAppend(spark, root, (101L to 200L).toDF("k"), bloomCols = Seq("k"))
    TxTable.commitDeleteVectors(spark, root, Seq(50L, 150L).toDF("k"), Seq("k"))
    assert(TxTable.readWhereEquals(spark, root, "k", 50L).count() === 0,
      "a Bloom HIT on a DV-tombstoned key must still return nothing — " +
        "readWhereEquals is contractually identical to read().filter(k === v)")
    assert(TxTable.readWhereEquals(spark, root, "k", 51L).count() === 1)
    // a re-insert of a tombstoned key lands outside the DV's segment scope
    TxTable.commitAppend(spark, root, Seq(50L).toDF("k"), bloomCols = Seq("k"))
    assert(TxTable.readWhereEquals(spark, root, "k", 50L).count() === 1,
      "DV scoping: the re-inserted row's segment predates no DV")
  }

  test("compactZOrder carries the full tracked stat set: blooms survive OPTIMIZE") {
    val root = newRoot()
    def seg(lo: Long, hi: Long) = (lo to hi).toDF("k")
      .withColumn("a", (col("k") % 7).cast("long"))
      .withColumn("b", (col("k") % 11).cast("long"))
      .withColumn("h", md5(col("k").cast("string")))
    TxTable.commitAppend(spark, root, seg(1, 300),
      statsCols = Seq("k"), bloomCols = Seq("h"))
    TxTable.commitAppend(spark, root, seg(301, 600),
      statsCols = Seq("k"), bloomCols = Seq("h"))
    TxTable.compactZOrder(spark, root, "a", "b", numSegments = 4)
    val log = new java.io.File(root + "/_txlog")
    val headManifest = new String(java.nio.file.Files.readAllBytes(
      log.listFiles.filter(_.getName.endsWith(".json"))
        .maxBy(_.getName).toPath))
    assert(headManifest.contains("h#bloom"),
      "the compacted manifest must still record the head's tracked Blooms")
    // and the point lookup still PRUNES via the rebuilt per-segment blooms
    // (pre-fix: stats only on (a, b) — no blooms — so every segment scanned)
    val probe = seg(42, 42).select("h").collect().head.getString(0)
    val hit = TxTable.readWhereEquals(spark, root, "h", probe)
    assert(hit.count() === 1)
    assert(hit.inputFiles.map(_.replaceAll("/[^/]*$", "")).toSet.size < 4,
      "Bloom point-lookup pruning must survive OPTIMIZE ZORDER")
  }

  test("commitOverwriteClustered: one-pass clustered CTAS prunes like OPTIMIZE") {
    val root = newRoot()
    val df = (1L to 400L).toDF("k")
      .withColumn("a", (col("k") % 19).cast("long"))
      .withColumn("b", (col("k") / 20).cast("long"))
    val v = TxTable.commitOverwriteClustered(spark, root, df, Seq("a", "b"),
      numSegments = 8, statsCols = Seq("k"))
    assert(v === 1L)
    // contents identical to a plain overwrite
    assert(TxTable.read(spark, root).select("k").as[Long].collect().sorted
      === (1L to 400L).toArray)
    // a narrow predicate on EITHER clustering dimension prunes segments
    // on the VERY FIRST version — no OPTIMIZE pass ever ran
    def scanned(c: String, lo: Long, hi: Long) =
      TxTable.readWhere(spark, root, c,
        new java.math.BigDecimal(lo), new java.math.BigDecimal(hi))
        .inputFiles.map(_.replaceAll("/[^/]*$", "")).toSet.size
    val total = TxTable.read(spark, root)
      .inputFiles.map(_.replaceAll("/[^/]*$", "")).toSet.size
    assert(total > 1, "clustered CTAS must produce multiple segments")
    assert(scanned("a", 2, 3) < total, "dimension a must prune")
    assert(scanned("b", 2, 3) < total, "dimension b must prune")
    // extra statsCols tracked too, and overwrite semantics hold: a second
    // clustered CTAS replaces the table as version 2
    assert(scanned("k", 1, 40) < total, "statsCols k must prune")
    assert(TxTable.tableSchema(spark, root).isDefined,
      "a clustered CTAS must record its schema, or every read sweeps footers")
    // the replacement states its own schema: an added column reads back
    val v2 = TxTable.commitOverwriteClustered(spark, root,
      df.filter(col("k") <= 100).withColumn("extra", col("k") * 2),
      Seq("a", "b"), numSegments = 4)
    assert(v2 === 2L && TxTable.read(spark, root).count() === 100)
    assert(TxTable.read(spark, root).agg(sum("extra")).head.getLong(0) === 10100L,
      "a clustered overwrite must publish the new frame's columns")
    assert(TxTable.readVersion(spark, root, 1L).count() === 400,
      "snapshot isolation across clustered overwrites")
  }

  test("an orphaned claim above head is honored while fresh, reaped once stale") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq(1L).toDF("k"))
    // a committer died between claiming v2 and renaming its manifest in
    val orphan = new java.io.File(root + "/_txlog/v0000000002.claim")
    java.nio.file.Files.createFile(orphan.toPath)
    spark.conf.set("spark.graft.tx.staleClaimMs", "3600000")
    try {
      // fresh claim + single-attempt CAS path: fails cleanly, no clobber
      intercept[Exception](TxTable.compactTx(spark, root))
      assert(orphan.exists(), "a fresh claim must not be reaped")
      // stale claim: the retrying append reaps it and lands on the slot
      spark.conf.set("spark.graft.tx.staleClaimMs", "1")
      Thread.sleep(50)
      val v = TxTable.commitAppend(spark, root, Seq(2L).toDF("k"))
      assert(v === 2L, "the reaped slot must be claimable again")
      assert(TxTable.read(spark, root).as[Long].collect().sorted.toSeq === Seq(1L, 2L))
      // vacuum reaps stale orphans above head too
      val orphan9 = new java.io.File(root + "/_txlog/v0000000009.claim")
      java.nio.file.Files.createFile(orphan9.toPath)
      Thread.sleep(50)
      TxTable.vacuum(spark, root)
      assert(!orphan9.exists(), "vacuum must reap stale claims above head")
    } finally spark.conf.unset("spark.graft.tx.staleClaimMs")
  }

  test("late publish after a reap cannot overwrite the winner's manifest") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq(1L).toDF("k"))
    // the stalled committer: claimed v2, fully wrote its manifest to a temp
    // file, then paused past the stale horizon (GC stall / network hang)
    val logDir = new java.io.File(root + "/_txlog")
    java.nio.file.Files.createFile(new java.io.File(logDir, "v0000000002.claim").toPath)
    val stalledTmp = new java.io.File(logDir, ".tmp-stalled-committer")
    java.nio.file.Files.writeString(stalledTmp.toPath, """{"stalled":"manifest"}""")
    spark.conf.set("spark.graft.tx.staleClaimMs", "1")
    try {
      Thread.sleep(50)
      // a new committer reaps the stale claim and wins slot v2
      assert(TxTable.commitAppend(spark, root, Seq(2L).toDF("k")) === 2L)
      val target = new java.io.File(logDir, "v0000000002.json")
      val winner = java.nio.file.Files.readString(target.toPath)
      // the stalled committer wakes and publishes into the slot it still
      // believes it owns: POSIX rename(2) would silently OVERWRITE the
      // winner (a lost acknowledged commit); the exclusive publish must
      // refuse and leave the winner byte-identical
      val f = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
      val ok = TxTable.publishExclusive(spark, f,
        new org.apache.hadoop.fs.Path(stalledTmp.getAbsolutePath),
        new org.apache.hadoop.fs.Path(target.getAbsolutePath))
      assert(!ok, "the late publisher must lose the slot, not silently win")
      assert(java.nio.file.Files.readString(target.toPath) === winner,
        "the acknowledged winner manifest must survive the late publish")
      // This local-FS guarantee (and HDFS's rename contract) is as far as
      // filesystem APIs go: S3A rename is check-then-copy, NOT atomic —
      // PublishArbiter is the pluggable boundary an S3 deployment fills
      // with an external conditional-put arbiter (PublishArbiterSpec pins
      // the racing-publisher contract against a simulated store).
      assert(TxTable.read(spark, root).as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    } finally spark.conf.unset("spark.graft.tx.staleClaimMs")
  }

  test("vacuum retention boundary: time travel/restore to an aged-out version fails loudly") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq(1L).toDF("k"))      // v1
    TxTable.commitAppend(spark, root, Seq(2L).toDF("k"))         // v2
    TxTable.commitAppend(spark, root, Seq(3L).toDF("k"))         // v3
    TxTable.commitAppend(spark, root, Seq(4L).toDF("k"))         // v4
    TxTable.vacuum(spark, root, keepVersions = 2)                // keeps v3, v4
    // retained versions still travel
    assert(TxTable.readVersion(spark, root, 3).count() === 3)
    // aged-out version: loud, named — not an opaque FileNotFound, never a
    // half-table resurrected from whatever segments happen to survive
    val e1 = intercept[IllegalStateException](
      TxTable.readVersion(spark, root, 1).count())
    assert(e1.getMessage.contains("v1") && e1.getMessage.contains("retained"),
      s"boundary error must name the version and the horizon: ${e1.getMessage}")
    val head = TxTable.latestVersion(spark, root).get
    val e2 = intercept[IllegalStateException](TxTable.restore(spark, root, 2))
    assert(e2.getMessage.contains("v2"), s"restore must name it too: ${e2.getMessage}")
    assert(TxTable.latestVersion(spark, root).get === head,
      "a refused restore must not burn a version slot")
    // CDF across the vacuumed range fails the same named way
    val e3 = intercept[IllegalStateException](
      TxTable.readChanges(spark, root, 0, 2).count())
    assert(e3.getMessage.contains("retention"), e3.getMessage)
    // restore to a RETAINED version still works after vacuum
    val rv = TxTable.restore(spark, root, 3)
    assert(rv === head + 1)
    assert(TxTable.read(spark, root).as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("8 concurrent writers, mixed append/merge/DV-delete/compact: linearizable, no lost commits") {
    // full protocol mix under real thread contention: each thread owns its
    // key space, so the final snapshot is deterministic under ANY
    // interleaving — what a 100-node cluster needs from the commit
    // protocol.  t%4==0: appends + a compaction (materializes outstanding
    // DVs mid-run); t%4==1: appends + an insert-only MERGE; t%4==2:
    // append, then DV-DELETE of that key; t%4==3: pure appends.
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq((0L, 0L)).toDF("t", "k"))
    val nThreads = 8; val perThread = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    val gate = new java.util.concurrent.CountDownLatch(1)
    def retrying(op: () => Long): Long = {
      var out = -1L; var tries = 0
      while (out < 0) {
        // caller-level retry on the optimistic-CAS losses a real job retries
        // (head-moved / out-of-retries are IllegalArgumentException by design)
        try out = op()
        catch { case _: IllegalArgumentException =>
          tries += 1; assert(tries < 60, "livelock in commit retry"); Thread.sleep(20) }
      }
      out
    }
    val futures = (1 to nThreads).map { t =>
      pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
        def call(): Seq[Long] = {
          gate.await()
          (1 to perThread).map { i =>
            (t % 4, i) match {
              case (0, 2) => retrying(() => TxTable.compactTx(spark, root))
              case (1, 2) => retrying(() => TxTable.commitMerge(spark, root,
                Seq((t.toLong, 102L)).toDF("t", "k"), Seq("t", "k"), Nil, Nil))
              case (2, 2) => retrying(() => TxTable.commitDeleteVectors(spark, root,
                Seq((t.toLong, 1L)).toDF("t", "k"), Seq("t", "k")))
              case _ => retrying(() => TxTable.commitAppend(spark, root,
                Seq((t.toLong, i.toLong)).toDF("t", "k")))
            }
          }
        }
      })
    }
    gate.countDown()
    val versions = futures.flatMap(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    // linearizable: 24 successful commits must own exactly slots v2..v25 —
    // no duplicates (two writers acknowledged for one slot = lost commit),
    // no gaps (a version burned without a surviving manifest)
    assert(versions.distinct.size === versions.size,
      s"two commits acknowledged the same version: ${versions.sorted}")
    assert(versions.sorted === (2L to (1L + versions.size)).toSeq,
      s"version sequence must be contiguous: ${versions.sorted}")
    // deterministic final state: owned inserts minus owned DV-deletes,
    // whatever the interleaving with compactions/merges
    val expected = ((0L, 0L) +: (1 to nThreads).flatMap { t =>
      t % 4 match {
        case 0 => Seq((t.toLong, 1L), (t.toLong, 3L))
        case 1 => Seq((t.toLong, 1L), (t.toLong, 3L), (t.toLong, 102L))
        case 2 => Seq((t.toLong, 3L)) // (t, 1) appended then DV-tombstoned
        case _ => Seq((t.toLong, 1L), (t.toLong, 2L), (t.toLong, 3L))
      }
    }).sorted
    val rows = TxTable.read(spark, root).as[(Long, Long)].collect().sorted.toSeq
    assert(rows === expected,
      "every acknowledged write must be in the final snapshot, every DV-delete honored")
  }

  test("restore carries the target era's deletion vectors: tombstones stay invisible") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, (1L to 6L).map(k => (k, s"v$k")).toDF("k", "v")) // v1
    TxTable.commitDeleteVectors(spark, root, Seq(2L, 4L).toDF("k"), Seq("k"))            // v2: DV
    TxTable.commitAppend(spark, root, Seq((9L, "x")).toDF("k", "v"))                     // v3
    TxTable.restore(spark, root, 2L)                                                     // v4 = v2 again
    val got = TxTable.read(spark, root).select("k").as[Long].collect().sorted.toSeq
    assert(got === Seq(1L, 3L, 5L, 6L),
      "the restored head must re-apply v2's deletion vectors, not resurrect tombstoned keys")
  }

  test("merge with zero matching keys on a single-segment head still lands exactly") {
    // pins the single-segment fast path: the hit probe is skipped, so the
    // no-hit case rewrites the one segment merged with the incoming batch —
    // rows must be the exact union, the version must advance once, and a
    // second identical merge must overwrite (not duplicate) those keys
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val v2 = TxTable.commitMerge(spark, root, Seq((10L, "x"), (11L, "y")).toDF("k", "v"),
      Seq("k"), Seq("v"), Nil)
    assert(v2 === 2L)
    assert(TxTable.read(spark, root).as[(Long, String)].collect().sorted.toSeq ===
      Seq((1L, "a"), (2L, "b"), (10L, "x"), (11L, "y")))
    TxTable.commitMerge(spark, root, Seq((10L, "x2")).toDF("k", "v"), Seq("k"), Seq("v"), Nil)
    assert(TxTable.read(spark, root).as[(Long, String)].collect().sorted.toSeq ===
      Seq((1L, "a"), (2L, "b"), (10L, "x2"), (11L, "y")))
  }

  test("racing appenders with different compatible schemas both land; reads null-fill") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq((1L, "a")).toDF("k", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val gate = new java.util.concurrent.CountDownLatch(1)
    // one appender adds a column, the other omits one — both compatible
    // with the base (additive evolution); the final schema is the union
    // whichever order the claim race resolves in
    val fa = pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = { gate.await()
        TxTable.commitAppend(spark, root, Seq((2L, "b", 7.5)).toDF("k", "v", "w")) }
    })
    val fb = pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = { gate.await()
        TxTable.commitAppend(spark, root, Seq(3L).toDF("k")) }
    })
    gate.countDown()
    val (va, vb) = (fa.get(), fb.get()); pool.shutdown()
    assert(Set(va, vb) === Set(2L, 3L))
    val head = TxTable.read(spark, root)
    assert(head.columns.sorted.toSeq === Seq("k", "v", "w"),
      "the surviving schema must be the union of both racers'")
    val rows = head.select("k", "v", "w")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).sortBy(_._1)
    assert(rows.toSeq === Seq(
      (1L, Some("a"), None), (2L, Some("b"), Some(7.5)), (3L, None, None)),
      "missing columns must read NULL, present values must survive verbatim")
  }

  test("ivm refresh is crash-atomic: replay after the delete-half converges") {
    val root = newRoot(); val view = newRoot()
    import graft.engine.Ivm
    val v1 = TxTable.commitMerge(spark, root,
      Seq((1L, 10.0, "u1"), (2L, 5.0, "u1"), (3L, 7.0, "u2")).toDF("id", "x", "u"),
      Seq("id"), Seq("x"), Seq("u"), cdf = true)
    Ivm.refreshSumCount(spark, root, view, 0L, v1, "u", "x")
    val v2 = TxTable.commitDelete(spark, root, Seq(1L, 2L).toDF("id"), Seq("id"), cdf = true)
    // simulate the refresh dying AFTER its delete commit but BEFORE the
    // horizon-latching merge: apply the delete half by hand (u1 zeroes out)
    TxTable.commitDelete(spark, view, Seq("u1").toDF("u"), Seq("u"))
    assert(TxTable.lastCommittedBatch(spark, view) === Some(v1),
      "the applied-through horizon must NOT advance before the final commit")
    // the replayed window must converge to the from-scratch state
    Ivm.refreshSumCount(spark, root, view, v1, v2, "u", "x")
    val got = TxTable.read(spark, view)
      .select(col("u"), col("n"), col("sum").cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(got === Seq(("u2", 1L, 7.0)),
      "replay after a half-applied refresh: no stale zeroed rows, no double-apply")
    assert(TxTable.lastCommittedBatch(spark, view) === Some(v2),
      "the horizon latches on the final merge commit")
  }

  test("versionAsOf resolves publish instants monotonically; vacuumed eras fail loudly") {
    val root = newRoot()
    def slice(a: Long, b: Long) = (a to b).map(i => (i, i * 10)).toDF("k", "v")
    def mtime(v: Long) =
      new java.io.File(f"$root%s/_txlog/v$v%010d.json").lastModified
    TxTable.commitOverwrite(spark, root, slice(1, 10))
    val t1 = mtime(1); Thread.sleep(25)
    TxTable.commitAppend(spark, root, slice(11, 20))
    val t2 = mtime(2); Thread.sleep(25)
    TxTable.commitAppend(spark, root, slice(21, 30))
    assert(TxTable.versionAsOf(spark, root, t1) === 1)
    assert(TxTable.versionAsOf(spark, root, t2) === 2)
    assert(TxTable.versionAsOf(spark, root, System.currentTimeMillis() + 1000) === 3)
    assert(TxTable.readAsOf(spark, root, t2).count() === 20,
      "TIMESTAMP AS OF must read the era's snapshot, not the head")
    intercept[IllegalArgumentException](
      TxTable.versionAsOf(spark, root, t1 - 86400000L))
    // vacuum drops v1: its publish instant is no longer resolvable — the
    // error names the retention boundary instead of resolving to v2
    TxTable.vacuum(spark, root, keepVersions = 2)
    val e = intercept[IllegalArgumentException](
      TxTable.versionAsOf(spark, root, t1))
    assert(e.getMessage.contains("earliest retained"),
      s"must name the retention boundary: ${e.getMessage}")
    assert(TxTable.versionAsOf(spark, root, t2) === 2,
      "retained eras keep resolving after vacuum")
  }

  test("stats sidecar: past the inline budget stats shard to a per-commit " +
    "file; pruning/carry/restore load it, vacuum scopes it, thin reads never touch it") {
    val root = newRoot()
    def bd(i: Int) = new java.math.BigDecimal(i)
    def segsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.inputFiles.map(f => f.replaceAll("/[^/]*$", "")).toSet
    def slice(a: Long, b: Long) = (a to b).map(i => (i, i * 10)).toDF("k", "v")
    def manifestText(v: Long) = java.nio.file.Files.readString(
      java.nio.file.Paths.get(f"$root%s/_txlog/v$v%010d.json"))
    def sidecars(): Set[String] = new java.io.File(s"$root/_txlog").listFiles
      .map(_.getName).filter(n => n.startsWith("s-") && n.endsWith(".json")).toSet
    val refRe = "\"statsRef\":\"(s-[^\"]+)\"".r
    spark.conf.set("spark.graft.tx.statsInlineMax", "0")
    try {
      TxTable.commitOverwrite(spark, root, slice(1, 100), statsCols = Seq("k"))
      TxTable.commitAppend(spark, root, slice(101, 200), statsCols = Seq("k"))
      TxTable.commitAppend(spark, root, slice(201, 300), statsCols = Seq("k"))
      assert(manifestText(3).contains("\"statsRef\":\"s-"))
      assert(!manifestText(3).contains("\"stats\":{"),
        "past the budget the manifest must stay thin — no inline stats")
      assert(sidecars().size === 3, "one sidecar per stat-carrying commit")

      // pruning fetches the sidecar; result identical to the inline path
      val mid = TxTable.readWhere(spark, root, "k", bd(150), bd(160))
      assert(segsOf(mid).size === 1, "sidecar stats must prune to one segment")
      assert(mid.count() === 11)

      // a delete rewrite CARRIES sidecar-held stats into its commit
      TxTable.commitDelete(spark, root, Seq(155L).toDF("k"), Seq("k")) // v4
      val low = TxTable.readWhere(spark, root, "k", bd(1), bd(50))
      assert(segsOf(low).size === 1 && low.count() === 50,
        "carried stats must survive a rewrite when the head held them in a sidecar")

      // restore re-publishes an old snapshot's sidecar-held stats
      TxTable.restore(spark, root, 2) // v5 ≡ v2 (rows 1..200)
      assert(segsOf(TxTable.readWhere(spark, root, "k", bd(1), bd(50))).size === 1,
        "restored head must keep pruning")

      // inline ↔ sidecar manifests interoperate within one history
      spark.conf.set("spark.graft.tx.statsInlineMax", "100000")
      TxTable.commitAppend(spark, root, slice(201, 300), statsCols = Seq("k")) // v6
      assert(manifestText(6).contains("\"stats\":{") &&
        !manifestText(6).contains("statsRef"),
        "under the budget stats inline again")
      val hi = TxTable.readWhere(spark, root, "k", bd(250), bd(260))
      assert(segsOf(hi).size === 1 && hi.count() === 11)

      // vacuum: sidecars live exactly as long as a retained manifest
      // references them; orphans (losing racers) reap once stale
      spark.conf.set("spark.graft.tx.staleClaimMs", "-1")
      val orphan = new java.io.File(s"$root/_txlog/s-orphan.json")
      java.nio.file.Files.writeString(orphan.toPath, "{\"stats\":{}}")
      TxTable.vacuum(spark, root, keepVersions = 2) // keeps v5 (sidecar), v6 (inline)
      assert(!orphan.exists, "unreferenced sidecar must reap once stale")
      val liveRefs = Seq(5L, 6L)
        .flatMap(v => refRe.findFirstMatchIn(manifestText(v)).map(_.group(1))).toSet
      assert(liveRefs.size === 1, "v5 (restore) holds the one retained sidecar")
      assert(sidecars() === liveRefs,
        "every sidecar of a vacuumed-out manifest must be gone, referenced ones kept")
      assert(segsOf(TxTable.readWhere(spark, root, "k", bd(250), bd(260))).size === 1,
        "pruning intact after vacuum")

      // damage drill: thin paths (plain read, head probes) never touch the
      // sidecar; stats consumers fail LOUDLY naming the missing file
      spark.conf.set("spark.graft.tx.statsInlineMax", "0")
      TxTable.commitAppend(spark, root, slice(301, 400), statsCols = Seq("k")) // v7
      val ref7 = refRe.findFirstMatchIn(manifestText(7)).get.group(1)
      assert(new java.io.File(s"$root/_txlog/$ref7").delete())
      assert(TxTable.read(spark, root).count() === 400,
        "a snapshot open is a thin read — it must not require the sidecar")
      assert(TxTable.lastCommittedBatch(spark, root) === None)
      val e = intercept[IllegalStateException](
        TxTable.readWhere(spark, root, "k", bd(1), bd(50)).count())
      assert(e.getMessage.contains(ref7),
        s"the damage error must name the missing sidecar: ${e.getMessage}")
    } finally {
      spark.conf.unset("spark.graft.tx.statsInlineMax")
      spark.conf.unset("spark.graft.tx.staleClaimMs")
    }
  }

  test("tags: immutable named refs that pin their snapshot against vacuum") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    TxTable.commitAppend(spark, root, Seq((3L, "c")).toDF("k", "v"))
    TxTable.commitOverwrite(spark, root, Seq((9L, "z")).toDF("k", "v"))

    intercept[Exception](TxTable.tag(spark, root, "ghost", 99L))
    intercept[IllegalArgumentException](TxTable.tag(spark, root, "bad/name", 1L))
    TxTable.tag(spark, root, "v1-cut", 1L)
    val dup = intercept[IllegalArgumentException](TxTable.tag(spark, root, "v1-cut", 2L))
    assert(dup.getMessage.contains("immutable"), "duplicate tag must lose loudly")
    assert(TxTable.tags(spark, root) === Map("v1-cut" -> 1L))
    assert(TxTable.tagVersion(spark, root, "v1-cut") === 1L)
    assert(TxTable.readTag(spark, root, "v1-cut").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "a"), (2L, "b")))

    // keepVersions=1 retains only the head — EXCEPT the tagged v1, whose
    // manifest AND data segments must survive (v3 overwrote, so v1's
    // segment is live only through the tag)
    TxTable.vacuum(spark, root, keepVersions = 1)
    assert(TxTable.readTag(spark, root, "v1-cut").count() === 2,
      "the tagged snapshot must stay fully readable past the keep window")
    intercept[Exception](TxTable.readVersion(spark, root, 2L).count())

    // dropping the tag re-enters normal retention: the next vacuum reaps
    TxTable.deleteTag(spark, root, "v1-cut")
    intercept[IllegalArgumentException](TxTable.deleteTag(spark, root, "v1-cut"))
    TxTable.vacuum(spark, root, keepVersions = 1)
    intercept[Exception](TxTable.readVersion(spark, root, 1L).count())
    assert(TxTable.read(spark, root).count() === 1, "head unaffected throughout")
  }

  test("checks: CHECK constraints gate every row-ingesting commit path") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq((1L, 10.0), (2L, 20.0)).toDF("k", "p"))

    // registration contract: bad names/expressions and already-violated
    // data are refused; a syntactically-broken expression never lands
    intercept[IllegalArgumentException](TxTable.addCheck(spark, root, "bad name", "p > 0"))
    intercept[IllegalArgumentException](TxTable.addCheck(spark, root, "q", "p > \"0\""))
    intercept[Exception](TxTable.addCheck(spark, root, "broken", "p >>> 0"))
    intercept[IllegalArgumentException](TxTable.addCheck(spark, root, "small", "k < 2"))
    TxTable.addCheck(spark, root, "pos_price", "p > 0")
    intercept[IllegalArgumentException](TxTable.addCheck(spark, root, "pos_price", "p > 1"))
    assert(TxTable.checks(spark, root) === Map("pos_price" -> "p > 0"))

    // append/overwrite/merge/clustered all refuse violating batches, and a
    // refused commit never advances the version
    val v0 = TxTable.latestVersion(spark, root).get
    val bad = Seq((3L, -1.0)).toDF("k", "p")
    val e = intercept[IllegalArgumentException](TxTable.commitAppend(spark, root, bad))
    assert(e.getMessage.contains("pos_price"), "refusal must name the constraint")
    intercept[IllegalArgumentException](TxTable.commitOverwrite(spark, root, bad))
    intercept[IllegalArgumentException](
      TxTable.commitMerge(spark, root, bad, Seq("k"), Seq("p"), Nil))
    intercept[IllegalArgumentException](
      TxTable.commitOverwriteClustered(spark, root, bad, Seq("k")))
    assert(TxTable.latestVersion(spark, root).contains(v0),
      "a refused commit must not advance the version")
    assert(TxTable.read(spark, root).count() === 2)

    // SQL CHECK semantics: NULL passes; clean batches flow through
    TxTable.commitAppend(spark, root,
      Seq((3L, Some(30.0)), (4L, None)).toDF("k", "p"))
    assert(TxTable.read(spark, root).count() === 4,
      "a NULL predicate must pass (constrain nullability explicitly)")

    // a batch that can't resolve the constraint's column fails loudly
    val noCol = intercept[IllegalArgumentException](
      TxTable.commitAppend(spark, root, Seq((5L, "x")).toDF("k", "other")))
    assert(noCol.getMessage.contains("pos_price"))

    // dropping re-opens the gate; double-drop is loud
    TxTable.dropCheck(spark, root, "pos_price")
    intercept[IllegalArgumentException](TxTable.dropCheck(spark, root, "pos_price"))
    TxTable.commitAppend(spark, root, Seq((6L, -5.0)).toDF("k", "p"))
    assert(TxTable.read(spark, root).count() === 5)
  }

  test("streamingAppendDlq: constraint routing, multi-violation tags, per-table replay") {
    val root = newRoot(); val dlq = newRoot()
    TxTable.addCheck(spark, root, "a_pos", "v > 0")
    TxTable.addCheck(spark, root, "b_cap", "v <= 10")
    val sink = TxTable.streamingAppendDlq(root, dlq) _

    // batch 0: 2 good, 1 single-violation, 1 double?? (v>0 false and v<=10
    // true for -3 — single; nothing violates both, NULL passes both)
    sink(Seq((1L, Some(5.0)), (2L, Some(7.0)), (3L, Some(-3.0)),
      (4L, Option.empty[Double])).toDF("k", "v"), 0L)
    assert(TxTable.read(spark, root).orderBy("k").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L, 4L), "NULL passes; -3 routes to the DLQ")
    val d0 = TxTable.read(spark, dlq).collect()
    assert(d0.length === 1 && d0.head.getAs[String]("dlq_checks") === "a_pos")

    // batch 1: a row violating BOTH constraints?? impossible here — use 0
    // for a_pos and 99 for b_cap; tags stay per-violation and sorted
    sink(Seq((5L, Some(0.0)), (6L, Some(99.0)), (7L, Some(1.0))).toDF("k", "v"), 1L)
    val d1 = TxTable.read(spark, dlq).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("dlq_checks")).toMap
    assert(d1 === Map(3L -> "a_pos", 5L -> "a_pos", 6L -> "b_cap"))

    // batch 2: all good — DLQ commit skipped, but its watermark gap is
    // replay-safe because the guard is >= (batch 3 then writes the DLQ)
    sink(Seq((8L, Some(2.0))).toDF("k", "v"), 2L)
    val dlqV2 = TxTable.latestVersion(spark, dlq).get
    sink(Seq((9L, Some(-9.0))).toDF("k", "v"), 3L)
    assert(TxTable.latestVersion(spark, dlq).get === dlqV2 + 1)

    // full replay of every batch with the same ids: BOTH tables no-op
    val (mv, dv) = (TxTable.latestVersion(spark, root).get,
      TxTable.latestVersion(spark, dlq).get)
    sink(Seq((1L, Some(5.0)), (3L, Some(-3.0))).toDF("k", "v"), 0L)
    sink(Seq((5L, Some(0.0))).toDF("k", "v"), 1L)
    sink(Seq((9L, Some(-9.0))).toDF("k", "v"), 3L)
    assert(TxTable.latestVersion(spark, root).contains(mv) &&
      TxTable.latestVersion(spark, dlq).contains(dv),
      "replayed batch ids must no-op both tables")
    assert(TxTable.read(spark, root).count() === 5 &&
      TxTable.read(spark, dlq).count() === 4)
  }

  test("commitDelta: insert segment + takedown DV publish as ONE version, " +
    "bit-identical to the append-then-dvdelete pair") {
    val rootA = newRoot(); val rootB = newRoot()
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
    TxTable.commitOverwrite(spark, rootA, base, statsCols = Seq("k"))
    TxTable.commitOverwrite(spark, rootB, base, statsCols = Seq("k"))
    // the delta inserts 4,5 and tombstones 2 AND 5 — the takedown of a
    // key introduced by the SAME delta must land (append-then-delete)
    val ins = Seq((4L, "d"), (5L, "e")).toDF("k", "s")
    val dels = Seq(2L, 5L).toDF("k")
    val vA0 = TxTable.latestVersion(spark, rootA).get
    val vA = TxTable.commitDelta(spark, rootA, ins, dels, Seq("k"),
      statsCols = Seq("k"))
    assert(vA === vA0 + 1, "the fused apply must publish exactly ONE version")
    TxTable.commitAppend(spark, rootB, ins, statsCols = Seq("k"))
    TxTable.commitDeleteVectors(spark, rootB, dels, Seq("k"))
    def snap(r: String) = TxTable.read(spark, r).as[(Long, String)].collect().toSet
    assert(snap(rootA) === snap(rootB), "delta must equal the two-commit pair")
    assert(snap(rootA) === Set((1L, "a"), (3L, "c"), (4L, "d")))
    // the DV reaches into the delta segment: key 5 was inserted AND
    // tombstoned in the same commit, and must be invisible to pruned reads
    assert(TxTable.readWhereEquals(spark, rootA, "k", 5L).isEmpty)
    assert(TxTable.readWhereIn(spark, rootA, "k",
      Seq(2L, 4L, 5L).map(java.math.BigDecimal.valueOf))
      .as[(Long, String)].collect().toSet === Set((4L, "d")))

    // degenerate shapes: empty tombstones publish a plain append manifest
    // (readChanges derives its inserts structurally, no cdf needed);
    // both-empty is a no-op that returns the head unchanged
    val vApp = TxTable.commitDelta(spark, rootA, Seq((6L, "f")).toDF("k", "s"),
      spark.emptyDataset[Long].toDF("k"), Seq("k"))
    val ch = TxTable.readChanges(spark, rootA, vApp - 1, vApp)
    assert(ch.select("k", "_change_type").as[(Long, String)].collect().toSet
      === Set((6L, "insert")), "tombstone-less delta must read as an append")
    val vNoop = TxTable.commitDelta(spark, rootA,
      spark.emptyDataset[(Long, String)].toDF("k", "s"),
      spark.emptyDataset[Long].toDF("k"), Seq("k"))
    assert(vNoop === vApp, "an all-empty delta must not publish")

    // exactly-once: a batch id replays as a no-op
    val vB1 = TxTable.commitDelta(spark, rootA, Seq((7L, "g")).toDF("k", "s"),
      Seq(1L).toDF("k"), Seq("k"), batch = Some(42L))
    val replay = TxTable.commitDelta(spark, rootA, Seq((8L, "h")).toDF("k", "s"),
      Seq(3L).toDF("k"), Seq("k"), batch = Some(42L))
    assert(replay === -1L && TxTable.latestVersion(spark, rootA).contains(vB1),
      "a replayed batch id must publish nothing")
    assert(snap(rootA) === Set((3L, "c"), (4L, "d"), (6L, "f"), (7L, "g")))

    // cdf: the fused commit's change feed records the inserts (by segment
    // reference) AND the takedown rows, like the two-commit pair would
    val rootC = newRoot()
    TxTable.commitOverwrite(spark, rootC, base)
    val vC = TxTable.commitDelta(spark, rootC, Seq((4L, "d")).toDF("k", "s"),
      Seq(2L, 4L).toDF("k"), Seq("k"), cdf = true)
    val chC = TxTable.readChanges(spark, rootC, vC - 1, vC)
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(chC === Set((4L, "insert"), (2L, "delete"), (4L, "delete")),
      "cdf delta must record inserts and takedowns (incl. same-commit kills)")
  }

  test("compactDeltaN: O(delta) layout fold — carries clean segments, " +
    "rescopes DVs, visible rows identical") {
    val root = newRoot()
    TxTable.commitOverwriteClustered(spark, root,
      (1L to 64L).map(k => (k, k % 8, s"v$k")).toDF("k", "g", "s"),
      Seq("g"), numSegments = 8)
    val v0 = TxTable.latestVersion(spark, root).get
    // delta: inserts + takedowns hitting base segments (7, 14) AND a key
    // the same delta introduced (102 — insert-then-delete)
    TxTable.commitDelta(spark, root,
      Seq((100L, 3L, "n1"), (101L, 5L, "n2"), (102L, 7L, "dead"))
        .toDF("k", "g", "s"),
      Seq(7L, 14L, 102L).toDF("k"), Seq("k"), statsCols = Seq("g"))
    val before = TxTable.read(spark, root)
      .as[(Long, Long, String)].collect().toSet
    assert(before.exists(_._1 == 100L) && !before.exists(_._1 == 7L))
    def segsOf() = TxTable.read(spark, root).inputFiles
      .filter(_.contains("/data/")).map(_.replaceAll("/[^/]*$", "")).toSet
    val segsBefore = segsOf()
    val v2 = TxTable.compactDeltaN(spark, root, Seq("g"),
      sinceVersion = v0, numSegments = 2)
    assert(TxTable.latestVersion(spark, root).contains(v2))
    assert(TxTable.read(spark, root).as[(Long, Long, String)].collect().toSet
      === before, "incremental optimize must be layout-only")
    val segsAfter = segsOf()
    assert((segsBefore intersect segsAfter).size === 8,
      "all 8 clean base segments must carry over byte-identical")
    assert((segsAfter diff segsBefore).nonEmpty &&
      (segsBefore diff segsAfter).size === 1,
      "exactly the delta segment is rewritten into clustered segments")
    // the rescoped DV still guards the carried base segments (7, 14 dead)
    assert(TxTable.readWhereEquals(spark, root, "k", 7L).isEmpty)
    // nothing dirty ⇒ no-op, head unchanged
    assert(TxTable.compactDeltaN(spark, root, Seq("g"),
      sinceVersion = v2) === v2)
  }

  test("checks: commitMerge enforces on the MERGED output (updated + " +
    "preserved columns combined), not the raw batch") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root,
      Seq((1L, 5.0, 10.0), (2L, 8.0, 9.0)).toDF("k", "amount", "cap"))
    TxTable.addCheck(spark, root, "under_cap", "amount <= cap")
    val v0 = TxTable.latestVersion(spark, root).get
    // the batch updates amount; its OWN cap values (ignored on conflict —
    // cap is preserved) pass the check, but the merged row 2 combines
    // amount 9.5 with the PRESERVED cap 9 — only the merged output shows it
    val bad = Seq((2L, 9.5, 100.0), (1L, 9.5, 100.0)).toDF("k", "amount", "cap")
    val e = intercept[IllegalArgumentException](
      TxTable.commitMerge(spark, root, bad, Seq("k"), Seq("amount"), Seq("cap")))
    assert(e.getMessage.contains("under_cap"), "refusal must name the check")
    assert(TxTable.latestVersion(spark, root).contains(v0) &&
      TxTable.read(spark, root).count() === 2,
      "a refused merge publishes nothing and removes its staged segment")
    // a batch that satisfies the check against the PRESERVED caps lands
    TxTable.commitMerge(spark, root,
      Seq((2L, 8.5, 100.0), (1L, 9.5, 100.0)).toDF("k", "amount", "cap"),
      Seq("k"), Seq("amount"), Seq("cap"))
    assert(TxTable.read(spark, root).filter(col("amount") > col("cap")).count() === 0)

    // commitRewriteHit enforces on the rewrite callback's output too
    val v1 = TxTable.latestVersion(spark, root).get
    val e2 = intercept[IllegalArgumentException](
      TxTable.commitRewriteHit(spark, root, Seq(1L).toDF("k"), Seq("k")) { touched =>
        touched.withColumn("amount", col("cap") + 1)
      })
    assert(e2.getMessage.contains("under_cap"))
    assert(TxTable.latestVersion(spark, root).contains(v1),
      "a refused rewrite publishes nothing")
    // commitDelta's insert side is gated like any append
    intercept[IllegalArgumentException](
      TxTable.commitDelta(spark, root, Seq((9L, 99.0, 1.0)).toDF("k", "amount", "cap"),
        spark.emptyDataset[Long].toDF("k"), Seq("k")))
    assert(TxTable.latestVersion(spark, root).contains(v1))
  }

  test("deletion vectors: 10 merges and 10 DV deletes keep one DV per segment " +
    "and every read one scan, no broadcast, no extra job") {
    val root = newRoot()
    def rows(ks: Seq[Long], rev: Int) = ks.map(k => (k, k * 10 + rev)).toDF("id", "x")
    TxTable.commitOverwrite(spark, root, rows(0L until 40L, 0), statsCols = Seq("id"),
      bloomCols = Seq("id"))
    TxTable.commitAppend(spark, root, rows(40L until 80L, 0), statsCols = Seq("id"),
      bloomCols = Seq("id"))
    for (i <- 1 to 10) {
      // updates spanning both base segments and earlier merge segments,
      // plus one insert; then a delete in the same spread
      TxTable.commitMerge(spark, root, rows(Seq(i.toLong, 40L + i, 100L + i - 1, 100L + i), i),
        Seq("id"), Seq("x"), Nil, statsCols = Seq("id"))
      TxTable.commitDeleteVectors(spark, root, Seq(20L + i, 60L + i).toDF("id"), Seq("id"))
    }
    val dvSegs = headDvs(root).map(_._2)
    assert(dvSegs.nonEmpty && dvSegs.distinct.size === dvSegs.size,
      s"at most one DV per data segment: $dvSegs")
    val model = (((0L until 80L).map(k => k -> k * 10) ++
      (1 to 10).flatMap(i => Seq(i.toLong, 40L + i, 100L + i - 1, 100L + i).map(_ -> (0L + i)))
        .map { case (k, i) => k -> (k * 10 + i) }).toMap --
      (1 to 10).flatMap(i => Seq(20L + i, 60L + i))).toSeq.sorted
    // the same rows with no DV, in one fresh segment
    val clean = newRoot()
    TxTable.commitOverwrite(spark, clean, spark.createDataFrame(model).toDF("id", "x"),
      statsCols = Seq("id"), bloomCols = Seq("id"))
    val (lo, hi) = (java.math.BigDecimal.valueOf(35L), java.math.BigDecimal.valueOf(65L))
    def reads(r: String) = Seq(
      "read" -> (() => TxTable.read(spark, r)),
      "readWhere" -> (() => TxTable.readWhere(spark, r, "id", lo, hi)),
      "readWhereEquals" -> (() => TxTable.readWhereEquals(spark, r, "id", 45L)))
    for (((name, dv), (_, noDv)) <- reads(root).zip(reads(clean))) {
      val df = dv()
      assert(scans(df, "data").size === 1, s"$name must plan one data scan")
      assert(scans(df, "dv").isEmpty, s"$name must not scan a DV file")
      assert(df.queryExecution.executedPlan.collectWithSubqueries {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }.isEmpty, s"$name must not broadcast:\n${df.queryExecution.executedPlan}")
      var got = Seq.empty[(Long, Long)]
      var want = Seq.empty[(Long, Long)]
      val jobs = ExchangeCensus.countJobs(spark) { got = dv().as[(Long, Long)].collect().sorted.toSeq }
      val base = ExchangeCensus.countJobs(spark) { want = noDv().as[(Long, Long)].collect().sorted.toSeq }
      assert(got === want, s"$name rows")
      assert(jobs <= base, s"$name ran $jobs jobs, the DV-free table $base")
    }
    assert(TxTable.read(spark, root).as[(Long, Long)].collect().sorted.toSeq === model)
  }

  test("a MERGE on a head with a DV'd and a DV-free segment runs as many jobs " +
    "as on a head with no DV") {
    def table(withDv: Boolean): String = {
      val root = newRoot()
      TxTable.commitOverwrite(spark, root, (1L to 20L).map(k => (k, 0L)).toDF("k", "x"))
      TxTable.commitAppend(spark, root, (21L to 40L).map(k => (k, 0L)).toDF("k", "x"))
      if (withDv) TxTable.commitDeleteVectors(spark, root, Seq(5L).toDF("k"), Seq("k"))
      else TxTable.commitRewriteHit(spark, root, Seq(5L).toDF("k"), Seq("k"))(_.filter(col("k") =!= 5L))
      root
    }
    val (dvRoot, cleanRoot) = (table(withDv = true), table(withDv = false))
    assert(headDvs(dvRoot).size === 1 && headDvs(cleanRoot).isEmpty)
    def merge(root: String) = ExchangeCensus.countJobs(spark) {
      TxTable.commitMerge(spark, root, Seq((3L, 1L), (30L, 1L), (99L, 1L)).toDF("k", "x"),
        Seq("k"), Seq("x"), Nil, cdf = true)
      ()
    }
    val (dvJobs, cleanJobs) = (merge(dvRoot), merge(cleanRoot))
    assert(dvJobs === cleanJobs, s"merge over a DV'd head ran $dvJobs jobs, $cleanJobs without")
    def snap(r: String) = TxTable.read(spark, r).as[(Long, Long)].collect().sorted.toSeq
    assert(snap(dvRoot) === snap(cleanRoot) && snap(dvRoot).size === 40)
  }

  test("vacuum keeps a superseded DV file while a retained manifest references it") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, (1L to 6L).map(k => (k, s"v$k")).toDF("k", "v"))
    val v2 = TxTable.commitDeleteVectors(spark, root, Seq(2L).toDF("k"), Seq("k"))
    val first = headDvs(root).map(_._1)
    TxTable.commitDeleteVectors(spark, root, Seq(4L).toDF("k"), Seq("k"))
    val union = headDvs(root).map(_._1)
    assert(first.size === 1 && union.size === 1 && first != union,
      "a second delete on the segment writes the union as a new DV file")
    def keys(df: org.apache.spark.sql.DataFrame) = df.select("k").as[Long].collect().sorted.toSeq
    TxTable.vacuum(spark, root, keepVersions = 2) // retains v2 and v3
    assert(new java.io.File(s"$root/${first.head}").isFile,
      "v2 still references the superseded DV file")
    assert(keys(TxTable.readVersion(spark, root, v2)) === Seq(1L, 3L, 4L, 5L, 6L),
      "time travel to v2 applies exactly v2's DV")
    assert(keys(TxTable.read(spark, root)) === Seq(1L, 3L, 5L, 6L))
    TxTable.commitAppend(spark, root, Seq((7L, "v7")).toDF("k", "v"))
    TxTable.vacuum(spark, root, keepVersions = 2) // retains v3 and v4
    assert(!new java.io.File(s"$root/${first.head}").exists(),
      "the superseded DV file goes once its last manifest ages out")
    assert(new java.io.File(s"$root/${union.head}").isFile)
    assert(keys(TxTable.read(spark, root)) === Seq(1L, 3L, 5L, 6L, 7L))
  }

  /** The data segments manifest `v` lists, in order. */
  private def manifestSegments(root: String, v: Long): Seq[String] = {
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(f"$root/_txlog/v$v%010d.json"))
    "\"segments\":\\[([^\\]]*)\\]".r.findFirstMatchIn(json).toSeq
      .flatMap(_.group(1).split(",")).map(_.trim.stripPrefix("\"").stripSuffix("\""))
  }

  /** Segment -> column -> `(lo, hi, tag)` as manifest `v` records it inline. */
  private def manifestStats(root: String, v: Long): Map[String, Map[String, (String, String, String)]] = {
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(f"$root/_txlog/v$v%010d.json"))
    "\"(data/[^\"]+)\":\\{([^}]*)\\}".r.findAllMatchIn(json).map { s =>
      s.group(1) -> "\"([^\"]+)\":\\[\"([^\"]*)\",\"([^\"]*)\",\"([nsb])\"\\]".r
        .findAllMatchIn(s.group(2)).map(c => c.group(1) -> ((c.group(2), c.group(3), c.group(4)))).toMap
    }.toMap
  }

  test("stats pin: every staged segment records the bounds a plain min/max gives") {
    import org.apache.spark.sql.DataFrame
    val safe = "^[\\x20-\\x21\\x23-\\x5B\\x5D-\\x7E]*$"
    // the manifest form of a plain min/max: exact decimal strings, printable
    // ASCII minus '"' and '\' for strings, nothing for NULL or other bounds
    def plain(df: DataFrame, c: String): Option[(String, String, String)] = {
      val r = df.agg(min(c), max(c)).head()
      (r.get(0), r.get(1)) match {
        case (null, _) => None
        case (l: String, h: String) =>
          if (l.matches(safe) && h.matches(safe)) Some((l, h, "s")) else None
        case (l, h) => Some((new java.math.BigDecimal(l.toString).toPlainString,
          new java.math.BigDecimal(h.toString).toPlainString, "n"))
      }
    }
    val root = newRoot()
    val kinds: Seq[(String, DataFrame)] = Seq(
      "c_long" -> Seq(-7L, 3L, -12L, 11L).toDF("c_long"),
      "c_int" -> Seq(5, -3, 9).toDF("c_int"),
      "c_byte" -> Seq(1, -4, 7).map(_.toByte).toDF("c_byte"),
      "c_short" -> Seq(300, -2, 12).map(_.toShort).toDF("c_short"),
      "c_dec" -> Seq("1.50", "-2.25", "0.10").toDF("s")
        .select(col("s").cast("decimal(10,2)").as("c_dec")),
      "c_dbl" -> Seq(1.5, -0.25, 1e10).toDF("c_dbl"),
      "c_nulls" -> Seq(Option.empty[Long], None).toDF("c_nulls"),
      "c_somenull" -> Seq(Some(4L), None, Some(-1L)).toDF("c_somenull"),
      "c_ascii" -> Seq("pear", "apple", "fig").toDF("c_ascii"),
      "c_quote" -> Seq("a\"b", "c").toDF("c_quote"),
      "c_utf" -> Seq("é", "a").toDF("c_utf"),
      "c_bloom" -> Seq(10L, 20L, 30L).toDF("c_bloom"),
      "c_empty" -> Seq.empty[Long].toDF("c_empty"))
    val segOf = kinds.zipWithIndex.map { case ((c, df), i) =>
      val blooms = if (c == "c_bloom") Seq(c) else Nil
      val v = if (i == 0) TxTable.commitOverwrite(spark, root, df, Seq(c), blooms)
        else TxTable.commitAppend(spark, root, df, Seq(c), blooms)
      c -> manifestSegments(root, v).last
    }.toMap
    val stats = manifestStats(root, TxTable.latestVersion(spark, root).get)
    def recorded(c: String) = stats.getOrElse(segOf(c), Map.empty)
    kinds.foreach { case (c, df) => assert(recorded(c).get(c) === plain(df, c), c) }
    assert(recorded("c_long")("c_long") === (("-12", "11", "n")))
    assert(recorded("c_dec")("c_dec") === (("-2.25", "1.50", "n")))
    assert(recorded("c_dbl")("c_dbl") === (("-0.25", "10000000000", "n")))
    Seq("c_nulls", "c_quote", "c_utf", "c_empty").foreach(c => assert(recorded(c).isEmpty, c))
    val bos = new java.io.ByteArrayOutputStream()
    kinds.toMap.apply("c_bloom").stat.bloomFilter("c_bloom", 100000L, 0.01).writeTo(bos)
    assert(recorded("c_bloom").get("c_bloom#bloom") ===
      Some((java.util.Base64.getEncoder.encodeToString(bos.toByteArray), "", "b")))

    // a clustered overwrite records each of its segments' own bounds
    val croot = newRoot()
    val grid = (0 until 60).map(i => (i % 8 - 3L, i / 8L, s"t${i % 11}")).toDF("x", "y", "tag")
    val cv = TxTable.commitOverwriteClustered(spark, croot, grid, Seq("x", "y"),
      numSegments = 3, statsCols = Seq("tag"))
    val csegs = manifestSegments(croot, cv)
    assert(csegs.size === 3)
    val cstats = manifestStats(croot, cv)
    for (s <- csegs; c <- Seq("x", "y", "tag"))
      assert(cstats.getOrElse(s, Map.empty).get(c) === plain(spark.read.parquet(s"$croot/$s"), c), s"$s $c")
  }

  test("a NaN, infinite or date bound records no stat, and pruned reads stay exact") {
    val root = newRoot()
    val day = java.sql.Date.valueOf("2024-01-01")
    def rows(r: (Long, Double)*) = r.map { case (k, d) => (k, d, day) }.toDF("k", "d", "dt")
    val tracked = Seq("k", "d", "dt")
    TxTable.commitOverwrite(spark, root, rows((1L, 1.5), (2L, Double.NaN)), tracked)
    TxTable.commitAppend(spark, root, rows((3L, Double.PositiveInfinity), (4L, 2.5)), tracked)
    TxTable.commitAppend(spark, root, rows((5L, Double.NegativeInfinity), (6L, -1.0)), tracked)
    val v = TxTable.commitAppend(spark, root, rows((7L, 0.5)), tracked)
    val stats = manifestStats(root, v)
    assert(stats.size === 4 && stats.values.forall(_.contains("k")))
    assert(stats.values.count(_.contains("d")) === 1, "only the finite segment records d")
    assert(!stats.values.exists(_.contains("dt")), "a date bound records nothing")
    val all = TxTable.read(spark, root)
    def keys(df: org.apache.spark.sql.DataFrame) = df.select("k").as[Long].collect().sorted.toSeq
    for ((lo, hi) <- Seq((0.0, 2.0), (-1e9, 1e9), (2.0, 3.0), (0.4, 0.6))) {
      val (l, h) = (java.math.BigDecimal.valueOf(lo), java.math.BigDecimal.valueOf(hi))
      assert(keys(TxTable.readWhere(spark, root, "d", l, h)) ===
        keys(all.filter(col("d") >= l && col("d") <= h)), s"[$lo, $hi]")
    }
  }

  test("merge cdf labels a new row update_postimage only when its key was probed") {
    val root = newRoot()
    TxTable.commitOverwrite(spark, root, Seq((1L, 1.0), (2L, 2.0)).toDF("k", "x"))
    TxTable.commitAppend(spark, root, Seq((3L, 3.0)).toDF("k", "x"))
    val v = TxTable.commitMerge(spark, root, Seq((2L, 20.0), (3L, 30.0), (4L, 40.0), (5L, 50.0))
      .toDF("k", "x"), Seq("k"), Seq("x"), Nil, cdf = true)
    val ch = TxTable.readChanges(spark, root, v - 1, v)
      .select("_change_type", "k").as[(String, Long)].collect().sorted.toSeq
    assert(ch === Seq(("insert", 4L), ("insert", 5L), ("update_postimage", 2L),
      ("update_postimage", 3L), ("update_preimage", 2L), ("update_preimage", 3L)))
  }
}
