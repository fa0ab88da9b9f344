package graft

import graft.engine.TxTable

/** Randomized PRUNE-EQUIVALENCE fuzz for the filtered-read family:
  * `readWhere` / `readWhereString` / `readWhereEquals` / `readWhereIn`
  * each promise to be
  * semantically identical to `read().filter(...)` — manifest-stat range
  * skipping, Bloom point skipping, and deletion-vector application are
  * pure optimizations.  The targeted TxTableSpec cases pin that contract
  * on hand-built layouts; this suite drives it across seeded RANDOM
  * histories (append / merge / copy-on-write delete / DV delete /
  * one-commit delta (insert+takedown in one manifest) / compact
  * / N-dim Z-order / restore, with min-max stats AND key Blooms tracked on
  * every commit) and random predicates, checked after every op against an
  * in-memory reference model.
  *
  * What this catches that the targeted cases cannot: stale or dropped
  * stats after an arbitrary rewrite interleaving (over-pruning surfaces as
  * MISSING rows vs the model), Bloom carriage through compaction and
  * Z-order, DV scoping under later appends of previously-deleted keys,
  * and restore re-publishing a segment list whose stats must still prune
  * correctly.  Seeds are fixed; a failure names the seed, op index, and
  * probe, and replays deterministically.
  */
class TxPruneFuzzSpec extends SparkFunSuite {
  import spark.implicits._

  private def newRoot(): String =
    java.nio.file.Files.createTempDirectory("txfuzz_spec").toString + "/tbl"

  // quotes, backslashes and non-ASCII ride the string stats too; U+FFFD and
  // U+1F600 sort one way in Spark's UTF-8 order and the other in UTF-16
  private val Vocab: IndexedSeq[String] = (0 until 15).map(i => f"w$i%02d") ++
    Seq("w\"q", "w\\b", "wé", "w\uFFFD", "w\uD83D\uDE00")

  /** Spark's string order (UTF-8 bytes). */
  private def cmp(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  private def df(rows: Iterable[(Long, String, Long)]) =
    rows.toSeq.toDF("k", "s", "v")

  private def asSet(d: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
    d.select("k", "s", "v").as[(Long, String, Long)].collect().toSet

  for (seed <- FuzzSeeds.seeds(7L, 101L)) {
    test(s"random history (seed $seed): pruned reads always equal the " +
      "model under random range/string/point predicates") {
      val rng = new scala.util.Random(seed)
      val root = newRoot()
      var model = Map.empty[Long, (String, Long)]
      var nextKey = 0L
      def freshRows(n: Int): Map[Long, (String, Long)] = {
        val ks = nextKey until (nextKey + n)
        nextKey += n
        ks.map(k => k -> (Vocab(rng.nextInt(Vocab.size)), rng.nextLong(1000))).toMap
      }
      def rowsDf(m: Map[Long, (String, Long)]) =
        df(m.map { case (k, (s, v)) => (k, s, v) })
      // every commit tracks range stats on (k, s) and a Bloom on k, so the
      // whole history stays skippable — carryStats must preserve that
      // through every rewrite below
      val init = freshRows(25)
      var head = TxTable.commitAppend(spark, root, rowsDf(init),
        statsCols = Seq("k", "s"), bloomCols = Seq("k"))
      model = init
      val snapshots = scala.collection.mutable.Map[Long, Map[Long, (String, Long)]](
        head -> model)

      def modelRows: Set[(Long, String, Long)] =
        model.map { case (k, (s, v)) => (k, s, v) }.toSet

      def probe(op: Int, desc: String): Unit = {
        // numeric range, randomly placed and sized (often empty, often
        // spanning deleted keys — both prune paths must stay exact)
        val lo = rng.nextLong(nextKey + 10) - 5
        val hi = lo + rng.nextLong(1 + nextKey / 2)
        val gotR = asSet(TxTable.readWhere(spark, root, "k",
          java.math.BigDecimal.valueOf(lo), java.math.BigDecimal.valueOf(hi)))
        val wantR = modelRows.filter(r => r._1 >= lo && r._1 <= hi)
        assert(gotR == wantR,
          s"seed $seed op #$op ($desc): readWhere k in [$lo,$hi] diverged " +
            s"(missing ${wantR -- gotR}, extra ${gotR -- wantR})")

        // string range over the vocabulary, in Spark's order
        val (a, b) = (Vocab(rng.nextInt(Vocab.size)), Vocab(rng.nextInt(Vocab.size)))
        val (sLo, sHi) = if (cmp(a, b) <= 0) (a, b) else (b, a)
        val gotS = asSet(TxTable.readWhereString(spark, root, "s", sLo, sHi))
        val wantS = modelRows.filter(r => cmp(r._2, sLo) >= 0 && cmp(r._2, sHi) <= 0)
        assert(gotS == wantS,
          s"seed $seed op #$op ($desc): readWhereString s in [$sLo,$sHi] diverged")

        // multi-point IN probe (readWhereIn): a mixed bag of live, dead,
        // and never-seen keys in ONE pruned scan must equal the model's
        // membership filter exactly — any-value segment survival must
        // never over-prune, and the single DV application must hold
        val inSet = (rng.shuffle((0L until (nextKey + 8)).toVector)
          .take(1 + rng.nextInt(6))).distinct
        val gotIn = asSet(TxTable.readWhereIn(spark, root, "k",
          inSet.map(java.math.BigDecimal.valueOf)))
        val wantIn = modelRows.filter(r => inSet.contains(r._1))
        assert(gotIn == wantIn,
          s"seed $seed op #$op ($desc): readWhereIn k in $inSet diverged " +
            s"(missing ${wantIn -- gotIn}, extra ${gotIn -- wantIn})")

        // point probe on a live key: exactly its row (Bloom + range + DV)
        if (model.nonEmpty) {
          val k0 = rng.shuffle(model.keys.toSeq).head
          val got = asSet(TxTable.readWhereEquals(spark, root, "k", k0))
          val (s0, v0) = model(k0)
          assert(got == Set((k0, s0, v0)),
            s"seed $seed op #$op ($desc): point lookup of live key $k0 got $got")
        }

        // point probe on a key that is NOT in the head state (never
        // inserted, deleted, or rolled back by restore): must be empty —
        // a Bloom false positive or a missed DV would leak it
        val dead = ((0L until nextKey).toSet -- model.keySet) + (nextKey + 1000)
        val kDead = rng.shuffle(dead.toSeq).head
        assert(TxTable.readWhereEquals(spark, root, "k", kDead).isEmpty,
          s"seed $seed op #$op ($desc): dead key $kDead is visible")
      }

      for (op <- 1 to 12) {
        val choice = rng.nextInt(10)
        val desc = choice match {
          case 0 | 1 => // append fresh keys
            val rows = freshRows(3 + rng.nextInt(10))
            head = TxTable.commitAppend(spark, root, rowsDf(rows),
              statsCols = Seq("k", "s"), bloomCols = Seq("k"))
            model = model ++ rows
            s"append ${rows.size}"
          case 2 | 3 => // merge: updates to live keys + fresh inserts
            val updates = rng.shuffle(model.keys.toSeq)
              .take(1 + rng.nextInt(1 + model.size / 3))
              .map(k => k -> (Vocab(rng.nextInt(Vocab.size)), rng.nextLong(1000)))
            val inserts = freshRows(rng.nextInt(4))
            val batch = updates.toMap ++ inserts
            head = TxTable.commitMerge(spark, root, rowsDf(batch),
              Seq("k"), Seq("s", "v"), Nil)
            model = model ++ batch
            s"merge ${updates.size}u+${inserts.size}i"
          case 4 => // copy-on-write delete; never empties the table
            val victims = rng.shuffle(model.keys.toSeq)
              .take(rng.nextInt(1 + (model.size - 1) / 2))
            if (victims.nonEmpty) {
              head = TxTable.commitDelete(spark, root, victims.toDF("k"), Seq("k"))
              model = model -- victims
            }
            s"delete ${victims.size}"
          case 5 | 6 => // deletion-vector delete: no rewrite, DV must scope
            val victims = rng.shuffle(model.keys.toSeq)
              .take(rng.nextInt(1 + (model.size - 1) / 2))
            if (victims.nonEmpty) {
              head = TxTable.commitDeleteVectors(spark, root,
                victims.toDF("k"), Seq("k"))
              model = model -- victims
            }
            s"dv-delete ${victims.size}"
          case 7 =>
            if (rng.nextBoolean()) { // compaction: stats+Blooms must survive
              head = TxTable.compactTx(spark, root, targetBytes = 1L << 20)
              "compact"
            } else { // ONE-COMMIT delta: fresh inserts + takedowns together;
              // sometimes a just-inserted key is also tombstoned — the DV
              // must reach into the delta segment (append-then-delete)
              val rows = freshRows(2 + rng.nextInt(6))
              val fromLive = rng.shuffle(model.keys.toSeq)
                .take(rng.nextInt(1 + (model.size - 1) / 3))
              val fromFresh =
                if (rng.nextBoolean()) rng.shuffle(rows.keys.toSeq).take(1)
                else Nil
              val victims = fromLive ++ fromFresh
              head = TxTable.commitDelta(spark, root, rowsDf(rows),
                victims.toDF("k"), Seq("k"),
                statsCols = Seq("k", "s"), bloomCols = Seq("k"))
              model = (model ++ rows) -- victims
              s"delta +${rows.size}-${victims.size}"
            }
          case 8 => // N-dim Z-order: ditto, plus fresh stats on both dims
            head = TxTable.compactZOrderN(spark, root, Seq("k", "v"),
              numSegments = 2, bits = 8)
            "zorder"
          case _ => // restore: the re-published list must still prune right
            val target = 1L + rng.nextLong(head)
            head = TxTable.restore(spark, root, target)
            model = snapshots(target)
            s"restore v$target"
        }
        snapshots(head) = model
        probe(op, desc)
      }
    }
  }
}
