package graft

import org.apache.spark.sql.functions._

import graft.engine.{Graph, Text}

class GraphSpec extends SparkFunSuite {
  import spark.implicits._

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.connectedComponents(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connectedComponents labels every vertex with its component minimum") {
    // two components {1,2,3,4} (a triangle plus a pendant) and {10,11}
    val got = components(Seq((2L, 3L), (3L, 4L), (2L, 4L), (4L, 1L), (11L, 10L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents converges on a path graph (worst-case diameter)") {
    // 0-1-2-...-9: min-label propagation needs ~diameter rounds
    val got = components((0L until 9L).map(i => (i, i + 1)))
    assert(got === (0L to 9L).map(_ -> 0L).toMap)
  }

  test("connectedComponents falls back to contraction past the round budget") {
    // diameter 9 ≫ maxIter 2: propagation cannot converge — the Kiveris
    // contraction fallback must still produce the exact labeling
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Graph.connectedComponents(edges, "src", "dst", maxIter = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L to 9L).map(_ -> 0L).toMap)
  }

  test("round tuning never leaks into the caller's session (two threads, one session)") {
    // the iterative loops run on a CHILD session with isolated SQLConf;
    // a query planning CONCURRENTLY on the caller's session must observe
    // the caller's conf at every instant — sample it continuously while a
    // contraction (which round-tunes partitions/AQE/broadcast) is running
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    val path = (0L until 199L).map(i => (i, i + 1))
    val got = ConfSampler.assertNoDrift(spark, keys, "a tuned loop") {
      Graph.connectedComponentsContraction(path.toDF("src", "dst"), "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got === (0L to 199L).map(_ -> 0L).toMap)
  }

  test("contraction labels a deep path in far fewer rounds than its diameter") {
    // a 300-node path (diameter 299) + a separate triangle + reversed and
    // duplicate edges; contraction's round bound is O(log² n), so default
    // maxIter=40 must suffice where propagation would need 299 rounds
    val path = (0L until 299L).map(i => (i + 1, i)) // reversed direction
    val extra = Seq((1000L, 1001L), (1001L, 1002L), (1002L, 1000L), (1000L, 1001L))
    val got = Graph.connectedComponentsContraction(
        (path ++ extra).toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0L to 299L).map(_ -> 0L).toMap ++
      Seq(1000L, 1001L, 1002L).map(_ -> 1000L).toMap
    assert(got === want)
  }

  test("connectedComponents is direction-insensitive and self-loop-safe") {
    val got = components(Seq((5L, 3L), (3L, 5L), (5L, 5L), (7L, 8L)))
    assert(got === Map(3L -> 3L, 5L -> 3L, 7L -> 7L, 8L -> 7L))
  }

  test("contraction and propagation agree on random graphs (seeded) " +
    "and both match a union-find oracle") {
    // independent oracle: if the two Spark implementations ever shared a
    // defect, impl-vs-impl agreement alone would not catch it
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra max rb) = ra min rb
      }
      // canonical label = component MINIMUM (find roots at minima because
      // unions always re-root the larger id, and path compression keeps it)
      parent.keys.map(x => x -> find(x)).toMap
    }
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 60
      // random edges + the adversarial shapes the algorithms specialize
      // for: a long chain (diameter >> log n), a star, a dense clique
      val chain = (100L until 115L).sliding(2).map(s => (s(0), s(1))).toSeq
      val star = (201L to 208L).map(h => (200L, h))
      val clique = for (a <- 300L to 305L; b <- (a + 1) to 305L) yield (a, b)
      val edges = (Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b } ++ chain ++ star ++ clique)
      val df = rnd.shuffle(edges).toDF("src", "dst")
      val want = unionFind(edges)
      val prop = Graph.connectedComponents(df, "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val contr = Graph.connectedComponentsContraction(df, "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(prop === want, s"trial $trial: propagation diverged from union-find")
      assert(contr === want, s"trial $trial: contraction diverged from union-find")
    }
  }

  test("packChunks: spans are exact at chunk boundaries, per-group independent") {
    // budget 10; group a: docs of 4,6,3 tokens → ends 4,10,13.
    //  doc1 [0,4) → chunk 0..0; doc2 [4,10) → last token index 9 → 0..0
    //  (ends exactly at the boundary — must NOT claim chunk 1);
    //  doc3 [10,13) → 1..1.  group b: 25 tokens → chunks 0..2, n=3.
    val df = Seq(
      ("a", 1L, 4L), ("a", 2L, 6L), ("a", 3L, 3L), ("b", 1L, 25L)
    ).toDF("g", "i", "nt")
    val got = Text.packChunks(df, "g", "i", col("nt"), budget = 10)
      .orderBy("g", "i")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq === Seq(
      ("a", 1L, 0L, 0L, 1L), ("a", 2L, 0L, 0L, 1L), ("a", 3L, 1L, 1L, 1L),
      ("b", 1L, 0L, 2L, 3L)))
  }

  test("packChunks: zero-token doc sits at its span start with one chunk") {
    val df = Seq(("a", 1L, 10L), ("a", 2L, 0L), ("a", 3L, 1L)).toDF("g", "i", "nt")
    val got = Text.packChunks(df, "g", "i", col("nt"), budget = 10)
      .orderBy("i").collect().map(r => (r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq === Seq((0L, 0L, 1L), (1L, 1L, 1L), (1L, 1L, 1L)))
  }

  test("cluster-based split never separates a verified near-dup pair") {
    // three near-identical docs (one cluster), one unrelated doc
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base + " extra"), (3L, "zz " + base),
      (4L, (100 to 140).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val pairs = Text.verifiedPairs(docs, "text", "doc_id",
      Text.minhashCandidates(Text.minhashBands(docs, "text", "doc_id")), 0.2)
    assert(pairs.count() >= 2, "fixture must actually form a cluster")
    val lab = Graph.connectedComponents(pairs.select("doc_a", "doc_b"), "doc_a", "doc_b")
      .withColumnRenamed("id", "doc_id")
    val split = docs.join(lab, Seq("doc_id"), "left")
      .select($"doc_id",
        Text.splitLabel(coalesce($"label", $"doc_id")).as("split"))
    val straddlers = pairs
      .join(split.select($"doc_id".as("doc_a"), $"split".as("sa")), "doc_a")
      .join(split.select($"doc_id".as("doc_b"), $"split".as("sb")), "doc_b")
      .filter($"sa" =!= $"sb")
    assert(straddlers.isEmpty, "a near-dup pair straddles train/eval")
  }

  test("mixtureKeep honors per-row rates: 0 keeps nothing, 1000 keeps all") {
    val df = (1L to 200L).map(i => (i, if (i % 2 == 0) 1000 else 0)).toDF("k", "pm")
    val kept = df.filter(Text.mixtureKeep($"k", $"pm")).collect().map(_.getLong(0))
    assert(kept.forall(_ % 2 == 0) && kept.length === 100)
  }

  test("ancestorClosure flattens a forest with exact depths; cycles fail loudly") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 3L)).toDF("c", "p")
    val got = Graph.ancestorClosure(edges, "c", "p")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === Set(
      (1L, 2L, 1), (1L, 3L, 2), (1L, 4L, 3),
      (2L, 3L, 1), (2L, 4L, 2),
      (3L, 4L, 1),
      (10L, 3L, 1), (10L, 4L, 2)))
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("c", "p")
    intercept[IllegalArgumentException](Graph.ancestorClosure(cyc, "c", "p", maxDepth = 8))

    // boundary: a chain of height EXACTLY maxDepth is a legitimate forest,
    // not a cycle — the depth-maxDepth frontier gets its extension attempt
    val chain = (1L to 3L).map(i => (i, i + 1)).toDF("c", "p") // height 3
    assert(Graph.ancestorClosure(chain, "c", "p", maxDepth = 3).count() === 6)
  }

  test("ancestorClosure bounds live storage on a deep chain (fold accumulator)") {
    // a 120-deep chain: the closure is exact AND the layers must FOLD into
    // the accumulator as depth advances — peak persisted-RDD count stays
    // O(FoldEvery), not O(height) (pre-fold, every layer held its blocks
    // until the final union: peak tracked ~height frames)
    val h = 120
    val edges = (0L until h.toLong).map(i => (i, i + 1)).toDF("c", "p")
    var peak = 0
    @volatile var done = false
    val sampler = new Thread(() => {
      while (!done) {
        peak = math.max(peak, spark.sparkContext.getPersistentRDDs.size)
        Thread.sleep(10)
      }
    })
    sampler.start()
    var got: Array[org.apache.spark.sql.Row] = Array.empty
    val jobs = try ExchangeCensus.countJobs(spark) {
      got = Graph.ancestorClosure(edges, "c", "p", maxDepth = h).collect()
    } finally { done = true; sampler.join() }
    info(s"peak persisted RDDs during a $h-deep closure: $peak; jobs: $jobs")
    assert(got.length === h * (h + 1) / 2, "closure of a chain is h*(h+1)/2 pairs")
    assert(got.count(_.getInt(2) === h) === 1, "exactly one depth-h pair")
    assert(peak <= 40,
      s"peak persisted RDDs $peak — layer frames are not folding into the " +
        "accumulator (pre-fold behavior held one frame per depth)")
    // TWO hops per round in the tiny regime (r17): each round materializes
    // a two-depth layer via ONE lazy-checkpoint probe job (count + deep
    // count in the same aggregate), plus the static edge side's broadcast
    // build (kept deliberately — dropping broadcasts re-sorts e in a
    // sort-merge join every depth, measured slower at sf0.1); measured
    // ~1.1 jobs/depth for h=120 (134 total: ~2/round over 2 depths +
    // folds every 8 rounds + setup).  The r16 one-hop regime measured
    // ~2.2/depth (262), r15 ~3.2/depth; the bound sits between r17 and
    // r16 so a reintroduced per-depth action trips it.
    assert(jobs <= (1.8 * h).toInt,
      s"$jobs jobs on a $h-deep closure — an extra per-round driver action " +
        "crept back in (the r16 one-hop regime is ~2.2×h, r15 ~3.2×h)")
  }

  test("pageRank on a star graph matches the hand-computed fixpoint shape") {
    // 1→0, 2→0, 3→0: every leaf has outdeg 1 and no in-links, so after the
    // first round each leaf sits at base = 0.15/4 and the hub at
    // base + 0.85 · 3·base — exact doubles, same expression here.
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L)).toDF("s", "d")
    val got = Graph.pageRank(edges, "s", "d", iters = 3)
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val base = (1.0 - 0.85) / 4
    assert(got(1L) === base && got(2L) === base && got(3L) === base)
    // the DECIMAL(38,12) accumulator rounds each leaf's base
    // (0.0375000000000000006…) to exactly 0.0375, so the contribution sum
    // is the exact literal 0.1125 — not the binary-double 3·base
    assert(got(0L) === base + 0.85 * 0.1125,
      "hub rank = damped sum of decimal-quantized leaf contributions")
    assert(got(0L) > got(1L), "in-links must raise rank")
  }

  test("pageRank is deterministic and mass never exceeds 1 (dangling leak only)") {
    val edges = (1L to 60L).map(i => (i % 10, (i * 7) % 13)).toDF("s", "d")
    def run() = Graph.pageRank(edges, "s", "d", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val a = run()
    assert(a === run(), "same graph, same ranks, bit-identical")
    val total = a.values.sum
    assert(total > 0 && total <= 1.0 + 1e-9,
      s"rank mass bounded by 1 (dangling nodes leak, never create): $total")
  }

  test("labelPropagation splits two triangles across a bridge that CC merges") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), // triangle A
      (4L, 5L), (5L, 6L), (4L, 6L),               // triangle B
      (3L, 4L)                                    // the stray bridge pair
    ).toDF("a", "b")
    val lpa = Graph.labelPropagation(edges, "a", "b", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpa(1L) === lpa(2L) && lpa(2L) === lpa(3L), "triangle A is one community")
    assert(lpa(4L) === lpa(5L) && lpa(5L) === lpa(6L), "triangle B is one community")
    assert(lpa(1L) !== lpa(4L),
      "the bridge must NOT merge the dense cores (that is CC's behavior, not LPA's)")
    val cc = Graph.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.values.toSet.size === 1, "contrast: CC merges everything reachable")
    // determinism under re-run (classic LPA is randomized; this one must not be)
    val again = Graph.labelPropagation(edges, "a", "b", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === lpa, "fixed rounds + min tie-break = bit-stable labels")
  }
}
