package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph operators over edge DataFrames.
  *
  * The one a training-data pipeline cannot skip: CONNECTED COMPONENTS over
  * the near-duplicate pair graph.  MinHash/SimHash emit PAIRS; dedup
  * decisions need CLUSTERS (duplicate relations are transitive in practice:
  * A≈B, B≈C ⇒ keep one of {A,B,C}).  Keeping one doc per *pair* instead of
  * per *component* over-deletes — a doc in two pairs would be dropped twice
  * and its cluster could lose every member.
  *
  * Scale notes (100 TB):
  *  - Each iteration is one shuffle join (edges ⋈ labels on dst) + one
  *    hash aggregation (min label per src) — the same primitives as every
  *    other operator here; nothing driver-side but the convergence check.
  *  - Iteration count = max component DIAMETER.  Near-dup components are
  *    dense blobs of mutual duplicates (diameter 2–3), so propagation
  *    converges in a handful of rounds; for adversarially long path graphs
  *    use the large-star/small-star contraction (Kiveris et al., "Connected
  *    Components in MapReduce and Beyond", SoCC'14) — O(log² n) rounds from
  *    the same join/agg primitives.
  *  - `localCheckpoint` after each round truncates lineage: without it the
  *    plan doubles per iteration and Catalyst analysis time, not the data,
  *    becomes the bottleneck.  (On a cluster prefer reliable `checkpoint`
  *    to survive executor loss; local mode has no such failure domain.)
  */
object Graph {

  /** Synchronous label propagation (Raghavan et al. '07), made
    * DETERMINISTIC: every vertex starts as its own label; each round it
    * adopts the most frequent label among its neighbors, ties broken by
    * the SMALLEST label (classic LPA breaks ties randomly — useless for an
    * oracle-checked engine).  A FIXED round count rather than a
    * convergence test: sync LPA can 2-cycle on bipartite-ish structure, so
    * "run R rounds" is the semantics, not an approximation of it.  Where
    * [[connectedComponents]] merges everything reachable, LPA splits a
    * weakly-bridged blob into dense COMMUNITIES — the right grain when one
    * stray near-dup pair would otherwise chain two unrelated clusters.
    *
    * Returns `(node, label)` per endpoint.  Scale shape identical to CC:
    * each round is one edges⋈labels join (co-partitioned on the vertex
    * key after round 1), one (vertex, label) count aggregation, one
    * argmax window partitioned by vertex; `localCheckpoint` truncates the
    * per-round lineage.  Rounds run in a [[Scoped.run]] child under
    * [[Scoped.tuneRound]] (r16, the contraction convention), regime decided
    * once from the symmetric edge relation: a tiny graph pipelines each
    * round (join + count agg + rank window + label join) into ONE job
    * instead of ~5 AQE stage-jobs + a checkpoint job; a graph past
    * [[Scoped.TinyRoundBytes]] keeps session AQE and its skew handling for
    * every round. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rounds >= 1, s"labelPropagation: rounds $rounds < 1")
    val parent = edges.sparkSession
    Scoped.run(parent) { loop =>
    val sym = Scoped.onto(
        edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
          .union(edges.select(col(dstCol).as("u"), col(srcCol).as("v"))), loop)
      .distinct()
      .localCheckpoint()
    var labels = sym.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint()
    Scoped.tuneRound(loop, parent, sym, disableBroadcast = true)
    (1 to rounds).foreach { _ =>
      val freq = sym.join(labels.withColumnRenamed("node", "v"), "v")
        .groupBy(col("u"), col("label")).agg(count(lit(1)).as("__c"))
      val best = freq.withColumn("__rk", row_number().over(
          Window.partitionBy("u").orderBy(col("__c").desc, col("label"))))
        .filter(col("__rk") === 1)
        .select(col("u").as("node"), col("label").as("__new"))
      // every node has ≥1 neighbor (it came from an edge) — but keep the
      // defensive coalesce so a future filtered-edges caller can't NULL it
      val next = labels.join(best, Seq("node"), "left")
        .select(col("node"), coalesce(col("__new"), col("label")).as("label"))
        .localCheckpoint()
      freeCheckpoint(labels)
      labels = next
    }
    freeCheckpoint(sym)
    Scoped.onto(labels, parent)
    }
  }

  /** Label every vertex of the undirected graph `edges` with the MINIMUM
    * vertex id reachable from it (its connected component's canonical id).
    *
    * Returns `(id, label)` — one row per distinct endpoint.  Vertices not
    * present in any edge are by definition their own singleton component
    * and are not emitted (union them in trivially if needed).
    *
    * Deterministic: min-label propagation has a unique fixpoint, whatever
    * the partitioning or join order. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 25): DataFrame = {
    val parent = edges.sparkSession
    Scoped.run(parent) { loop =>
    val sym = Scoped.onto(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .distinct(), loop)
      .localCheckpoint() // reused every round — compute the distinct once
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint()
    var converged = false
    var i = 0
    Scoped.tuneRound(loop, parent, labels)
    while (!converged && i < maxIter) {
      val nbrMin = sym.join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id")).agg(min("label").as("__nbr"))
      // convergence rides the SAME job that materializes the checkpoint
      // (an observed metric over the rows as they stream into the blocks)
      // — the old separate `.filter(__chg).isEmpty` action was a pure
      // driver round-trip per round, the dominant fixed cost once the
      // per-round data is small (the r13 JobProfile finding)
      val obs = org.apache.spark.sql.Observation()
      // every vertex has ≥1 neighbor (it came from an edge) — inner join
      val next = labels.join(nbrMin, "id")
        .select(col("id"), least(col("label"), col("__nbr")).as("label"),
          (col("__nbr") < col("label")).as("__chg"))
        .observe(obs, coalesce(sum(when(col("__chg"), 1L)), lit(0L)).as("__n"))
        .localCheckpoint()
      converged = obs.get("__n").asInstanceOf[Long] == 0L
      // `next` is self-contained after its checkpoint: free the superseded
      // round's blocks NOW — waiting for GC-driven ContextCleaner would grow
      // storage O(rounds × |V|) on a large graph
      freeCheckpoint(labels)
      labels = next.drop("__chg")
      Scoped.tuneRound(loop, parent, labels)
      i += 1
    }
    freeCheckpoint(sym)
    if (converged) Some(Scoped.onto(labels, parent))
    else { freeCheckpoint(labels); None }
    }.getOrElse {
      // Diameter exceeded the round budget (a path/chain-shaped tail, which
      // real web-dedup graphs do have) — switch to the O(log² n) contraction
      // instead of failing.  The propagation rounds above are discarded, not
      // reused: contraction operates on the edge set, and its own round
      // count does not benefit from partially-propagated labels.
      connectedComponentsContraction(edges, srcCol, dstCol)
    }
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): converges in O(log² n) rounds regardless of component
    * DIAMETER, where min-label propagation needs diameter rounds — the
    * scale path for path-shaped graphs (citation chains, forwarded-email
    * threads, A≈B≈C≈… near-dup chains).
    *
    * Per round, each operation is one hash aggregation (min over the
    * symmetric neighborhood) + one shuffle join back onto the edges — the
    * same bucketed primitives as [[connectedComponents]], nothing
    * driver-side but the convergence check, with the same localCheckpoint
    * + explicit-free lineage discipline.
    *
    *  - large-star: every node u connects its LARGER neighbors {v ∈ Γ(u),
    *    v > u} to m = min(Γ(u) ∪ {u}) — long paths halve toward the min.
    *  - small-star: u connects its smaller-or-equal neighbors and itself to
    *    m — stars flatten so every member points at the root directly.
    *
    * Both emit only (v, m) with v > m, so the edge set stays canonically
    * directed high→low.  Fixpoint = star forest:
    * every edge is (member, component-min) — detected exactly, the round
    * it forms, by a structural test fused into the round's own
    * neighborhood aggregate (see the round loop below), so no round is
    * spent producing an identical edge set just to observe equality and
    * the test pays no shuffle of its own.  Same contract as
    * [[connectedComponents]]: one `(id, label)` row per distinct endpoint,
    * label = min reachable id, deterministic unique fixpoint. */
  def connectedComponentsContraction(edges: DataFrame, srcCol: String,
                                     dstCol: String, maxIter: Int = 40): DataFrame = {
    // nodes is consumed exactly once (the final labeling join), so it
    // stays LAZY and chains into that action's plan — a checkpoint here
    // would buy nothing back for its extra driver round-trip; the input
    // does get scanned once more at the end, the same one-pass cost the
    // checkpoint itself would have paid.  Built from the RAW edges, not
    // the canonical e: self-loop-only vertices must still label themselves.
    // ASSUMES DETERMINISTIC INPUT LINEAGE: because `edges` is re-evaluated
    // here after the rounds ran on the checkpointed canonical copy, an
    // edge frame with non-deterministic lineage (sample(), uuid(),
    // monotonically_increasing_id(), a non-idempotent source) could yield
    // a node set that diverges from the edge set the contraction saw —
    // missing or spuriously-singleton vertices.  Callers with such inputs
    // must checkpoint/materialize their edge frame first (every registered
    // query reads parquet, which is deterministic).
    val parent = edges.sparkSession
    Scoped.run(parent) { loop =>
    val base = Scoped.onto(edges.select(col(srcCol), col(dstCol)), loop)
    val nodes = base.select(col(srcCol).as("id"))
      .union(base.select(col(dstCol).as("id"))).distinct()
    // canonical high→low, self-loops dropped
    val canon = base.select(greatest(col(srcCol), col(dstCol)).as("hi"),
        least(col(srcCol), col(dstCol)).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
    // the small-star operation: from each node's symmetric neighborhood
    // min m, connect the smaller-or-equal neighbors and the node itself to
    // m (the large star runs inline in the round loop, off the shared
    // check aggregate).  No per-round dedup anywhere: the star algebra
    // tolerates duplicate input edges (neighborhood MIN is
    // duplicate-blind), each input copy yields at most one output row per
    // star, and the small star adds ≤ one row per DISTINCT node — so
    // multiplicity grows at most linearly in rounds and the groupBy's
    // partial aggregation absorbs it.  Canonicalization happens ONCE, on
    // the converged forest.
    def star(cur: DataFrame, large: Boolean): DataFrame = {
      val sym = cur.select(col("hi").as("u"), col("lo").as("v"))
        .union(cur.select(col("lo").as("u"), col("hi").as("v")))
      val m = sym.groupBy("u").agg(min(col("v")).as("__mv"))
        .select(col("u"), least(col("u"), col("__mv")).as("m"))
      val picked =
        if (large) sym.join(m, "u").filter(col("v") > col("u"))
          .select(col("v").as("hi"), col("m").as("lo"))
        else sym.join(m, "u").filter(col("v") < col("u"))
          .select(col("v").as("hi"), col("m").as("lo"))
          .union(m.select(col("u").as("hi"), col("m").as("lo")))
      picked.filter(col("hi") =!= col("lo"))
    }
    // SEEDED start: the first checkpoint materializes one large-star hop
    // fused into the canonical prep instead of the raw canonical edges —
    // the distinct's shuffle output flows straight into the star's
    // neighborhood aggregate inside the SAME action, so the hop costs no
    // extra driver round-trip, and path-shaped graphs enter round 0
    // already distance-halved (one fewer full LARGE;LARGE;SMALL round on
    // the fixture chains).
    var e = star(canon, large = true).localCheckpoint()
    // Convergence = the edge set IS a star forest rooted at component
    // minima, tested EXACTLY:
    //   (a) every hi maps to exactly one distinct lo
    //   (b) no node appears as both a hi and a lo (stars don't chain)
    // (a) ∧ (b) ⇒ components are stars whose root (the lo) is less than
    // every member (hi > lo by canonical direction), i.e. the component
    // minimum — and a min-rooted star forest is verifiably a fixpoint of
    // both star operations.
    //
    // THE CHECK PAYS NO SHUFFLE — AND NO ACTION — OF ITS OWN (the r12
    // profile found the round count × per-job fixed cost IS this query's
    // floor): both the test and the LARGE-STAR MIN are per-node aggregates
    // over the same role-tagged symmetric neighborhood, so ONE groupBy
    // serves both, it rides inline in the round's single checkpoint plan,
    // and convergence is decided from an OBSERVED METRIC on that job.
    // Per node u over sym rows (u, v, __uhi =
    // "u is the hi end of this pair"):
    //   __mv  = min(v)                      — the large-star m (pre-least)
    //   (a) violated ⇔ min(v | __uhi) ≠ max(v | __uhi)   (nulls ignored)
    //   (b) violated ⇔ max(__uhi) ∧ max(¬__uhi)          (both roles)
    // min/max only, deliberately NOT countDistinct, whose multi-distinct
    // form plans an Expand that multiplies the probe ×4.
    var converged = false
    var i = 0
    Scoped.tuneRound(loop, parent, e, disableBroadcast = true)
    while (!converged) {
      val sym = e.select(col("hi").as("u"), col("lo").as("v"),
          lit(true).as("__uhi"))
        .union(e.select(col("lo").as("u"), col("hi").as("v"),
          lit(false).as("__uhi")))
      // TWO actions per round, ZERO dedicated check actions (r14): the
      // violation COUNT rides the ag-materializing checkpoint job itself
      // as an OBSERVED METRIC — the old separate `.filter(...).isEmpty`
      // over the materialized blocks was a whole extra driver round-trip
      // per round buying nothing the metric doesn't already know (the
      // r12/r13 profiles pinned this query's floor to round count ×
      // per-job fixed cost).  A third variant — folding ag into next's
      // plan for ONE action per round — was measured WORSE (warm sf0.1
      // walls 7.5 vs 7.0 session-AQE, 4.6-5.2 vs 4.0-4.7 tuned): the
      // fixpoint round then recomputes all three stars wastefully and the
      // inlined aggregate re-materializes per consumer.
      val obs = org.apache.spark.sql.Observation()
      val ag = sym.groupBy("u").agg(
          min("v").as("__mv"),
          min(when(col("__uhi"), col("v"))).as("__mnl"),
          max(when(col("__uhi"), col("v"))).as("__mxl"),
          max(col("__uhi")).as("__hashi"),
          max(!col("__uhi")).as("__haslo"))
        .observe(obs, coalesce(sum(when((col("__hashi") && col("__haslo")) ||
            col("__mnl") =!= col("__mxl"), 1L)), lit(0L)).as("__viol"))
        .localCheckpoint()
      converged = obs.get("__viol").asInstanceOf[Long] == 0L
      if (!converged) {
      // large star straight off the shared aggregate (only the sym side
      // shuffles on u; ag's groupBy output is already hash(u)-partitioned),
      // then the second large star and the small star chained lazily into
      // the SAME action
      val m = ag.select(col("u"), least(col("u"), col("__mv")).as("m"))
      val large = sym.select(col("u"), col("v")).join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
      // one checkpoint for the round's star chain: further REJECTED-by-
      // measurement variants (warm sf0.1 walls, r13) — fusing TWO star
      // ROUNDS into one lazy chain (13.1 s: doubling per-action plan depth
      // costs more in optimizer replanning than the saved driver
      // round-trips) and materializing the repartitioned sym so
      // check/min/join share one exchange (8.3 s: checkpointing the
      // DOUBLED edge frame costs more than the exchange it saves).  Round
      // shape LARGE;LARGE;SMALL — measured sweep at sf0.1 (warm walls):
      // large;small 6.5-6.7 s, large;large;small 5.0-5.6 s (the second
      // distance-halving large star cuts the ROUND COUNT by more than its
      // plan depth costs), large;large;large;small 8.5-9.3 s (depth cost
      // wins again).  Correctness is unaffected by the alternation
      // pattern: both stars preserve components, and the exact star-forest
      // check above is the loop condition.
      val next = star(star(large, large = true), large = false)
        .localCheckpoint()
      require(i < maxIter, "connectedComponentsContraction: no fixpoint " +
        s"after $maxIter alternating rounds — raise maxIter (bound is " +
        "O(log² n))")
      freeCheckpoint(e)
      e = next
      Scoped.tuneRound(loop, parent, e, disableBroadcast = true)
      i += 1
      }
      freeCheckpoint(ag)
    }
    // star forest: edges are (member, root); roots and edge-less singletons
    // label themselves.  The ONE distinct canonicalizes whatever
    // multiplicity the dedup-free rounds accumulated ((a) guarantees a
    // single root per member, so distinct pairs ≡ the member→root function).
    // Materialized INSIDE the tuned scope: the labeling join is the
    // operator's own action over the same converged-forest-sized frames
    // the rounds ran on, so the round tuning is exactly as valid here.
    val out = nodes.join(e.select(col("hi").as("id"), col("lo").as("__root"))
        .distinct(), Seq("id"), "left")
      .select(col("id"), coalesce(col("__root"), col("id")).as("label"))
      .localCheckpoint()
    freeCheckpoint(e)
    Scoped.onto(out, parent)
    }
  }

  /** Transitive ancestor closure of a FOREST (child→parent edges): every
    * (node, ancestor, depth ≥ 1) pair — the hierarchy flatten behind
    * org-chart / category-tree / region-rollup queries, i.e. the engine's
    * answer to SQL's `WITH RECURSIVE` (which is exactly the DuckDB oracle).
    *
    * Frontier iteration: round d extends each depth-d pair by one parent
    * hop (an equi-join on the CURRENT FRONTIER only, never the accumulated
    * closure), so total work is O(|closure|) and rounds = forest height.
    * Results accumulate as a lazy union of per-depth frames, each
    * localCheckpoint'd (same lineage discipline as the other loops here).
    * A cycle would never drain the frontier: `require` fails loudly at
    * `maxDepth` instead of silently truncating ancestry.
    *
    * Driver-cost discipline (r16 — rounds = height makes this THE most
    * action-dense loop in the engine, and its floor is rounds × per-job
    * fixed cost, not data):
    *  - each depth pays exactly ONE action: a LAZY localCheckpoint
    *    materialized by `count()`, which truncates lineage, persists the
    *    layer AND answers the drain question in the same job (the eager
    *    form's materialization already ran precisely this count and threw
    *    the value away; the old separate `isEmpty` was a second driver
    *    round-trip per depth, and under AQE the join's shuffle stage ran
    *    as a THIRD — measured 83 jobs / 24-deep q_ancestors_deep);
    *  - rounds run in a [[Scoped.run]] child under [[Scoped.tuneRound]]
    *    ("static AQE", the contraction convention), with the regime decided
    *    ONCE from the static edge relation's materialized bytes (a frontier
    *    is never materially larger than e): a tiny e turns adaptive
    *    execution off so each round is the broadcast build of e plus the
    *    single checkpoint-count job — no AQE stage jobs; an edge relation
    *    past [[Scoped.TinyRoundBytes]] keeps the session's AQE and skew handling
    *    for every round, so at 100 TB nothing is lost.  Measured (census
    *    jobs tier, sf0.001): q_ancestors_deep 82 → 57, q_ancestors
    *    13 → 10; warm sf0.1 walls at parity (the depth-sequential driver
    *    rounds, not data, bound this plan — rounds = height is the
    *    algorithm). */
  def ancestorClosure(edges: DataFrame, childCol: String, parentCol: String,
                      maxDepth: Int = 30): DataFrame = {
    val parent = edges.sparkSession
    Scoped.run(parent) { loop =>
    // broadcasts stay ON here (unlike the contraction tuner): the per-depth
    // join is tiny-frontier ⋈ STATIC e, and with the checkpoint's origin
    // stats the tiny e broadcasts — zero shuffle and zero sort per depth,
    // at one broadcast-build job each.  The disableBroadcast variant was
    // measured SLOWER at sf0.1 (+0.6 s warm wall): it re-sorts e inside a
    // sort-merge join every depth to save that one job — the propagation-
    // loop lesson (static side + shrinking side ⇒ keep broadcasts), not
    // the contraction one (both sides shrink ⇒ drop them).
    val e = Scoped.onto(
        edges.select(col(childCol).as("node"), col(parentCol).as("anc")), loop)
      .distinct().localCheckpoint()
    // ONE action per layer: lazy checkpoint + count — materializes blocks,
    // truncates lineage, and the count IS the emptiness probe
    def ckCount(df: DataFrame): (DataFrame, Long) = {
      val ck = df.localCheckpoint(eager = false)
      (ck, ck.count())
    }
    val (f0, n0) = ckCount(e.withColumn("depth", lit(1)))
    var frontier = f0
    var drained = n0 == 0L
    // The regime is governed by the STATIC edge relation, decided once: a
    // frontier is never materially larger than e (≤ one row per node, one
    // extra int column), so tiny e ⇒ every round is fixed-cost-bound; a
    // large e keeps session AQE (and its skew handling on the per-round
    // join) for the whole loop.
    val tinyRegime = Scoped.tuneRound(loop, parent, e)
    // Result layers FOLD into a periodically re-checkpointed accumulator
    // instead of accumulating one live frame per depth: storage held at
    // any instant is ONE closure-so-far checkpoint + at most FoldEvery
    // pending layers + the working frontier — O(closure), not O(height)
    // live frames (a deep skewed hierarchy used to hold every layer's
    // blocks until the final union; measured on the 120-deep chain in
    // GraphSpec: peak persisted RDDs 123 → 12, same result).  The fold's
    // price is re-copying the accumulated closure
    // every FoldEvery depths — O(closure · height/FoldEvery) total I/O,
    // paid only by trees deeper than FoldEvery; the common shallow case
    // (height ≤ 8) folds exactly once, as before.
    val FoldEvery = 8
    var acc = frontier
    var pending = List.empty[DataFrame] // newest first; head may BE the frontier
    def foldInto(layers: List[DataFrame]): Unit = if (layers.nonEmpty) {
      // materialize the new accumulator BEFORE freeing the frames it read
      val folded = (acc :: layers).reduce(_ unionByName _).localCheckpoint()
      freeCheckpoint(acc)
      layers.foreach(freeCheckpoint)
      acc = folded
    }
    var d = 1
    // `d <= maxDepth`: the depth-maxDepth frontier must get ONE more
    // extension attempt before the cycle verdict — a legitimate forest of
    // height exactly maxDepth drains on that attempt; only a frontier still
    // alive PAST it is a cycle (or a genuinely deeper tree).
    //
    // TWO hops per round in the tiny regime (r17): fixed-cost-bound rounds
    // are priced in driver round-trips (plan + one job each), so each round
    // extends the frontier TWICE inside one action — hop1, then hop1 ⋈ e —
    // and materializes the two-depth union as ONE lazy checkpoint.  The
    // drain question for BOTH hops rides the materializing aggregate
    // itself: (total rows, deep-hop rows) come back from a single
    // count/sum collect, so hop2-empty-while-hop1-alive ends the loop in
    // the SAME round (without the deep count, the boundary case "height
    // exactly maxDepth, reached mid-round" would mis-verdict as a cycle).
    // The price is hop1's join running twice inside the action (union
    // branches share no exchange under a broadcast join) — kilobyte-scale
    // CPU in this regime, which is why the LARGE regime keeps one hop per
    // round: data-bound rounds must never duplicate a data-path join, and
    // there AQE stage scheduling (not driver rounds) dominates anyway.
    // Measured at sf0.1 (warm, same window): q_ancestors_deep 24 rounds →
    // 13, see OPTIMIZATION_r17.md.
    val eUp = e.select(col("node").as("anc"), col("anc").as("__up"))
    def hop(f: DataFrame): DataFrame = f.join(eUp, "anc")
      .select(col("node"), col("__up").as("anc"),
        (col("depth") + 1).as("depth"))
    while (!drained && d <= maxDepth) {
      // the budget counts ATTEMPTS (hops), so a two-hop round needs d+1
      // within budget too; the last allowed attempt runs single-hop
      val hops = if (tinyRegime && d < maxDepth) 2 else 1
      val h1 = hop(frontier)
      // coalesce the two-depth union back to the frontier's partition
      // count: union CONCATENATES partitions, so without it the layer's
      // partition count doubles per round — exponential task growth on
      // deep trees (narrow dependency: no shuffle, just fewer tasks)
      val layer = if (hops == 2)
        h1.unionByName(hop(h1))
          .coalesce(math.max(1, frontier.queryExecution.toRdd.getNumPartitions))
      else h1
      val ck = layer.localCheckpoint(eager = false)
      // ONE job: materializes the round's layer(s), counts the whole layer
      // (the drain probe) AND the deepest hop's rows (the next frontier's
      // emptiness — known now instead of costing next round's join)
      val probe = ck.agg(count(lit(1)),
        sum(when(col("depth") === d + hops, 1L))).collect().head
      val n = probe.getLong(0)
      val nDeep = if (probe.isNullAt(1)) 0L else probe.getLong(1)
      drained = n == 0L
      if (!drained) {
        // a superseded frontier stays persisted until its layer folds into
        // the accumulator — it IS a result layer; only the working set
        // advances (the frontier is a filter VIEW over the round's
        // checkpointed blocks, so it costs no copy)
        pending ::= ck
        frontier = ck.filter(col("depth") === lit(d + hops))
        // hop2 extends hop1: an empty deepest hop means nothing deeper can
        // exist — the closure is complete this round
        if (nDeep == 0L) drained = true
      }
      if (pending.size >= FoldEvery) {
        // the newest pending layer IS the live frontier — the next round's
        // join still reads its blocks, so it must survive the fold
        foldInto(pending.tail)
        pending = List(pending.head)
      }
      d += hops
    }
    require(drained, s"ancestorClosure: frontier alive after $maxDepth " +
      "hops — cycle in the 'forest', or raise maxDepth for a deeper tree")
    foldInto(pending) // the frontier is drained: every pending layer is final
    freeCheckpoint(e)
    Scoped.onto(acc, parent)
    }
  }

  /** Fixed-iteration PageRank over a directed edge list — the canonical
    * "importance over a link graph" statistic (source authority for corpus
    * weighting, hub detection in citation/reference graphs).  Fixed
    * iteration count, not convergence-tested: the registered query's oracle
    * unrolls the same number of rounds, and rank deltas past a few rounds
    * are far below any decision threshold.
    *
    * Deterministic cross-engine by construction: per-node contribution
    * `rank/outdeg` is an element-wise double division (identical IEEE
    * result on identical operands), the per-destination SUM accumulates in
    * DECIMAL(38,12) (double addition is order-sensitive; Spark's partial
    * aggregation order is not deterministic), and the damping update is
    * again element-wise.  Dangling nodes (no out-edges) leak their mass —
    * the standard simplification; redistribute explicitly if mass
    * conservation matters.
    *
    * Each round: one shuffle join (edges ⋈ ranks on src) + one hash
    * aggregation on dst + one left join back onto the node set — linear in
    * |E| per round, same primitives as [[connectedComponents]], with the
    * same localCheckpoint lineage discipline.  Rounds run in a
    * [[Scoped.run]] child under [[Scoped.tuneRound]] (r16, the contraction
    * convention), regime decided once from the static edge relation: a
    * tiny graph pipelines each round's three exchanges into ONE job
    * instead of AQE stage-jobs + broadcast builds + a checkpoint job
    * (census jobs tier at sf0.001: 17 → 11; JobProfile under GraftSession:
    * 30 → 15); a graph past [[Scoped.TinyRoundBytes]] keeps session AQE and its
    * skew handling for every round. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, damping: Double = 0.85): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val parent = edges.sparkSession
    Scoped.run(parent) { loop =>
    val e = Scoped.onto(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")),
        loop)
      .distinct().localCheckpoint()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().localCheckpoint()
    val out = e.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("outdeg")).localCheckpoint()
    val n = nodes.count()
    val base = (1.0 - damping) / n
    var ranks = nodes.select(col("id"), lit(1.0 / n).as("rank"))
      .localCheckpoint()
    Scoped.tuneRound(loop, parent, e, disableBroadcast = true)
    for (_ <- 1 to iters) {
      val contribs = e.join(ranks.withColumnRenamed("id", "src"), "src")
        .join(out.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"),
          (col("rank") / col("outdeg")).cast(DecimalType(38, 12)).as("__c"))
      val sums = contribs.groupBy("id")
        .agg(sum("__c").cast(DoubleType).as("__s"))
      val next = nodes.join(sums, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + lit(damping) * coalesce(col("__s"), lit(0.0))).as("rank"))
        .localCheckpoint()
      freeCheckpoint(ranks)
      ranks = next
    }
    freeCheckpoint(e); freeCheckpoint(nodes); freeCheckpoint(out)
    Scoped.onto(ranks, parent)
    }
  }

  /** Free the persisted blocks behind a localCheckpoint'd frame (or a
    * projection of one) immediately.  `Dataset.unpersist` only clears
    * CacheManager entries; a checkpoint's blocks belong to the underlying
    * RDD and otherwise live until GC-driven ContextCleaner notices. */
  private[engine] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
