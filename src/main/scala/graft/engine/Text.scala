package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Text-analysis and deduplication operators for LLM-data pipelines
  * (BASELINE.json north_star; beyond the reference's own surface).
  *
  * Design rules for 100 TB:
  *  - NEVER all-pairs.  Near-dup candidate generation is a band-key /
  *    shingle-key EQUI-JOIN (shuffle on the key), with a document-frequency
  *    cutoff so a stop-shingle can't create a quadratic bucket.
  *  - all hashing is arithmetic over md5 — deterministic, engine-portable
  *    (the DuckDB oracle reproduces every value bit-for-bit), and seedable.
  *  - everything is `Column` expressions inside whole-stage codegen; the only
  *    shuffles are the groupBys/joins that semantically need them.
  */
object Text {

  /** Portable 60-bit token hash: first 15 hex chars of md5, as a long.
    * (DuckDB mirror: `CAST('0x' || substr(md5(t),1,15) AS BIGINT)`.) */
  def tokenHash(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Whitespace tokens of trimmed text. */
  def tokens(c: Column): Column = split(trim(c), " ")

  /** Deterministic hash-ORDER key: the first 15 md5 hex chars of the
    * stringified key (60 bits — the same prefix [[tokenHash]] parses, kept
    * as hex so it sorts lexicographically ≡ numerically at fixed width).
    * The single audited definition of the "order by hash" idiom used by
    * fixed-k sampling and token-budget cuts. */
  def hashOrderKey(c: Column): Column = substring(md5(c.cast("string")), 1, 15)

  /** Exact dedup key: hash of normalized text.  Exact dedup at scale is one
    * hash-partitioned groupBy on this key. */
  def exactKey(c: Column): Column = md5(lower(trim(c)))

  /** Exact dedup: keep the smallest id per normalized-text group. */
  def dedupExact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(exactKey(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))

  // ---------------------------------------------------------------- MinHash
  /** MinHash signature over the document's DISTINCT w-token SHINGLES
    * (shingle→minhash→band — the standard near-dup pipeline): k
    * universal-ish hashes h_i(t) = (a_i·h + b_i) mod P; signature_i = min
    * over shingles.  Shingles, not unigrams: over a small shared vocabulary
    * unigram sets of unrelated documents converge (every doc contains most
    * words) and LSH degenerates to all-pairs; the w-gram space is |V|^w, so
    * only genuinely overlapping text collides.  h is the 60-bit shingle hash
    * reduced mod M first so a_i·h stays in int64 (no ANSI overflow). */
  val MinhashK = 16
  val BandRows = 4           // 4 bands × 4 rows: P(candidate) = 1-(1-s^4)^4
  private val M = 1000000007L
  private val P = 2147483647L

  /** Signature from a pre-hashed (mod M) shingle array — pure arithmetic,
    * k passes over materialized longs. */
  def minhashSignatureOf(th: Column): Column =
    transform(sequence(lit(0), lit(MinhashK - 1)), i =>
      array_min(transform(th, h => ((lit(2) * i + 1) * h + lit(7) + lit(13) * i) % P)))

  def minhashSignature(textCol: Column): Column =
    minhashSignatureOf(transform(array_distinct(shingles(textCol)), t => tokenHash(t) % M))

  /** One row per doc with its k minhash signature components as columns
    * `__s0..__s{k-1}` — the relational signature shape (see [[minhashBands]]
    * for why this is NOT nested array lambdas): explode shingles (one
    * Generate), hash once per (doc, shingle) row, then k parallel MIN
    * aggregates — partial aggregation map-side, exactly one shuffle on doc. */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val rel = shingleRows(df, textCol, idCol)
      .select(col("doc"), (tokenHash(col("__sh")) % M).as("__h"))
    val sigCols = (0 until MinhashK).map(i =>
      min((col("__h") * (2 * i + 1) + (7 + 13 * i)) % P).as(s"__s$i"))
    rel.groupBy("doc").agg(sigCols.head, sigCols.tail: _*)
  }

  /** (id, band, band_key) — the LSH bucketing relation.  Near-dup candidates
    * are pairs sharing a (band, band_key): an equi-join, never a cross join.
    * Documents too short to shingle have no signature and can't be near-dups;
    * they are excluded (an empty shingle set would hash every short doc into
    * one degenerate all-null bucket). */
  def minhashBands(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // Fully relational shape — NOT nested array lambdas: CollapseProject
    // re-inlines lambda-captured projections, and a k×|shingles| nested
    // lambda tree explodes whole-stage codegen (observed: minutes of Janino
    // on what should be a 2-second stage).
    val nBands = MinhashK / BandRows
    val sig = minhashSignatures(df, textCol, idCol)
    val bandKey = (b: Int) => concat_ws("-",
      (0 until BandRows).map(r => col(s"__s${b * BandRows + r}").cast("string")): _*)
    sig.select(col("doc"), posexplode(array((0 until nBands).map(bandKey): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
  }

  /** MinHash-LSH BANDING PLANNER — the analytic collision curve that
    * decides (bands b, rows r) BEFORE an index is built: a pair at
    * Jaccard similarity s becomes a candidate with probability
    * `p(s) = 1 − (1 − s^r)^b` (the S-curve whose threshold sits near
    * `(1/b)^(1/r)`).  One row per `(b, r, s)` over the configured band
    * shapes and `steps` similarity points — read the curve, pick the knee
    * that matches the dedup threshold, and the candidate-join fanout at
    * 100 TB is a design decision instead of folklore.  The engine's own
    * default ([[MinhashK]]=16 as 4×4) is one of the rows.
    *
    * Determinism: `s = i/steps` is one exact double division and both
    * integer powers evaluate by REPEATED MULTIPLICATION in index order —
    * `pow`/libm (not cross-engine exact) never enters; the 9-dp round is
    * the family's standard absorber.  Pure math over a `range`, no data. */
  def lshBandingPlan(spark: SparkSession, configs: Seq[(Int, Int)],
                     steps: Int = 20): DataFrame = {
    require(configs.nonEmpty, "lshBandingPlan: need at least one (b, r)")
    require(steps >= 2, s"lshBandingPlan: steps $steps < 2")
    require(configs.forall { case (b, r) => b >= 1 && r >= 1 },
      "lshBandingPlan: bands and rows must be >= 1")
    def intPow(c: Column, k: Int): Column = Seq.fill(k)(c).reduce(_ * _)
    val grid = spark.range(1, steps + 1)
      .select((col("id").cast("double") / steps).as("s"))
    configs.map { case (b, r) =>
      grid.select(lit(b).as("b"), lit(r).as("r"), col("s"),
        round(lit(1.0) - intPow(lit(1.0) - intPow(col("s"), r), b), 9)
          .as("p_candidate"))
    }.reduce(_.unionByName(_)).orderBy("b", "r", "s")
  }

  /** Estimated Jaccard of a candidate pair from signature agreement —
    * the fraction of the k minhash components that coincide (the unbiased
    * sketch estimator the LSH banding thresholds are derived from). */
  def minhashEstimate(sigA: String => Column, sigB: String => Column): Column =
    round((0 until MinhashK).map(i =>
      when(sigA(s"__s$i") === sigB(s"__s$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / MinhashK, 6)

  /** LSH candidate pairs (doc_a < doc_b), deduped across bands. */
  def minhashCandidates(bands: DataFrame): DataFrame = {
    val a = bands.select(col("doc").as("doc_a"), col("band"), col("band_key"))
    val b = bands.select(col("doc").as("doc_b"), col("band"), col("band_key"))
    a.join(b, Seq("band", "band_key")).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Exact shingle-set Jaccard for verification of candidate pairs only —
    * the same unit the signatures estimate, so the LSH recall bound applies. */
  def verifiedPairs(df: DataFrame, textCol: String, idCol: String,
                    candidates: DataFrame, threshold: Double): DataFrame = {
    val toks = df.select(col(idCol).as("doc"), tokens(col(textCol)).as("__t"))
      .repartition(col("doc"))
      .select(col("doc"), array_distinct(shinglesOf(col("__t"))).as("toks"))
    candidates
      .join(toks.select(col("doc").as("doc_a"), col("toks").as("toks_a")), Seq("doc_a"))
      .join(toks.select(col("doc").as("doc_b"), col("toks").as("toks_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("toks_a")) + size(col("toks_b")) - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  // --------------------------------------- One-permutation hashing (OPH)
  /** Rotation-densification offset: borrowed components from different
    * rotation distances must stay distinct across docs, so each step adds
    * one multiple of a constant larger than any bucket value (values are
    * `< M / k`). */
  private val OphC = M

  /** One-permutation MinHash signatures with rotation densification (Li,
    * Owen & Zhang NIPS'12 one-permutation hashing; Shrivastava & Li
    * ICML'14 densified variant): ONE hash per shingle lands it in bucket
    * `h mod k`, the per-bucket MIN of `h div k` is the sketch component,
    * and an EMPTY bucket borrows the first non-empty bucket clockwise with
    * `+ j·C` per rotation step (so two docs' borrowed components agree only
    * when the borrowed-from components and the rotation distance both
    * agree).  Same estimator (component agreement) and banding shape as
    * [[minhashSignatures]]; the scale difference is the aggregate UPDATE
    * cost — [[minhashSignatures]] pays k=16 multiply-mod-min updates per
    * (doc, shingle) row, this pays one pmod + one conditional min, so the
    * map-side combine over billions of shingles drops ~k× while shuffle
    * shape (one exchange on doc) is identical.
    *
    * Returns `(doc, __s0..__s{k-1})` — the [[minhashSignatures]] shape, so
    * banding/candidates/verification reuse the relational tail.  Docs too
    * short to shingle are excluded (same contract as MinHash: nothing to
    * sketch).  A doc with ≥ 1 shingle has ≥ 1 non-empty bucket, so the
    * k-term coalesce always lands. */
  def ophSignatures(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val k = MinhashK
    val rel = shingleRows(df, textCol, idCol)
      .select(col("doc"), (tokenHash(col("__sh")) % M).as("__h"))
    // integer div/mod split of the single hash: bucket ∈ [0, k), value is
    // the quotient (exact in either engine: __h is non-negative)
    val bucketed = rel.select(col("doc"),
      pmod(col("__h"), lit(k.toLong)).as("__b"),
      ((col("__h") - pmod(col("__h"), lit(k.toLong))) / k).cast(LongType).as("__v"))
    val mins = (0 until k).map(i =>
      min(when(col("__b") === i, col("__v"))).as(s"__m$i"))
    val agg = bucketed.groupBy("doc").agg(mins.head, mins.tail: _*)
    val dense = (0 until k).map { i =>
      coalesce((0 until k).map(j =>
        col(s"__m${(i + j) % k}") + lit(j * OphC)): _*).as(s"__s$i")
    }
    agg.select(col("doc") +: dense: _*)
  }

  /** (id, band, band_key) over OPH signatures — [[minhashBands]] with the
    * one-permutation sketch; candidates/verify reuse
    * [[minhashCandidates]]/[[verifiedPairs]] unchanged. */
  def ophBands(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val nBands = MinhashK / BandRows
    val sig = ophSignatures(df, textCol, idCol)
    val bandKey = (b: Int) => concat_ws("-",
      (0 until BandRows).map(r => col(s"__s${b * BandRows + r}").cast("string")): _*)
    sig.select(col("doc"), posexplode(array((0 until nBands).map(bandKey): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
  }

  // ---------------------------------------------------------------- SimHash
  /** 48-bit SimHash over token hashes: bit b of the fingerprint is set iff
    * Σ_tokens (±1 by bit b of tokenHash) > 0.  Hamming-near fingerprints ≈
    * near-dup documents; at scale, bucket by fingerprint bytes and compare
    * within buckets. */
  val SimhashBits = 48

  /** SimHash from a pre-materialized token-hash array (hot-path form: md5
    * once per token, then 48 pure-arithmetic passes). */
  def simhashOf(th: Column): Column = {
    val pw = typedlit((0 until SimhashBits).map(b => 1L << b))
    // per-bit contributions are independent integer adds (associative), so the
    // outer fold is order-free — the oracle mirrors it as a plain list_sum.
    aggregate(sequence(lit(0), lit(SimhashBits - 1)), lit(0L), (acc, b) => {
      val p = element_at(pw, b + 1)
      acc + when(aggregate(th, lit(0L),
        (s, h) => s + when(h.bitwiseAND(p) =!= 0, 1L).otherwise(-1L)) > 0, p).otherwise(0L)
    })
  }

  def simhash(textCol: Column): Column =
    simhashOf(transform(tokens(textCol), t => tokenHash(t)))

  /** Relational SimHash over a whole frame (the hot-path form — same
    * explode/aggregate shape as minhashBands, for the same codegen reason):
    * one row per token, 48 conditional-sum aggregates, one shuffle. */
  def simhashRelational(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val rel = df.select(col(idCol).as(idCol), tokens(col(textCol)).as("__t"))
      .repartition(col(idCol))
      .select(col(idCol), explode(col("__t")).as("__tk"))
      .select(col(idCol), tokenHash(col("__tk")).as("__h"))
    val bitAggs = (0 until SimhashBits).map(b =>
      sum(when(col("__h").bitwiseAND(lit(1L << b)) =!= 0, 1).otherwise(-1)).as(s"__b$b"))
    rel.groupBy(idCol).agg(bitAggs.head, bitAggs.tail: _*)
      .select(col(idCol), (0 until SimhashBits).map(b =>
        when(col(s"__b$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs — the bucketed comparison the [[simhashOf]]
    * scaladoc promises: split the 48-bit fingerprint into `SimhashBands`
    * 12-bit bands; two documents within Hamming distance `maxHamming ≤
    * SimhashBands − 1` must agree on at least one whole band (pigeonhole),
    * so candidate generation is an EQUI-join on (band index, band value) —
    * never all-pairs — and the exact `bit_count(a XOR b)` filter runs on
    * candidates only.  Same plan family as minhashCandidates: explode 4
    * band rows per doc, self-join, distinct, verify. */
  val SimhashBands = 4
  def simhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                          maxHamming: Int): DataFrame = {
    // the pigeonhole guarantee (some band agrees) only holds below the band
    // count — a larger threshold would silently miss qualifying pairs
    require(maxHamming <= SimhashBands - 1,
      s"maxHamming=$maxHamming needs > $SimhashBands bands for full recall " +
        s"(pigeonhole: hamming <= bands-1)")
    val bandBits = SimhashBits / SimhashBands
    val sims = simhashRelational(df, textCol, idCol)
      .select(col(idCol).as("doc"), col("simhash"))
    val bands = sims.select(col("doc"), col("simhash"),
      posexplode(array((0 until SimhashBands).map(b =>
        shiftright(col("simhash"), b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_val")
    val a = bands.select(col("doc").as("doc_a"), col("simhash").as("sim_a"),
      col("band"), col("band_val"))
    val b = bands.select(col("doc").as("doc_b"), col("simhash").as("sim_b"),
      col("band"), col("band_val"))
    a.join(b, Seq("band", "band_val")).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sim_a", "sim_b").distinct()
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Distinct (doc, shingle) rows.  Two deliberate physical choices:
    * (1) the token array materializes BELOW a repartition-by-doc exchange —
    * higher-order functions are CodegenFallback (interpreted), and
    * CollapseProject would otherwise re-inline the split() into the shingle
    * lambda, re-splitting the text once per shingle index; the exchange is a
    * barrier collapse can't cross, so shingling runs over an in-memory
    * array; (2) repartitioning happens on the GROUP key while rows are still
    * one-per-doc, so the downstream groupBy/window reuses the exchange and
    * a single-file input still fans out to every core. */
  def shingleRows(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.filter(size(tokens(col(textCol))) >= 3)
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("__t"))
      .repartition(col("doc"))
      .select(col("doc"), explode(array_distinct(shinglesOf(col("__t")))).as("__sh"))

  // ------------------------------------------------------- n-gram shingles
  /** w-token shingles over a pre-materialized token array.  Callers on hot
    * paths should project `tokens(text)` into a column first: Spark inlines
    * lambda-captured expressions, so shingling straight off the text column
    * re-splits the string once per shingle index. */
  def shinglesOf(t: Column, w: Int = 3): Column =
    // Codegen'd native expression (r16, graft.functions.Shingles): the
    // composable form — `when(size(t) >= w, transform(sequence(1,
    // size(t)-(w-1)), i => array_join(slice(t, i, w), " ")))
    // .otherwise(array())` — is byte-identical in output (that form is
    // still what the DuckDB oracles restate, and TextSpec pins the
    // equivalence) but stacks three interpreted evaluations per shingle
    // (HOF lambda + slice copy + join walk); the native loop emits each
    // joined w-gram straight from the source array inside whole-stage
    // codegen.  Null/short inputs yield an EMPTY array, exactly like the
    // `otherwise` branch the old form needed for n < 1 sequences.
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.Shingles(
        org.apache.spark.sql.GraftSqlBridge.expr(t),
        org.apache.spark.sql.catalyst.expressions.Literal(w)))

  /** w-token shingles (w=3): the unit for near-dup Jaccard. */
  def shingles(textCol: Column, w: Int = 3): Column = shinglesOf(tokens(textCol), w)

  /** Distinct (doc, shingle) relation with a document-frequency cutoff: drop
    * shingles appearing in more than `maxDf` docs — the skew guard that keeps
    * the candidate join linear-ish at corpus scale. */
  def shingleRelation(df: DataFrame, textCol: String, idCol: String, maxDf: Int): DataFrame = {
    val rel = shingleRows(df, textCol, idCol).withColumnRenamed("__sh", "sh")
    // (doc, sh) is already distinct (array_distinct per doc in shingleRows),
    // so plain count ≡ COUNT(DISTINCT doc) — without the distinct-aggregate
    // expansion (an Expand + two extra HashAggregate layers on a hot path)
    val dfCount = rel.groupBy("sh").agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
    rel.join(dfCount.select("sh"), Seq("sh"))
  }

  /** Benchmark decontamination — find TRAINING docs that overlap an
    * evaluation/benchmark set (id-predicate `isBenchmarkId`) above a Jaccard
    * threshold.  The asymmetric form of [[ngramJaccardPairs]]: the benchmark
    * side is small by nature (an eval suite), so its shingle relation is
    * BROADCAST and the corpus stream hash-joins against it — the corpus is
    * never shuffled for candidate generation; only matched pairs reach the
    * aggregate.  The DF cutoff still guards against stop-shingles. */
  def contaminationPairs(df: DataFrame, textCol: String, idCol: String,
                         isBenchmarkId: Column => Column,
                         maxDf: Int, threshold: Double): DataFrame = {
    val rel = shingleRelation(df, textCol, idCol, maxDf)
    val sizes = rel.groupBy("doc").agg(count(lit(1)).as("n"))
    val bench = broadcast(rel.filter(isBenchmarkId(col("doc")))
      .select(col("doc").as("bench_doc"), col("sh")))
    val train = rel.filter(!isBenchmarkId(col("doc")))
      .select(col("doc").as("train_doc"), col("sh"))
    train.join(bench, "sh")
      .groupBy("bench_doc", "train_doc").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc").as("bench_doc"), col("n").as("n_bench")), "bench_doc")
      .join(sizes.select(col("doc").as("train_doc"), col("n").as("n_train")), "train_doc")
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("n_bench") + col("n_train") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("bench_doc", "train_doc", "jaccard")
  }

  /** Asymmetric CONTAINMENT near-dup pairs (Broder's containment, the
    * companion measure to resemblance/Jaccard): containment(src ⊆ dst) =
    * |shingles(src) ∩ shingles(dst)| / |shingles(src)| — the quote/subset
    * detector Jaccard structurally misses: a short doc wholly embedded in
    * a long one scores containment ≈ 1 while its Jaccard stays low (the
    * union is dominated by the long doc).  Same candidate discipline as
    * [[ngramJaccardPairs]]: one rare-shingle equi-join builds each
    * UNORDERED candidate pair once; both directed rows are then emitted
    * from that single row (a projection union, never a second corpus
    * join), so the work stays one join + one aggregate. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       maxDf: Int, threshold: Double): DataFrame = {
    val rel = shingleRelation(df, textCol, idCol, maxDf)
    val sizes = rel.groupBy("doc").agg(count(lit(1)).as("n"))
    val pairs = rel.select(col("doc").as("doc_a"), col("sh"))
      .join(rel.select(col("doc").as("doc_b"), col("sh")), Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val sized = pairs
      .join(sizes.select(col("doc").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
    val directed = sized.select(col("doc_a").as("src"), col("doc_b").as("dst"),
        col("inter"), col("n_a").as("n_src"))
      .unionByName(sized.select(col("doc_b").as("src"), col("doc_a").as("dst"),
        col("inter"), col("n_b").as("n_src")))
    directed
      .withColumn("containment",
        round(col("inter").cast("double") / col("n_src"), 6))
      .filter(col("containment") >= threshold)
      .select("src", "dst", "containment")
  }

  // ------------------------------------------------------ URL canonicalize
  /** Canonicalize a URL for crawl-side dedup/quota accounting — the
    * string-rule normalization every web-corpus pipeline runs before URL
    * dedup: strip the fragment, lowercase scheme and host, drop default
    * ports (:80/:443), remove `utm_*` tracking parameters (fixing dangling
    * `?`/`&`), and strip the trailing slash.  Pure codegen'd
    * regexp/string column expressions — per-row, no shuffle, no state, RE2-
    * compatible so the DuckDB oracle replays them bit-identically.  Returns
    * NULL for strings with no `scheme://host` shape (the quarantine
    * bucket); canonicalization is deliberately rule-defined, not a full
    * WHATWG parser. */
  def urlCanonicalize(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host = regexp_replace(
      lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)),
      ":(443|80)$", "")
    val rest = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)", 1)
    // Anchored on the preceding separator so a non-tracking parameter whose
    // NAME merely contains "utm_" (e.g. "?myutm_source=x") is untouched;
    // the (?:...)+ repeat strips a whole consecutive utm chain in one match
    // (a single-param pattern would skip every other param of a chain,
    // because replaceAll never rescans replaced text).
    val noTrack = regexp_replace(
      regexp_replace(rest, "([?&])(?:utm_[a-z]+=[^&#]*&?)+", "$1"),
      "[?&]$", "")
    val noSlash = regexp_replace(noTrack, "/$", "")
    when(host === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host, noSlash))
  }

  /** n-gram Jaccard near-dup pairs: candidates share ≥1 (rare) shingle; the
    * shared-shingle count IS the intersection, so Jaccard falls out of the
    * same groupBy — one join + one agg, no second pass over the corpus. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        maxDf: Int, threshold: Double): DataFrame = {
    val rel = shingleRelation(df, textCol, idCol, maxDf)
    val sizes = rel.groupBy("doc").agg(count(lit(1)).as("n"))
    val pairs = rel.select(col("doc").as("doc_a"), col("sh"))
      .join(rel.select(col("doc").as("doc_b"), col("sh")), Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("doc").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  // ------------------------------------------------------------ PII scrub
  /** PII scrubbing patterns — deliberately basic regex constructs (char
    * classes, bounded repeats) that behave identically under Java regex
    * (Spark) and RE2 (DuckDB oracle). */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9 ()-]{6,}[0-9]"
  val LongNumRe = "[0-9]{5,}"

  /** Replace emails / phone-like runs / long digit runs with typed
    * placeholder tokens, in that order (emails first so their digits are
    * gone before the phone pass).  A pure regexp_replace chain: codegen'd,
    * per-row, streaming-safe — the shape a 100 TB pre-training scrub pass
    * needs (no shuffle, no state). */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      LongNumRe, "<NUM>")

  // ------------------------------------------------- deterministic sampling
  /** Shannon entropy (bits/char) of each document's character distribution
    * — the compression-proxy quality signal: keyboard mashing and
    * single-char runs sit at the extremes of the entropy range while
    * natural text clusters in the middle, making this the cheap gibberish
    * gate that needs no language model.
    *
    * Cross-engine determinism: `p = n/total` is BIGINT/BIGINT → exact
    * double in both engines; each `−p·log2 p` term is rounded to 9 dp
    * BEFORE the sum (libm `log2` may differ in the last ulp across
    * engines — at 9 dp a flip needs the value within ~1e-17 of a grid
    * boundary), and the rounded terms accumulate in DECIMAL(38,9), so the
    * sum is order-independent and exact.  Two aggregations on the doc key
    * (char histogram, then the entropy sum) — shuffle-bounded by distinct
    * (doc, char) pairs, never corpus text size. */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val freq = df
      .select(col(idCol), explode(split(col(textCol), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(idCol, "ch").agg(count(lit(1)).as("n"))
    val tot = freq.groupBy(idCol).agg(sum("n").cast(LongType).as("__total"))
    val p = col("n") / col("__total")
    freq.join(tot, idCol)
      .withColumn("__term", round(-p * log2(p), 9))
      .groupBy(idCol)
      .agg(sum(col("__term").cast(DecimalType(38, 9)))
        .cast("double").as("entropy_bits"))
  }

  /** Corpus-conditional unigram surprisal per document — the n-gram-LM
    * quality proxy: mean −log2 P(w) with P(w) = corpus word freq / corpus
    * tokens.  Complements [[charEntropy]] (a doc scored against its OWN
    * distribution): boilerplate repeated corpus-wide scores LOW surprisal,
    * out-of-distribution gibberish HIGH — the cheap stand-in for LM
    * perplexity filtering when no model is at hand.
    *
    * Scale: the model is the vocab-sized word-frequency table; the
    * token→model join is co-partitioned on the word (the model was just
    * aggregated on that key), the corpus total rides in as a broadcast
    * scalar, and the per-doc mean is one groupBy.  Determinism: P is a
    * ratio of exact BIGINTs (identical double both engines), each term is
    * rounded to 9 dp BEFORE the decimal-accumulated sum (absorbs libm log
    * ulp differences — same discipline as [[charEntropy]]). */
  def unigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
    val model = toks.groupBy("w").agg(count(lit(1)).as("wf"))
    // total from the MODEL, not a third corpus scan (Σ wf ≡ token count)
    val total = model.agg(sum("wf").as("__tot"))
    // the SUM is emitted, not the mean: a final double division + round
    // lands on rounding boundaries the two engines resolve differently —
    // consumers divide by n_tokens themselves (charEntropy discipline)
    toks.join(model, "w")
      .crossJoin(broadcast(total))
      .withColumn("__term", round(-log2(col("wf") / col("__tot")), 9))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__term").cast(DecimalType(38, 9)))
          .cast("double").as("surprisal_bits_sum"))
  }

  /** DSIR-style importance log-weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS'23): score every
    * document by log2 p_target(doc)/p_raw(doc) under add-1-smoothed unigram
    * bag-of-words models — the target model estimated from the rows
    * matching `targetPred`, the raw model from the whole corpus.  Positive
    * weight = "looks more like the target domain than the corpus average";
    * feed the weights to [[mixtureKeep]]/weighted sampling to up-sample
    * target-like data (the resampling half of the paper).
    *
    * Same shape and determinism discipline as [[unigramSurprisal]]: both
    * models come from ONE token-level aggregation (the target count is a
    * conditional sum in the same groupBy — no second corpus scan), the
    * totals cross in as a broadcast 1-row frame, and each per-token
    * log-ratio is rounded to 9 dp then decimal-summed so the per-doc sum
    * is order-insensitive and engine-exact.  Smoothing is add-1 over the
    * RAW vocabulary (target ⊆ raw, so unseen-in-target tokens get mass
    * 1/(N_t+V), never a log of zero). */
  def dsirLogWeights(df: DataFrame, idCol: String, textCol: String,
                     targetPred: Column): DataFrame = {
    val toks = df.select(col(idCol), targetPred.as("__tgt"),
        explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
    val model = toks.groupBy("w").agg(count(lit(1)).as("rf"),
      sum(col("__tgt").cast(LongType)).as("tf"))
    val totals = model.agg(sum("rf").as("__rn"), sum("tf").as("__tn"),
      count(lit(1)).as("__v"))
    toks.join(model, "w")
      .crossJoin(broadcast(totals))
      .withColumn("__term", round(
        log2((col("tf") + 1) / (col("__tn") + col("__v"))) -
          log2((col("rf") + 1) / (col("__rn") + col("__v"))), 9))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__term").cast(DecimalType(38, 9)))
          .cast("double").as("log_weight_bits"))
  }

  /** Bigram character-LM scoring — the CCNet perplexity filter (Wenzek et
    * al., "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data", LREC'20 §4.3) with a char-bigram model standing in for
    * KenLM: train add-1-smoothed P(c₂|c₁) on the documents matching
    * `targetPred`, score EVERY document by total −log₂ P over its char
    * bigrams.  Low bits ≈ target-like (CCNet's "head" bucket), high ≈
    * gibberish/noise; complements [[unigramSurprisal]] (word-order-blind)
    * by scoring character TRANSITIONS, so shuffled characters score worse
    * even when the unigram bag is identical.
    *
    * Returns `(doc_id, n_bigrams, nll_bits)` where `nll_bits` is the SUM
    * (not mean — consumers divide by `n_bigrams`; final-division rounding
    * is the one step the two engines resolve differently, the
    * [[charEntropy]] discipline).  Docs shorter than 2 chars have no
    * bigrams and drop out, like empty docs under tokenization.
    *
    * Scale shape: the model is |alphabet|²-bounded (a few KB regardless of
    * corpus size) — the bigram→pair-count join is co-partitioned on the
    * key it was just aggregated on, the context table and the vocab scalar
    * ride in broadcast.  Determinism: counts are exact BIGINTs, each term
    * rounds to 9 dp BEFORE the decimal-accumulated sum. */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String,
                    targetPred: Column): DataFrame = {
    val t = col(textCol)
    val grams = df.select(col(idCol), targetPred.as("__tgt"),
        explode(when(length(t) >= 2,
            transform(sequence(lit(1), length(t) - 1), i => t.substr(i, lit(2))))
          .otherwise(array())).as("big"))
    val tgt = grams.filter(col("__tgt"))
    val pairs = tgt.groupBy("big").agg(count(lit(1)).as("n2"))
    val ctx = tgt.groupBy(substring(col("big"), 1, 1).as("c1"))
      .agg(count(lit(1)).as("n1"))
    val vocab = tgt.agg(
      countDistinct(substring(col("big"), 2, 1)).as("__v"))
    grams
      .join(pairs, Seq("big"), "left")
      .join(broadcast(ctx), substring(col("big"), 1, 1) === col("c1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("__term", round(-log2(
        (coalesce(col("n2"), lit(0L)) + 1) /
          (coalesce(col("n1"), lit(0L)) + col("__v"))), 9))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__term").cast(DecimalType(38, 9)))
          .cast("double").as("nll_bits"))
  }

  /** Registrable host of a URL-ish string — the web-curation group key
    * (per-domain quotas, blocklists, crawl-politeness accounting all key on
    * it).  Pure regex capture, shuffle-free; yields "" for non-URLs, which
    * groups the un-parseable remainder into one visible bucket instead of
    * dropping it. */
  def urlHost(c: Column): Column =
    regexp_extract(c, "^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)

  /** Deterministic, engine-portable sampling predicate: md5-hash the key,
    * keep `permille`/1000 of rows.  Unlike `df.sample` (seed + partition
    * dependent — not reproducible under AQE re-planning or retries), this is
    * a pure function of the KEY: stable across runs, engines, and cluster
    * layouts, and stratifies per group by construction when grouped
    * downstream.  The sampling unit is whatever the key identifies (doc,
    * user, …), so correlated rows stay together. */
  def sampleHash(key: Column, permille: Int): Column =
    (tokenHash(key.cast("string")) % 1000) < permille

  /** Deterministic train/val/test assignment from the same md5 key space:
    * permille bands [0, trainPm) → train, [trainPm, trainPm+valPm) → val,
    * rest → test.  Key-stable, so a document keeps its split across reruns
    * and incremental loads — the property that prevents train/test
    * contamination when the corpus grows. */
  def splitLabel(key: Column, trainPm: Int = 800, valPm: Int = 100): Column = {
    val h = tokenHash(key.cast("string")) % 1000
    when(h < trainPm, "train").when(h < trainPm + valPm, "val").otherwise("test")
  }

  /** [[sampleHash]] with a per-ROW rate: the mixture-weighting primitive.
    * Join a (group → permille) dim — broadcast, it's tiny — and keep each
    * row iff its key hash lands under ITS group's rate.  This is how a
    * 100 TB pretraining mix is re-weighted (up/down-sample sources toward
    * target proportions) in one scan with zero shuffles: the only join is
    * a broadcast hash join, the predicate is per-row arithmetic. */
  def mixtureKeep(key: Column, permille: Column): Column =
    (tokenHash(key.cast("string")) % 1000) < permille

  /** Deterministic per-group token-budget cut: within each group, take
    * documents in md5-key order until the cumulative token count would
    * exceed `budget`.  The budget-capped complement of [[mixtureKeep]]:
    * rates target PROPORTIONS, budgets target absolute per-source token
    * counts (the way pretraining mixes are actually specified).  Key-order
    * = hash-order, so the cut is an unbiased sample, stable across reruns
    * and corpus growth (a doc already inside the budget stays inside as
    * long as no earlier-hashed doc appears).  One partitioned window —
    * shuffles once on the group key. */
  def takeTokenBudget(df: DataFrame, groupCol: String, keyCol: String,
                      tokCount: Column, budget: Long): DataFrame = {
    val w = Window.partitionBy(groupCol)
      .orderBy(hashOrderKey(col(keyCol)), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(groupCol), col(keyCol), tokCount.cast(LongType).as("n_tokens"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** Deterministic weighted sample (Efraimidis–Spirakis A-ES): each row gets
    * key `u^(1/w)` for a per-row uniform `u`; the global top-k by key IS a
    * weighted sample without replacement — a doc with twice the weight has
    * twice the odds, yet selection is one `TakeOrderedAndProject` (per-
    * partition heap + driver merge of k rows: constant memory at any corpus
    * size, no pre-shuffle, no rejection loop).
    *
    * The uniform comes from a multiplicative hash of the INTEGER id
    * (Knuth's 2654435761 mod 2³²) — pure BIGINT arithmetic, so Spark and
    * any SQL oracle derive bit-identical `u` (no engine RNG, no float
    * parsing of hex digests); +0.5 keeps u strictly inside (0,1) so
    * `ln(u)` is finite.  Rank by `ln(u)/w` descending, which orders like
    * `u^(1/w)` (monotone for w>0: ln u < 0).  The key itself is NOT
    * returned: `ln` is not correctly-rounded-guaranteed across engines, so
    * emitting it would make cross-engine hashes flap in the last ulp —
    * selection and ORDER only depend on it through comparisons, where a
    * sub-ulp discrepancy cannot realistically flip distinct keys. */
  def sampleWeighted(df: DataFrame, idCol: String, weightCol: Column,
                     k: Int): DataFrame = {
    // pre-mod by the constant keeps the product < 2^63: Java would wrap
    // silently on overflow but a SQL oracle's BIGINT errors — keep both
    // engines inside exact range at any id magnitude
    val u = ((col(idCol).cast(LongType) % lit(2654435761L)) * lit(2654435761L)
      % lit(4294967296L) + lit(0.5)) / lit(4294967296.0)
    df.withColumn("__aes", log(u) / weightCol)
      .orderBy(col("__aes").desc, col(idCol))
      .limit(k)
      .drop("__aes")
  }

  // ------------------------------------------------- sequence packing
  /** Concat-and-chunk sequence packing (the GPT-pretraining layout): within
    * each `groupCol` stream, documents are concatenated in `orderCol` order
    * and the token stream is cut into fixed `budget`-token training
    * sequences; each document reports the chunk span it lands in.
    *
    * One partitioned window (running token sum) — the pack ids are pure
    * integer arithmetic on it (`x − x mod B)/B`, never a double `floor`
    * division, which can misbin near chunk boundaries).  Shuffles once on
    * the group key; at 100 TB the "group" is a shard/source so streams pack
    * independently and no global order is imposed (a GLOBAL concat order
    * would funnel the corpus through one task — the partition-less-window
    * anti-pattern this engine bans).
    *
    * A zero-token document is reported at the chunk where its (empty) span
    * starts, with `n_chunks` 1 — deterministic, and callers filtering empty
    * docs upstream (the usual quality gate) never see the case. */
  def packChunks(df: DataFrame, groupCol: String, orderCol: String,
                 tokCount: Column, budget: Int): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val B = lit(budget.toLong)
    def chunkOf(x: Column): Column = ((x - pmod(x, B)) / B).cast(LongType)
    df.select(col(groupCol), col(orderCol), tokCount.cast(LongType).as("n_tokens"))
      .withColumn("__end", sum("n_tokens").over(w))
      .withColumn("__start", col("__end") - col("n_tokens"))
      .select(col(groupCol), col(orderCol), col("n_tokens"),
        chunkOf(col("__start")).as("first_chunk"),
        chunkOf(greatest(col("__end") - 1, col("__start"))).as("last_chunk"))
      .withColumn("n_chunks", col("last_chunk") - col("first_chunk") + 1)
  }

  /** Sliding-window token chunking with overlap (the RAG / context-window
    * layout, complement of [[packChunks]]): each document yields chunks of
    * `window` tokens whose starts step by `stride` (< `window` ⇒ adjacent
    * chunks overlap by `window − stride` tokens, preserving cross-boundary
    * context).  Chunk count `1 + ceil(max(n−window, 0) / stride)` in pure
    * integer arithmetic; a zero-token document yields one empty chunk so no
    * document silently disappears from the chunk index.
    *
    * Embarrassingly parallel — one Generate per row, NO shuffle, NO window
    * function: chunk positions derive from each row alone, so the operator
    * scales with the scan.  Output rows are (id, chunk_id, start_tok,
    * n_tok, chunk_hash): the hash (md5 of the space-joined slice) is what
    * downstream chunk-level dedup/indexes key on; callers wanting the text
    * re-slice it from the tokens at write time. */
  def chunkOverlap(df: DataFrame, textCol: String, idCol: String,
                   window: Int, stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1, s"window/stride must be >= 1")
    val S = lit(stride.toLong)
    val over = greatest(size(tokens(col(textCol))).cast(LongType) - window, lit(0L))
    // exact integer ceil-div: the numerator is a multiple of S by construction
    val k = lit(1L) + ((over + stride - 1 - pmod(over + stride - 1, S)) / S).cast(LongType)
    val chunkToks = expr(s"slice(__t, __start + 1, $window)")
    df.select(col(idCol), tokens(col(textCol)).as("__t"), k.as("__k"))
      .select(col(idCol), col("__t"),
        explode(expr("sequence(0L, __k - 1)")).as("chunk_id"))
      .withColumn("__start", col("chunk_id") * S)
      .select(col(idCol), col("chunk_id"), col("__start").as("start_tok"),
        size(chunkToks).cast(LongType).as("n_tok"),
        md5(concat_ws(" ", chunkToks)).as("chunk_hash"))
  }

  // ---------------------------------------------------------- text analysis
  /** Rolling polynomial fingerprint over tokens: fold (acc·31 + h(t)) mod M,
    * seed 7 — an order-sensitive document fingerprint (unlike the set-based
    * minhash). */
  def fingerprint(textCol: Column): Column =
    aggregate(tokens(textCol), lit(7L), (acc, t) => (acc * 31 + tokenHash(t) % M) % M)

  val EnStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")
  private val TechWords: Seq[String] = Seq("spark", "data", "query", "stream", "batch")

  /** Language-ID heuristic: score token overlap against per-class lexicons
    * (n-gram-frequency heuristics degenerate to lexicon hits on whitespace
    * token text).  Deterministic tie-break order: en > tech > unknown. */
  def langIdHeuristic(textCol: Column): Column = {
    val t = tokens(textCol)
    val en = size(filter(t, x => x.isin(EnStopwords: _*)))
    val tech = size(filter(t, x => x.isin(TechWords: _*)))
    when(en > tech, "en").when(tech > en, "tech").otherwise("unknown")
  }

  /** Quality scoring: length, token count, type-token ratio, stopword ratio,
    * and a bounded composite score — all exact rational arithmetic so the
    * oracle matches bit-for-bit. */
  def qualityColumns(textCol: Column): Seq[(String, Column)] = {
    val t = tokens(textCol)
    val nTok = size(t).cast(LongType)
    val nDistinct = size(array_distinct(t)).cast(LongType)
    val nStop = size(filter(t, x => x.isin(EnStopwords: _*))).cast(LongType)
    val ttr = nDistinct.cast("double") / nTok
    val stopRatio = nStop.cast("double") / nTok
    val score = round(ttr * 0.5 + (lit(1.0) - stopRatio) * 0.3 +
      least(lit(1.0), nTok.cast("double") / 50.0) * 0.2, 6)
    Seq("n_chars_actual" -> length(textCol).cast(LongType), "n_tokens" -> nTok,
      "n_distinct" -> nDistinct, "ttr" -> round(ttr, 6),
      "stopword_ratio" -> round(stopRatio, 6), "quality_score" -> score)
  }

  /** The Gopher rule battery (Rae et al., "Scaling Language Models: ...
    * Gopher", arXiv:2112.11446, §A1.1) — the NAMED document-level quality
    * gates most pre-training corpora start from, each emitted as its own
    * boolean so a corpus report can show WHICH rule kills a document, plus
    * the conjunctive keep.  Thresholds are the paper's, restated as
    * INTEGER cross-multiplications (3 ≤ mean ≤ 10 becomes 3n ≤ Σlen ≤ 10n)
    * so both engines decide every boundary case identically — no float
    * division ever reaches a comparison.
    *
    * Word-level rules only: the line-shape rules (bullet/ellipsis line
    * fractions) need a line-preserving ingest, and [[tokens]] operates on
    * the whitespace-tokenized body. */
  def gopherRules(textCol: Column): Seq[(String, Column)] = {
    val t = tokens(textCol)
    val n = size(t).cast(LongType)
    val sumLen = aggregate(t, lit(0L), (acc, x) => acc + length(x))
    val nSymbol = size(filter(t, x => x.contains("#") || x.contains("..."))).cast(LongType)
    val nAlpha = size(filter(t, x => x.rlike("[A-Za-z]"))).cast(LongType)
    val nStopKinds = size(array_intersect(array_distinct(t),
      array(EnStopwords.map(lit): _*))).cast(LongType)
    Seq(
      "r_word_count" -> (n >= 50 && n <= 100000),
      "r_mean_word_len" -> (sumLen >= n * 3 && sumLen <= n * 10),
      "r_symbol_ratio" -> (nSymbol * 10 <= n),
      "r_alpha_words" -> (nAlpha * 5 >= n * 4),
      "r_stopwords" -> (nStopKinds >= 2)
    ) :+ ("keep" -> (n >= 50 && n <= 100000 && sumLen >= n * 3 &&
      sumLen <= n * 10 && nSymbol * 10 <= n && nAlpha * 5 >= n * 4 &&
      nStopKinds >= 2))
  }

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs | single digits | other non-space marks). */
  def tokenCounts(textCol: Column): Seq[(String, Column)] = Seq(
    "ws_tokens" -> size(tokens(textCol)).cast(LongType),
    "bpe_tokens" -> regexp_count(textCol, lit("[a-z]+|[0-9]|[^a-z0-9 ]")).cast(LongType))

  // ------------------------------------------------- segment-level dedup
  /** One row per (doc, fixed-`words`-token segment) — sub-document dedup
    * granularity (the C4/RefinedWeb paragraph-dedup shape).  Real corpora
    * segment on structural separators (`\n\n`); the fixtures carry none, so
    * the registered query uses fixed word windows — the relational machinery
    * downstream (frequency count + equi-join back) is identical either way.
    * Same physical discipline as [[shingleRows]]: the token array
    * materializes below a repartition-by-doc exchange so the transform
    * lambda runs over an in-memory array, and the exchange key matches the
    * downstream groupBy. */
  def segmentRows(df: DataFrame, textCol: String, idCol: String,
                  words: Int): DataFrame = {
    val t = col("__t")
    val nSeg = ceil(size(t).cast("double") / words).cast(LongType)
    df.select(col(idCol).as("doc"), tokens(col(textCol)).as("__t"))
      .repartition(col("doc"))
      .select(col("doc"), explode(
        when(size(t) > 0, transform(sequence(lit(0L), nSeg - 1),
          i => array_join(slice(t, (i * words + 1).cast("int"), lit(words)), " ")))
          .otherwise(array().cast("array<string>"))).as("segment"))
  }

  /** Per-document segment-dedup stats: how many of a doc's segments also
    * occur in at least one OTHER document.  Segment frequency is one
    * hash-partitioned groupBy; the join back is an equi-join on the segment
    * string — never all-pairs.  At 100 TB the segment relation is the same
    * scale-shape as the shingle relation (linear in corpus tokens). */
  def segmentDedupStats(df: DataFrame, textCol: String, idCol: String,
                        words: Int): DataFrame = {
    val seg = segmentRows(df, textCol, idCol, words)
    val freq = seg.groupBy("segment").agg(countDistinct("doc").as("__ndocs"))
    seg.join(freq, Seq("segment"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("__ndocs") > 1, 1L).otherwise(0L)).as("n_dup_segments"))
  }

  /** Cross-document duplicate-segment REMOVAL with order-preserving
    * document reconstruction — the RefinedWeb/CCNet line-dedup shape
    * (boilerplate lines shared by many pages get cut; each page is then
    * re-assembled from its surviving lines in original order).  Fixtures
    * carry no newlines, so segmentation is the fixed-word-window form of
    * [[segmentRows]] with the POSITION kept: posexplode → segment
    * frequency (one hash-partitioned groupBy) → equi-join back → filter
    * `ndocs <= maxDocs` → per-doc `array_sort(collect_list(struct(pos,
    * segment)))` rebuild.  Documents whose every segment was cut leave the
    * corpus (the dedup REMOVES them, same as exact dedup would).
    *
    * Scale shape: linear in corpus tokens — segment relation ≈ token
    * relation, frequency is map-side-combined, the join back is an
    * equi-join on the segment string, and the rebuild state per doc is the
    * doc's own surviving segments (bounded by document length, the same
    * bound the ingest already guarantees).  Never all-pairs. */
  def dedupSegmentsRewrite(df: DataFrame, textCol: String, idCol: String,
                           words: Int, maxDocs: Int = 1): DataFrame = {
    val t = col("__t")
    val nSeg = ceil(size(t).cast("double") / words).cast(LongType)
    val seg = df.select(col(idCol).as("doc"), tokens(col(textCol)).as("__t"))
      .repartition(col("doc"))
      .select(col("doc"), posexplode(
        when(size(t) > 0, transform(sequence(lit(0L), nSeg - 1),
          i => array_join(slice(t, (i * words + 1).cast("int"), lit(words)), " ")))
          .otherwise(array().cast("array<string>"))))
      .withColumnRenamed("col", "segment")
    val freq = seg.groupBy("segment").agg(countDistinct("doc").as("__ndocs"))
    seg.join(freq, Seq("segment"))
      .filter(col("__ndocs") <= maxDocs)
      .groupBy("doc")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("segment")))),
          x => x.getField("segment")), " ").as("clean_text"))
  }

  // ------------------------------------------------- text normalization
  /** Normalization pass for scraped text: strip markup tags, collapse
    * whitespace runs, trim, casefold.  A pure per-row expression chain — no
    * shuffle, no state: the shape of a 100 TB cleanup pass (plans entirely
    * inside one WholeStageCodegen span).  Tags become spaces (not empty
    * strings) so `<br>` between words can't weld tokens together. */
  def normalizeMarkup(c: Column): Column =
    lower(trim(regexp_replace(regexp_replace(c, "<[^>]*>", " "), "\\s+", " ")))

  /** Adjacent-token bigrams via zip_with over offset slices — NOT
    * `sequence(1, n-1)` indexing, which DESCENDS for n < 2 (the
    * [[shinglesOf]] guard, avoided structurally here: both slices are empty
    * for single-token docs, so zip_with yields an empty array). */
  def bigramsOf(t: Column): Column =
    zip_with(slice(t, lit(1), greatest(size(t) - 1, lit(0))),
      slice(t, lit(2), greatest(size(t) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))

  /** Corpus-level top-k bigram counts (deterministic tie-break on the
    * bigram string).  Explode is pipelined (Generate, no shuffle); the count
    * is one hash aggregation with map-side partials; top-k plans as
    * TakeOrderedAndProject — a per-partition heap, never a global sort. */
  def topBigrams(df: DataFrame, textCol: String, k: Int): DataFrame =
    // no repartition barrier here: bigramsOf references the token array from
    // plain slice/size args (not per-element lambdas), so CollapseProject
    // re-inlining the split costs a constant few splits per ROW — unlike the
    // per-shingle-index re-split shingleRows guards against.
    df.select(explode(bigramsOf(tokens(col(textCol)))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram")).limit(k)

  /** PMI-ranked collocations (Church & Hanks '90): bigrams whose observed
    * rate beats the independence prediction of their parts — PMI =
    * ln[(c(xy)/B) / ((c(x)/T)·(c(y)/T))] with B total bigrams, T total
    * tokens.  Raw frequency (see [[topBigrams]]) surfaces boilerplate
    * ("of the"); PMI surfaces the corpus's multiword TERMS ("machine
    * learning"), which is what a tokenizer-vocab or phrase-mining pass
    * wants.  `minCount` guards the classic PMI pathology (hapax pairs
    * score highest); returns the `topK` rows `(bigram, n_xy, c_x, c_y,
    * pmi)` ordered by (pmi desc, bigram).
    *
    * Scale shape: one pipelined explode per stat (bigrams, unigrams),
    * map-side-combined counts, and the ≥`minCount` bigram table — small
    * by construction — joins the vocab-sized unigram counts (AQE
    * broadcasts the filtered side); totals cross in as broadcast 1-row
    * frames.  Determinism: PMI is IEEE arithmetic on exact BIGINTs in a
    * fixed parenthesization, 9-dp-rounded to absorb the ≤1-ulp libm ln
    * spread; ties break on the bigram string. */
  def pmiCollocations(df: DataFrame, textCol: String,
                      minCount: Long = 5, topK: Int = 30): DataFrame = {
    val toks = tokens(col(textCol))
    val bc = df.select(explode(bigramsOf(toks)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_xy"))
    val bt = bc.agg(sum("n_xy").as("__t_bi"))
    val uc = df.select(explode(toks).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__c"))
    val ut = uc.agg(sum("__c").as("__t_tok"))
    bc.filter(col("n_xy") >= minCount)
      .withColumn("__x", split(col("bigram"), " ").getItem(0))
      .withColumn("__y", split(col("bigram"), " ").getItem(1))
      .join(uc.select(col("__w").as("__x"), col("__c").as("c_x")), Seq("__x"))
      .join(uc.select(col("__w").as("__y"), col("__c").as("c_y")), Seq("__y"))
      .crossJoin(broadcast(bt)).crossJoin(broadcast(ut))
      .withColumn("pmi", round(log((col("n_xy") / col("__t_bi")) /
        ((col("c_x") / col("__t_tok")) * (col("c_y") / col("__t_tok")))), 9))
      .select("bigram", "n_xy", "c_x", "c_y", "pmi")
      .orderBy(desc("pmi"), col("bigram"))
      .limit(topK)
  }

  // ----------------------------------------------------------- BPE induction
  /** Corpus word-frequency table — the input to BPE training.  One
    * corpus-sized explode, vocab-sized output: everything downstream of
    * this (pair counting, merge rounds) runs on DISTINCT WORDS weighted by
    * frequency, the classic trick that makes tokenizer induction cheap
    * regardless of corpus size. */
  def wordFreqs(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("f"))

  /** Adjacent-symbol pair frequencies over a (syms array<string>, f) word
    * table: the statistic each BPE round takes its argmax from.  Pure
    * slice/zip_with arithmetic (no per-element re-split), one explode +
    * one groupBy on the vocab-sized table.  Symbols never contain spaces
    * (words come from whitespace tokenization), so "a b" is a safe pair
    * encoding. */
  def bpePairCounts(words: DataFrame): DataFrame = {
    val s = col("syms")
    val pairs = zip_with(slice(s, lit(1), size(s) - 1), slice(s, lit(2), size(s) - 1),
      (a, b) => concat_ws(" ", a, b))
    words.select(explode(pairs).as("pair"), col("f"))
      .groupBy("pair").agg(lsum(col("f")).as("freq"))
  }
  private def lsum(c: Column): Column = sum(c).cast("long")

  /** One greedy left-to-right merge pass of the pair (a, b) over a symbol
    * array — a NATIVE fold (`aggregate` higher-order function), no UDF: the
    * accumulator carries (out, prev) and ties resolve leftmost-first,
    * exactly like the reference BPE algorithm. */
  def bpeMerge(syms: Column, a: String, b: String): Column = {
    val init = struct(array().cast("array<string>").as("out"),
      lit(null).cast("string").as("prev"))
    aggregate(syms, init,
      (acc, x) => {
        val out = acc.getField("out"); val prev = acc.getField("prev")
        when(prev === lit(a) && x === lit(b),
          struct(concat(out, array(lit(a + b))).as("out"),
            lit(null).cast("string").as("prev")))
          .otherwise(struct(
            when(prev.isNull, out).otherwise(concat(out, array(prev))).as("out"),
            x.as("prev")))
      },
      acc => when(acc.getField("prev").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"), array(acc.getField("prev")))))
  }

  /** BPE merge-table training (tokenizer induction): `numMerges` rounds of
    * count-pairs → global argmax → merge-everywhere, stopping early when no
    * pair repeats.  Each round is one explode+groupBy on the vocab-sized
    * word table plus a ONE-ROW collect (the argmax) — driver state is the
    * merge list only; the evolving word table stays distributed and is
    * localCheckpoint'd per round with superseded blocks freed (lineage
    * discipline as in [[Graph.connectedComponents]]).  Ties break on pair
    * text for cross-run determinism. */
  def bpeTrain(df: DataFrame, textCol: String, numMerges: Int): Seq[(String, String)] = {
    var words = wordFreqs(df, textCol)
      .select(split(col("word"), "").as("syms"), col("f"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var done = false
    while (merges.length < numMerges && !done) {
      val top = bpePairCounts(words)
        .orderBy(col("freq").desc, col("pair")).limit(1).collect()
      if (top.isEmpty || top(0).getLong(1) < 2) done = true
      else {
        val Array(a, b) = top(0).getString(0).split(" ", 2)
        merges += ((a, b))
        val next = words.select(bpeMerge(col("syms"), a, b).as("syms"), col("f"))
          .localCheckpoint()
        Graph.freeCheckpoint(words)
        words = next
      }
    }
    Graph.freeCheckpoint(words)
    merges.toList
  }

  /** BATCHED [[bpeTrain]] — identical merge table, ~K× fewer driver
    * round-trips: a 32k-merge production vocabulary under the sequential
    * trainer launches 32k argmax jobs back to back (the one
    * driver-sequential loop left in the engine); this variant collects the
    * TOP-K candidate pairs per round and accepts the longest prefix that
    * is provably what sequential BPE would have picked, applying the whole
    * prefix in ONE distributed pass.
    *
    * Why the prefix is exact (not approximate): a merge (x, y) only
    * changes counts of pairs SHARING a symbol with it — disjoint pairs'
    * counts are invariant — and every pair it CREATES occurs at most as
    * often as some existing pair sharing x or y (each "c·xy" was a
    * "c·x·y").  So accept ranked candidates c1, c2, … while (a) pairwise
    * symbol-disjoint INCLUDING each merged string a+b (stop at the first
    * conflict), then (b) shrink the prefix until its last member's count
    * strictly exceeds the best non-accepted candidate's (the collected
    * boundary bounds every uncollected pair too, ranking is total) — then
    * no created or surviving pair can reach any accepted count, ties
    * included, and sequential BPE picks exactly this prefix in exactly
    * this order.  Worst case the prefix is c1 alone and a round degrades
    * to the sequential step; rounds never exceed numMerges.
    *
    * Returns (merges, rounds) — rounds is the measured driver round-trip
    * count, the quantity batching exists to cut.  [[bpeTrain]] stays the
    * reference oracle; TextSpec pins batched ≡ sequential. */
  def bpeTrainBatched(df: DataFrame, textCol: String, numMerges: Int,
                      batchK: Int = 24): (Seq[(String, String)], Int) = {
    require(batchK >= 1, s"bpeTrainBatched: batchK $batchK < 1")
    // Rounds run in a Scoped child under Scoped.tuneRound (r16, the
    // graph-loop convention): the word-frequency table is vocabulary-
    // sized, so on a tiny materialized table AQE is disabled and each
    // round's two actions (top-k collect + merged-syms checkpoint)
    // pipeline as ONE job each instead of spawning AQE stage-jobs; a table
    // past the tiny bound keeps session AQE untouched.
    val parentSession = df.sparkSession
    Scoped.run(parentSession) { loopSession =>
    var words = Scoped.onto(wordFreqs(df, textCol)
        .select(split(col("word"), "").as("syms"), col("f")), loopSession)
      .localCheckpoint()
    Scoped.tuneRound(loopSession, parentSession, words)
    val merges = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var rounds = 0
    var done = false
    while (merges.length < numMerges && !done) {
      val remaining = numMerges - merges.length
      val k = math.min(batchK, remaining)
      // k+1: the boundary candidate that certifies the strict margin
      val top = bpePairCounts(words)
        .orderBy(col("freq").desc, col("pair")).limit(k + 1).collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .filter(_._2 >= 2)
      rounds += 1
      if (top.isEmpty) done = true
      else {
        // (a) maximal pairwise-disjoint prefix, first conflict terminates
        val taken = scala.collection.mutable.Set.empty[String]
        val prefix = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
        var stop = false
        for ((p, fq) <- top.take(k) if !stop) {
          val Array(a, b) = p.split(" ", 2)
          if (prefix.isEmpty ||
              (!taken(a) && !taken(b) && !taken(a + b))) {
            prefix += ((a, b, fq)); taken ++= Seq(a, b, a + b)
          } else stop = true
        }
        // (b) strict-margin shrink: the last accepted count must EXCEED
        // every non-accepted candidate (a dropped member joins the bound)
        var bound = top.lift(prefix.length).map(_._2).getOrElse(0L)
        while (prefix.length > 1 && prefix.last._3 <= bound) {
          bound = prefix.last._3
          prefix.remove(prefix.length - 1)
        }
        merges ++= prefix.map(m => (m._1, m._2))
        val batchedSyms = prefix.foldLeft(col("syms")) { (s, m) =>
          bpeMerge(s, m._1, m._2)
        }
        val next = words.select(batchedSyms.as("syms"), col("f"))
          .localCheckpoint()
        Graph.freeCheckpoint(words)
        words = next
      }
    }
    Graph.freeCheckpoint(words)
    (merges.toList, rounds)
    }
  }

  /** Apply a trained merge table to a word column → its subword segments
    * (merge order matters and is the training order, per the algorithm). */
  def bpeApply(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(split(word, ""))((s, m) => bpeMerge(s, m._1, m._2))

  /** CCNet-style LINE-LEVEL dedup (Wenzek et al. '19): split every
    * document into fixed `lineTokens`-token lines, keep only the globally
    * FIRST occurrence (by `(doc_id, pos)`) of each duplicated line, and
    * reassemble — boilerplate repeats across documents line-for-line, so
    * dropping repeats line-wise removes it without killing documents.
    * Returns `(doc_id, n_lines, n_kept, cleaned)`.
    *
    * Scale shape: ONE shuffle on the line key (the partitioned
    * first-occurrence window), one aggregation back to doc grain with an
    * ordered struct-sort reassembly — no pairwise comparison anywhere. */
  def lineDedup(docs: DataFrame, textCol: String, idCol: String,
                lineTokens: Int = 10): DataFrame = {
    require(lineTokens >= 1, s"lineDedup: lineTokens $lineTokens < 1")
    fixedWidthLines(docs, textCol, idCol, lineTokens)
      .withColumn("rn", row_number().over(
        Window.partitionBy("line").orderBy("doc_id", "pos")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("rn") === 1,
            struct(col("pos"), col("line"))))),
          st => st.getField("line")), " ").as("cleaned"))
  }

  /** `(doc_id, pos, line)` fixed-width token lines — the shared explode
    * under [[lineDedup]] and [[lineBoilerplate]]. */
  private def fixedWidthLines(docs: DataFrame, textCol: String,
                              idCol: String, lineTokens: Int): DataFrame = {
    val d = docs.select(col(idCol).as("doc_id"),
      split(trim(col(textCol)), " ").as("t"))
    d.select(col("doc_id"),
      posexplode(transform(
        sequence(lit(0),
          ((size(col("t")) + lit(lineTokens - 1)) / lit(lineTokens))
            .cast("int") - 1),
        i => array_join(slice(col("t"), i * lineTokens + 1, lit(lineTokens)), " "))))
      .toDF("doc_id", "pos", "line")
  }

  /** Zipf-law fit over the corpus token frequencies: least-squares slope
    * and intercept of log₂ freq on log₂ rank.  Natural language sits near
    * slope −1 (Zipf's law); a corpus drowning in boilerplate bends the
    * head flat, machine-generated text steepens the tail — so the slope
    * is a one-number corpus-health gauge to trend across ingests (pair
    * with [[Quality.psiDrift]] for the where-did-it-move view).
    *
    * Returns ONE row `(n_types, n_tokens, slope, intercept)`.  The
    * regression runs entirely on the VOCAB-sized frequency table: one
    * corpus explode (shared shape with [[wordFreqs]]), then the global
    * frequency rank comes from the two-stage offset operator paged by
    * FREQUENCY OCTAVE (⌊log₂ f⌋ — a prefix of the `(f desc, word)` order,
    * ≤ 64 pages, so driver state is 64 counts and no window ever sees
    * more than one octave) — the guardrail-clean global numbering —
    * then four decimal-summed moments and a closed-form solve.
    * Determinism: each log term (and each product of two such terms)
    * rounds to 9 dp before its DECIMAL(38,9) sum; the final solve is a
    * handful of IEEE ops on those reproducible doubles. */
  def zipfFit(df: DataFrame, textCol: String): DataFrame = {
    val freqs = wordFreqs(df, textCol)
    val keyed = freqs
      .withColumn("__page", -floor(log2(col("f"))).cast(LongType))
      .withColumn("__k", struct((-col("f")).as("nf"), col("word")))
    val ranked = Relational.withGlobalRowOffsets(keyed, "__page", "__k")
      .withColumn("rnk", col("global_row"))
    val terms = ranked.select(
      col("f"),
      round(log2(col("rnk")), 9).as("x"),
      round(log2(col("f")), 9).as("y"))
      .withColumn("xy", round(col("x") * col("y"), 9))
      .withColumn("xx", round(col("x") * col("x"), 9))
    def dsum9(c: Column) =
      sum(c.cast(DecimalType(38, 9))).cast("double")
    terms.agg(count(lit(1)).as("n_types"), sum("f").cast(LongType).as("n_tokens"),
        dsum9(col("x")).as("__sx"), dsum9(col("y")).as("__sy"),
        dsum9(col("xy")).as("__sxy"), dsum9(col("xx")).as("__sxx"))
      .withColumn("slope",
        (col("n_types") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("n_types") * col("__sxx") - col("__sx") * col("__sx")))
      .withColumn("intercept",
        (col("__sy") - col("slope") * col("__sx")) / col("n_types"))
      .select("n_types", "n_tokens", "slope", "intercept")
  }

  /** Term burstiness — the index of dispersion (variance-to-mean ratio,
    * Church & Gale "Poisson mixtures" '95) of each term's per-document
    * count, zero-docs included: a Poisson (uninteresting, function-word)
    * term sits near 1, a CONTENTFUL term that clumps into few documents
    * disperses far above it, and a templated term stamped once per page
    * collapses below — so the top of this ranking is the corpus's
    * keyword/topic lexicon and a drift gauge to trend across ingests.
    *
    * Closed form over the doc-term table: with N docs, tf = Σc and
    * tf² = Σc², population var/mean = tf²/tf − tf/N — two integer sums,
    * never a per-doc vector.  Returns the `topK` most bursty terms with
    * df ≥ `minDf` as `(word, df, tf, dispersion)`, totally ordered by
    * (dispersion desc, word).  Scale shape: one explode, a map-side-
    * combined (doc, word) count, one vocab-sized reduce, a broadcast
    * 1-row doc count, and a TakeOrderedAndProject top-k — no window, no
    * pairwise anything.  Determinism: dispersion is two IEEE divisions
    * and one subtraction on exact BIGINTs, identical in both engines. */
  def burstiness(docs: DataFrame, textCol: String, idCol: String,
                 minDf: Long = 3, topK: Int = 40): DataFrame = {
    val perDoc = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
    val nDocs = docs.agg(count(lit(1)).cast(LongType).as("__nd"))
    perDoc.groupBy("word").agg(
        count(lit(1)).as("df"),
        sum("c").cast(LongType).as("tf"),
        sum(col("c") * col("c")).cast(LongType).as("tf2"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(nDocs))
      .withColumn("dispersion",
        col("tf2") / col("tf") - col("tf") / col("__nd"))
      .select("word", "df", "tf", "dispersion")
      .orderBy(desc("dispersion"), col("word"))
      .limit(topK)
  }

  /** Duplicated-span profile — the distributed stand-in for suffix-array
    * exact-substring dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL'22): every `w`-token window (stride 1)
    * is fingerprinted; a window whose text occurs ≥ 2 times ANYWHERE in
    * the corpus (other docs or a within-doc repeat — both are the
    * memorization hazard) marks its `w` token positions as duplicated,
    * and each document reports how much of it is covered by duplicated
    * spans.  The `dup_frac` column is the drop/trim signal: ≈1 means the
    * doc is substantially a copy even when no single fingerprint matches
    * doc-level dedup.
    *
    * Returns `(doc_id, n_tok, n_dup_tok, dup_frac)` for EVERY doc (short
    * docs with no window report 0).  Scale shape: the window explode is
    * ~len rows/doc (the price of stride-1 sensitivity — the suffix-array
    * equivalent pays the same), the frequency cut is one groupBy on the
    * window key, the cover join is co-partitioned on that key, and the
    * position union is a distinct on (doc, position) — never a pairwise
    * comparison, never driver state. */
  def dupSpanProfile(docs: DataFrame, textCol: String, idCol: String,
                     w: Int = 8): DataFrame = {
    require(w >= 2, s"dupSpanProfile: window $w < 2")
    val d = docs
      .select(col(idCol).as("doc_id"), split(trim(col(textCol)), " ").as("t"))
      .withColumn("n_tok", size(col("t")).cast(LongType))
    val wins = d.filter(col("n_tok") >= w)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), (col("n_tok") - w).cast("int")),
        i => array_join(slice(col("t"), i + 1, lit(w)), " "))))
      .toDF("doc_id", "pos", "win")
    val dup = wins.groupBy("win").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2)
    val covered = wins.join(dup, "win")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("ti"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_tok"))
    d.select("doc_id", "n_tok").join(covered, Seq("doc_id"), "left")
      .withColumn("n_dup_tok", coalesce(col("n_dup_tok"), lit(0L)))
      .withColumn("dup_frac", col("n_dup_tok") / col("n_tok"))
  }

  /** Deterministic proportional source interleaving — stride scheduling
    * (Waldspurger & Weihl, OSDI'94) applied to training-data epoch order:
    * doc with hash-order rank r of a source holding n docs gets key
    * `(2r−1)/(2n)` ∈ (0,1), so sorting by the key spreads EVERY source
    * evenly across the whole epoch (source i appears at exact fractional
    * positions 1/2n, 3/2n, …) — no source exhausts early and no clump
    * exceeds the proportional share, the guarantee a hash shuffle
    * ([[hashOrderKey]]) only delivers statistically.  Complements
    * [[mixtureKeep]]/[[sampleWeighted]] (which docs) by fixing the ORDER.
    *
    * Scale shape: the within-source rank comes from the two-stage offset
    * operator with page = (source, first hash hex char) — the page prefix
    * is part of the hash order itself, so page-major concatenation IS
    * hash order within each source; driver state is one count per page
    * (16 × sources), never per-row.  Key arithmetic is two exact integer
    * scalings and one IEEE divide — bit-identical cross-engine.  Returns
    * `(doc_id, source, rank_in_source, stride_key)`; consumers sort by
    * `(stride_key, source)` for the epoch sequence. */
  def strideInterleave(df: DataFrame, idCol: String, srcCol: String): DataFrame = {
    val keyed = df.select(col(idCol), col(srcCol).as("source"),
        hashOrderKey(col(idCol)).as("__h"))
      .withColumn("__page", struct(col("source"),
        substring(col("__h"), 1, 1).as("hx")))
      .withColumn("__k", concat_ws("#", col("__h"),
        lpad(col(idCol).cast("string"), 12, "0")))
    val g = Relational.withGlobalRowOffsets(keyed, "__page", "__k")
    val bounds = g.groupBy("source").agg(min("global_row").as("__base"),
      count(lit(1)).as("__sz"))
    g.join(broadcast(bounds), "source")
      .withColumn("rank_in_source", col("global_row") - col("__base") + 1L)
      .withColumn("stride_key",
        (lit(2.0) * col("rank_in_source") - lit(1.0)) /
          (lit(2.0) * col("__sz")))
      .select(col(idCol), col("source"), col("rank_in_source"), col("stride_key"))
  }

  /** Boilerplate-line REMOVAL — the other half of CCNet's line pass:
    * where [[lineDedup]] keeps each line's FIRST occurrence, a line that
    * recurs across more than `maxDocs` DISTINCT documents is template
    * furniture (cookie banners, nav bars, license footers) and is dropped
    * from EVERY document, first occurrence included.  Lines at or under
    * the threshold keep all their occurrences — within-doc repetition is
    * repetition, not boilerplate, and [[lineDedup]] or the Gopher
    * repetition rules own that axis.  Returns the [[lineDedup]] shape
    * `(doc_id, n_lines, n_kept, cleaned)` so the two passes compose.
    *
    * Scale shape: ONE shuffle on the line key (count of distinct docs per
    * line — a groupBy, cheaper than lineDedup's ordered window), the
    * line→frequency join co-partitioned on the key it was just aggregated
    * on, one aggregation back to doc grain.  No pairwise comparison. */
  def lineBoilerplate(docs: DataFrame, textCol: String, idCol: String,
                      lineTokens: Int = 10, maxDocs: Int = 2): DataFrame = {
    require(lineTokens >= 1, s"lineBoilerplate: lineTokens $lineTokens < 1")
    require(maxDocs >= 1, s"lineBoilerplate: maxDocs $maxDocs < 1")
    val lines = fixedWidthLines(docs, textCol, idCol, lineTokens)
    val freq = lines.groupBy("line")
      .agg(countDistinct(col("doc_id")).as("__df"))
    lines.join(freq, "line")
      .withColumn("__keep", col("__df") <= maxDocs)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("pos"), col("line"))))),
          st => st.getField("line")), " ").as("cleaned"))
  }

  /** TRAINED linear quality probe — the missing tier between the
    * heuristic quality scores ([[gopherRules]], length/ratio features) and
    * a full learned filter (the fastText classifiers of Joulin et al. '16
    * that production pipelines train on seed labels — the GPT-3 data
    * recipe's quality-filter pattern, Brown et al. '20 §A): fit a least-
    * squares linear model on a SEED SLICE of the corpus, then score EVERY
    * document with the learned weights.  Features here are exact rationals
    * of per-doc token aggregates (x1 = token count, x2 = mean token
    * length) and the target y is the type-token ratio — stand-ins wired
    * for determinism; swapping richer features changes no plan shape.
    *
    * TRAINING IS ONE AGGREGATE: the 3×3 normal-equation Gram matrix and
    * the target moments are nine sums over the seed slice (map-side
    * combined, one reduce), the solve is Cramer's rule on the ONE
    * resulting row — fully declarative, no driver-side math, no
    * iteration — and scoring is a broadcast of the 1-row weight frame
    * into one corpus pass.  At 100 TB that is exactly one scan to train
    * and one to score; an F-feature probe grows the aggregate F²-wide,
    * never the pass count.
    *
    * Cross-engine determinism (the charEntropy discipline): features are
    * ratios of exact BIGINTs (identical doubles both engines); every Gram
    * term is rounded to 9 dp BEFORE a DECIMAL(38,9) accumulation (order-
    * independent exact sums); the Cramer expressions are written in ONE
    * fixed literal order mirrored verbatim by the oracle (IEEE double
    * arithmetic is deterministic given the order — only reassociation
    * could diverge, and neither engine reassociates float math); weights
    * round to 9 dp, scores to 6.  Output: one row per scoreable document
    * `(id, x1, x2, y, score, w0, w1, w2)`. */
  def qualityLinearProbe(docs: DataFrame, idCol: String, textCol: String,
                         seedPred: Column): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
    val feats = tok.groupBy(idCol).agg(
        count(lit(1)).as("__n"),
        sum(length(col("w"))).cast(LongType).as("__len"),
        countDistinct(col("w")).as("__d"))
      .select(col(idCol),
        col("__n").cast(DoubleType).as("x1"),
        (col("__len") / col("__n")).as("x2"),
        (col("__d") / col("__n")).as("y"))
    val w = solveGram3(gramAggregate(feats.filter(seedPred)), "qualityLinearProbe")
    feats.crossJoin(broadcast(w))
      .select(col(idCol), col("x1"), col("x2"), col("y"),
        round(col("w0") + col("w1") * col("x1") + col("w2") * col("x2"), 6)
          .as("score"),
        col("w0"), col("w1"), col("w2"))
  }

  /** The probes' shared 3×3 normal-equation aggregate over a seed frame
    * with columns `(x1, x2, y)`: nine map-side-combined sums, each term
    * rounded to 9 dp BEFORE a DECIMAL(38,9) accumulation so the sum is
    * exact and order-independent (the cross-engine discipline the probe
    * scaladoc states). */
  private def gramAggregate(seed: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    def d9(c: Column) = round(c, 9).cast(DecimalType(38, 9))
    seed.agg(
      count(lit(1)).cast(DoubleType).as("g00"),
      sum(d9(col("x1"))).cast(DoubleType).as("g01"),
      sum(d9(col("x2"))).cast(DoubleType).as("g02"),
      sum(d9(col("x1") * col("x1"))).cast(DoubleType).as("g11"),
      sum(d9(col("x1") * col("x2"))).cast(DoubleType).as("g12"),
      sum(d9(col("x2") * col("x2"))).cast(DoubleType).as("g22"),
      sum(d9(col("y"))).cast(DoubleType).as("b0"),
      sum(d9(col("x1") * col("y"))).cast(DoubleType).as("b1"),
      sum(d9(col("x2") * col("y"))).cast(DoubleType).as("b2"))
  }

  /** Cramer's rule on the 1-row symmetric Gram frame — ONE fixed literal
    * order, mirrored character-for-character by the DuckDB oracles.
    * LOUD on degeneracy: an empty seed slice (null sums) or a singular
    * Gram matrix (det 0 → null/NaN/∞ weights) raises naming `who` instead
    * of silently scoring every document null — the same fail-loud
    * contract as the engine's other gates.  The check is a codegen'd
    * conditional on the 1-row weight frame: zero cost when healthy. */
  private def solveGram3(g: DataFrame, who: String): DataFrame = {
    val det = col("g00") * (col("g11") * col("g22") - col("g12") * col("g12")) -
      col("g01") * (col("g01") * col("g22") - col("g12") * col("g02")) +
      col("g02") * (col("g01") * col("g12") - col("g11") * col("g02"))
    val det0 = col("b0") * (col("g11") * col("g22") - col("g12") * col("g12")) -
      col("g01") * (col("b1") * col("g22") - col("g12") * col("b2")) +
      col("g02") * (col("b1") * col("g12") - col("g11") * col("b2"))
    val det1 = col("g00") * (col("b1") * col("g22") - col("g12") * col("b2")) -
      col("b0") * (col("g01") * col("g22") - col("g12") * col("g02")) +
      col("g02") * (col("g01") * col("b2") - col("b1") * col("g02"))
    val det2 = col("g00") * (col("g11") * col("b2") - col("g12") * col("b1")) -
      col("g01") * (col("g01") * col("b2") - col("b1") * col("g02")) +
      col("b0") * (col("g01") * col("g12") - col("g11") * col("g02"))
    def guarded(c: Column, name: String) =
      when(col("g00").isNull || col("g00") === 0d || isnan(c) || c.isNull ||
          abs(c) === Double.PositiveInfinity,
        raise_error(concat(lit(s"$who: degenerate seed slice — empty or " +
          s"singular Gram system, no unique least-squares solution ($name="),
          coalesce(c.cast("string"), lit("null")), lit(", n_seed="),
          coalesce(col("g00").cast("string"), lit("0")), lit(")"))))
        .otherwise(c).as(name)
    g.select(
      guarded(round(det0 / det, 9), "w0"),
      guarded(round(det1 / det, 9), "w1"),
      guarded(round(det2 / det, 9), "w2"))
  }

  /** The k-unknown generalization of [[gramAggregate]]: normal-equation
    * sums over a seed frame with feature columns `x1..x{k-1}` and target
    * `y` (x0 ≡ the intercept's 1).  Same cross-engine discipline — every
    * term rounded to 9 dp BEFORE a DECIMAL(38,9) accumulation — emitted
    * from the SAME index loop as [[gramAggregateSqlK]] so the Spark and
    * DuckDB select-lists agree term for term. */
  private def gramAggregateK(seed: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    def d9(c: Column) = round(c, 9).cast(DecimalType(38, 9))
    def x(i: Int) = col(s"x$i")
    val terms =
      (for (i <- 0 until k; j <- i until k) yield {
        if (i == 0 && j == 0) count(lit(1)).cast(DoubleType).as("g00")
        else if (i == 0) sum(d9(x(j))).cast(DoubleType).as(s"g0$j")
        else sum(d9(x(i) * x(j))).cast(DoubleType).as(s"g$i$j")
      }) ++
      (0 until k).map { i =>
        if (i == 0) sum(d9(col("y"))).cast(DoubleType).as("b0")
        else sum(d9(x(i) * col("y"))).cast(DoubleType).as(s"b$i")
      }
    seed.agg(terms.head, terms.tail: _*)
  }

  /** The DuckDB select-list mirroring [[gramAggregateK]] — generated from
    * the same index loop so the two engines aggregate the same terms. */
  private[graft] def gramAggregateSqlK(k: Int): String = {
    val gs = for (i <- 0 until k; j <- i until k) yield {
      if (i == 0 && j == 0) "CAST(COUNT(*) AS DOUBLE) AS g00"
      else if (i == 0)
        s"CAST(SUM(CAST(round(x$j, 9) AS DECIMAL(38,9))) AS DOUBLE) AS g0$j"
      else
        s"CAST(SUM(CAST(round(x$i * x$j, 9) AS DECIMAL(38,9))) AS DOUBLE) AS g$i$j"
    }
    val bs = (0 until k).map { i =>
      if (i == 0) "CAST(SUM(CAST(round(y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS b0"
      else s"CAST(SUM(CAST(round(x$i * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS b$i"
    }
    (gs ++ bs).mkString(",\n             ")
  }

  /** Fixed-order Gaussian elimination (NO pivoting) on the k×k symmetric
    * Gram system, as a PROGRAM: a sequence of stages, each a list of
    * `(name, scalar SQL expression over prior names)` — rendered ONCE and
    * parsed by BOTH engines (Spark via `expr`, DuckDB via a CTE chain), so
    * the literal operation order — the only thing that could make IEEE
    * double results diverge — is shared by construction, the same
    * discipline [[solveGram3]] achieves by hand for k = 3.
    *
    * No pivoting is sound here: the Gram matrix of a non-degenerate seed
    * is symmetric positive definite, whose elimination pivots are the
    * (positive) Cholesky diagonal squares — and symmetry is preserved by
    * every trailing submatrix, so only the upper triangle is tracked.  A
    * DEGENERATE seed (empty, or a feature constant / linearly dependent on
    * others over the seed slice) drives a pivot to exactly 0; every
    * division in the program short-circuits a zero denominator to NULL
    * (`CASE WHEN d = 0 THEN NULL ELSE n / d END` — Spark 4's default ANSI
    * mode would otherwise raise an anonymous DIVIDE_BY_ZERO before the
    * named guard runs, and DuckDB agrees on the NULL), the NULL propagates
    * to the weights, and the caller's weight guard `raise_error`s loudly
    * naming the probe instead of scoring garbage. */
  private[graft] def gramSolveProgram(k: Int): Seq[Seq[(String, String)]] = {
    // entry (i ≤ j) / rhs i as named after `s` completed elimination
    // stages: stage 0 names are the Gram aggregate's own columns
    def a(s: Int, i: Int, j: Int) = if (s == 0) s"g$i$j" else s"s${s}_a$i$j"
    def b(s: Int, i: Int) = if (s == 0) s"b$i" else s"s${s}_b$i"
    val stages = scala.collection.mutable.Buffer.empty[Seq[(String, String)]]
    for (p <- 0 until k - 1) {
      // row-multiplier factors for pivot p, then the rank-1 update of the
      // trailing triangle + rhs — two stages so updates may reference the
      // factors by name in both renderings
      stages += (for (i <- p + 1 until k) yield
        (s"f${p}_$i", s"(CASE WHEN ${a(p, p, p)} = 0 THEN NULL " +
          s"ELSE ${a(p, p, i)} / ${a(p, p, p)} END)"))
      stages += ((for (i <- p + 1 until k; j <- i until k) yield
        (a(p + 1, i, j), s"${a(p, i, j)} - f${p}_$i * ${a(p, p, j)}")) ++
        (for (i <- p + 1 until k) yield
          (b(p + 1, i), s"${b(p, i)} - f${p}_$i * ${b(p, p)}")))
    }
    // back substitution, one stage per unknown (each references the later
    // w's by name); row i is final after its own pivot stage i
    for (i <- (k - 1) to 0 by -1) {
      val terms = ((i + 1) until k).map(j => s" - ${a(i, i, j)} * w$j").mkString
      stages += Seq((s"w$i", s"(CASE WHEN ${a(i, i, i)} = 0 THEN NULL " +
        s"ELSE (${b(i, i)}$terms) / ${a(i, i, i)} END)"))
    }
    stages.toSeq
  }

  /** Render [[gramSolveProgram]] as the DuckDB CTE chain
    * `e0 AS (...), e1 AS (...), …, w AS (SELECT round(w0,9) AS w0, …)`
    * reading the Gram CTE `fromCte`. */
  private[graft] def gramSolveSqlK(k: Int, fromCte: String): String = {
    val stages = gramSolveProgram(k)
    val ctes = stages.zipWithIndex.map { case (stage, ix) =>
      val prev = if (ix == 0) fromCte else s"e${ix - 1}"
      val sel = stage.map { case (n, e) => s"$e AS $n" }.mkString(",\n               ")
      s"e$ix AS (SELECT *,\n               $sel\n             FROM $prev)"
    }
    val ws = (0 until k).map(i => s"round(w$i, 9) AS w$i").mkString(", ")
    (ctes :+ s"w AS (SELECT $ws FROM e${stages.size - 1})").mkString(",\n         ")
  }

  /** Run [[gramSolveProgram]] on the 1-row Gram frame and return the
    * 9-dp-rounded weights `w0..w{k-1}`, guarded LOUDLY on degeneracy (the
    * [[solveGram3]] contract: an empty seed or a singular system raises
    * naming `who` instead of silently scoring every document null). */
  private def solveGramK(g: DataFrame, k: Int, who: String): DataFrame = {
    val solved = gramSolveProgram(k).foldLeft(g) { (df, stage) =>
      df.select(col("*") +: stage.map { case (n, e) => expr(e).as(n) }: _*)
    }
    def guarded(c: Column, name: String) =
      when(col("g00").isNull || col("g00") === 0d || isnan(c) || c.isNull ||
          abs(c) === Double.PositiveInfinity,
        raise_error(concat(lit(s"$who: degenerate seed slice — empty or " +
          s"singular Gram system, no unique least-squares solution ($name="),
          coalesce(c.cast("string"), lit("null")), lit(", n_seed="),
          coalesce(col("g00").cast("string"), lit("0")), lit(")"))))
        .otherwise(c).as(name)
    solved.select((0 until k).map(i => guarded(round(col(s"w$i"), 9), s"w$i")): _*)
  }

  /** Gopher-LABEL-trained linear probe — the actual production
    * quality-filter serving pattern (heuristic labels → learned scorer →
    * corpus pass; the fastText-classifier recipe of Joulin et al. '16 as
    * used by the GPT-3 data pipeline, Brown et al. '20 §A): where
    * [[qualityLinearProbe]] fits a self-supervised proxy target, this fits
    * the same oracle-exact Gram pipeline against the conjunctive
    * [[gopherRules]] keep as the label (y ∈ {0, 1}), i.e. a linear
    * probability model distilling the rule battery into a smooth score —
    * and reports HELD-OUT AGREEMENT (the fraction of non-seed documents
    * whose thresholded score reproduces their Gopher label) so the
    * distillation quality is measured inside the query, not assumed.
    *
    * FIVE features spanning the rule battery's measurable signals, fit as
    * a 6×6 normal-equation system via [[solveGramK]]:
    * x1 = the word-count rule indicator, x2 = mean token length,
    * x3 = the bounded length n/(n+50) (exact-rational, crosses ½ at the
    * rule's n=50 knee), x4 = stopword-kind count, x5 = the stopword rule
    * indicator.  The battery's symbol-ratio and alpha-ratio signals are
    * deliberately NOT features: both are constant over this corpus (their
    * rules pass for every document), so as features they are exactly
    * collinear with the intercept — a singular Gram system the solve would
    * (correctly, loudly) reject.  With the boundary-aligned indicators the
    * probe separates the conjunction near-perfectly: measured holdout
    * agreement 0.99/1.0/0.994 at sf0.001/0.01/0.1 (vs 0.87–0.93 for the
    * 2-feature fit it replaces).
    *
    * Plan shape: feature extraction is per-document array aggregates (no
    * explode, no shuffle before the Gram reduce), training is the one
    * 27-sum [[gramAggregateK]], the solve is [[solveGramK]] on its single
    * row (pure projections — no exchange), and scoring + the agreement
    * reduce are one corpus pass each with the 1-row weight/agreement
    * frames broadcast — three scans total at any scale, none quadratic.
    * Determinism: the [[qualityLinearProbe]] discipline (exact-rational
    * features, 9 dp → DECIMAL(38,9) Gram terms, ONE generated elimination
    * order parsed by both engines, 6 dp scores; the agreement is an
    * integer ratio rounded to 6 dp).  An all-seed predicate (zero held-out
    * rows) `raise_error`s rather than broadcasting a silent null
    * agreement. */
  def qualityProbeGopher(docs: DataFrame, idCol: String, textCol: String,
                         seedPred: Column): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val t = tokens(col(textCol))
    val n = size(t).cast(LongType)
    val sumLen = aggregate(t, lit(0L), (acc, x) => acc + length(x))
    val nSymbol = size(filter(t, x => x.contains("#") || x.contains("..."))).cast(LongType)
    val nAlpha = size(filter(t, x => x.rlike("[A-Za-z]"))).cast(LongType)
    val nStopKinds = size(array_intersect(array_distinct(t),
      array(EnStopwords.map(lit): _*))).cast(LongType)
    val keep = n >= 50 && n <= 100000 && sumLen >= n * 3 && sumLen <= n * 10 &&
      nSymbol * 10 <= n && nAlpha * 5 >= n * 4 && nStopKinds >= 2
    val K = 6
    val xCols = Seq("x1", "x2", "x3", "x4", "x5").map(col)
    val feats = docs
      .select(col(idCol), n.as("__n"), sumLen.as("__sl"),
        nStopKinds.as("__nk"), keep.as("__keep"))
      .filter(col("__n") > 0)
      .select(col(idCol),
        when(col("__n") >= 50 && col("__n") <= 100000, 1d).otherwise(0d).as("x1"),
        (col("__sl") / col("__n")).as("x2"),
        (col("__n") / (col("__n") + lit(50L))).as("x3"),
        col("__nk").cast(DoubleType).as("x4"),
        when(col("__nk") >= 2, 1d).otherwise(0d).as("x5"),
        when(col("__keep"), 1d).otherwise(0d).as("y"))
    val w = solveGramK(gramAggregateK(feats.filter(seedPred), K), K,
      "qualityProbeGopher")
    val score = (1 until K).foldLeft(col("w0")) { (acc, i) =>
      acc + col(s"w$i") * col(s"x$i") }
    val scored = feats.crossJoin(broadcast(w))
      .select((col(idCol) +: xCols) ++
        Seq(col("y"), round(score, 6).as("score")) ++
        (0 until K).map(i => col(s"w$i")): _*)
    val agree = scored.filter(!seedPred).agg(
        round(sum(when((col("score") >= 0.5) === (col("y") >= 0.5), 1L)
            .otherwise(0L)).cast(DoubleType) / count(lit(1)), 6)
          .as("__agree"),
        count(lit(1)).as("__n_holdout"))
      .select(when(col("__n_holdout") === 0, raise_error(lit(
          "qualityProbeGopher: seedPred matches every document — zero " +
            "held-out rows, holdout agreement is undefined (widen the " +
            "holdout or fix the predicate)")))
        .otherwise(col("__agree")).as("holdout_agree"))
    scored.crossJoin(broadcast(agree))
  }
}
