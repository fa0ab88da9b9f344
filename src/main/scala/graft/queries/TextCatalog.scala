package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{Graph, Multimodal, Quality, Relational, Text, TxTable, Vector}

/** LLM-data-pipeline operators over the `documents`/`embeddings` fixtures
  * (BASELINE.json north_star): dedup (exact, MinHash-LSH, SimHash, n-gram
  * Jaccard), similarity search (brute-force + LSH-bucketed ANN), multimodal
  * plumbing, text analysis.
  *
  * Every hash here is arithmetic over md5 so the DuckDB oracle reproduces
  * values bit-for-bit (`Text.tokenHash` ≡ `CAST('0x' || substr(md5(t),1,15)
  * AS BIGINT)`), and every similarity fold runs left-to-right in index order
  * (`aggregate`/`zip_with` ≡ DuckDB `list_reduce`/`list_transform`).  The
  * near-dup candidate generation is ALWAYS a band-key/shingle-key equi-join —
  * no all-pairs cross join anywhere (the 100 TB rule).
  */
object TextCatalog {

  // ------------------------------------------------------- SQL mirror helpers

  private val M = 1000000007L
  private val P = 2147483647L
  private def lsum(c: Column): Column = Catalog.lsum(c)
  private def th(x: String): String = s"(CAST('0x' || substr(md5($x), 1, 15) AS BIGINT))"
  private val toks = "str_split(trim(text), ' ')"
  private val stopList = "['the', 'a', 'of', 'and', 'to', 'in']"
  private val techList = "['spark', 'data', 'query', 'stream', 'batch']"

  /** 48-bit SimHash of `text` as a DuckDB expression (≡ Text.simhashOf). */
  private val simhashSqlExpr: String =
    s"""CAST(list_sum(list_transform(range(0, ${Text.SimhashBits}), b ->
       CASE WHEN list_sum(list_transform($toks,
           t -> CASE WHEN (${th("t")} & (CAST(1 AS BIGINT) << b)) <> 0 THEN 1 ELSE -1 END)) > 0
         THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"""

  /** Left-fold dot product of two DOUBLE[] expressions (≡ Vector.dot). */
  private def dotSql(a: String, b: String, dims: Int): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, ${dims + 1}), i -> $a[i] * $b[i])), (acc, x) -> acc + x)"

  private def cosSql(a: String, b: String, dims: Int): String =
    s"round(${dotSql(a, b, dims)} / (sqrt(${dotSql(a, a, dims)}) * sqrt(${dotSql(b, b, dims)})), 6)"

  /** BM25-scored corpus against the min-doc_id query document —
    * `(doc_id, n_terms, score)`, shared by q_bm25_topk and the RRF hybrid.
    * The explicit isNotNull matches the join-inferred null filter on the
    * tf/dl branches, so all three corpus subtrees canonicalize identically
    * and AQE reuses ONE shuffle stage for them.  The query doc itself
    * stays in the scoring (the standard self-retrieval sanity row) —
    * excluding it would push a doc_id filter into one branch's scan and
    * break exchange reuse; callers that need it gone filter the
    * 20-row result, not the corpus. */
  private def bm25Scored(s: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame = {
    val d = Fixtures.table(s, dir, "documents")
    val rel = d.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), Text.tokens(col("text")).as("__t"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(col("__t")).as("term"))
    val tf = rel.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = broadcast(dl.agg(count(lit(1)).as("__n"),
      sum(col("dl")).as("__toks")))
    val qdoc = d.agg(min("doc_id")).collect().head.getLong(0)
    val qterms = broadcast(d.filter(col("doc_id") === qdoc)
      .select(explode(Text.tokens(col("text"))).as("term")).distinct())
    tf.join(qterms, "term")
      .join(broadcast(dfreq.join(qterms, "term")), "term")
      .join(dl, "doc_id")
      .crossJoin(stats)
      .withColumn("avgdl", col("__toks").cast("double") / col("__n"))
      .withColumn("idf",
        (col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .withColumn("tfn",
        col("tf").cast("double") * (lit(1.2) + lit(1.0)) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(1.0) - lit(0.75) +
              lit(0.75) * col("dl").cast("double") / col("avgdl"))))
      .withColumn("sc",
        round(col("idf") * col("tfn"), 6).cast(DecimalType(38, 6)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("sc")).cast("double").as("score"))
  }

  /** [[bm25Scored]]'s DuckDB mirror as a CTE chain ending in
    * `scored(doc_id, n_terms, score)` (with `qd(qdoc)` still in scope for
    * downstream fragments). */
  private val bm25Sql: String =
    s"""rel AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM rel GROUP BY 1, 2),
         dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
         stats AS (SELECT COUNT(*) AS n, SUM(dl) AS toks FROM dl),
         qd AS (SELECT MIN(doc_id) AS qdoc FROM documents),
         qterms AS (SELECT DISTINCT term FROM tf, qd WHERE doc_id = qdoc),
         dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         pt AS (SELECT t.doc_id,
             round(((n - df + 0.5) / (df + 0.5)) *
               (CAST(tf AS DOUBLE) * (1.2 + 1.0) /
                (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 +
                 0.75 * CAST(dl AS DOUBLE) / (CAST(toks AS DOUBLE) / n)))), 6) AS sc
           FROM tf t JOIN qterms USING (term) JOIN dfreq USING (term)
             JOIN dl USING (doc_id), stats),
         scored AS (SELECT doc_id, COUNT(*) AS n_terms,
             CAST(SUM(CAST(sc AS DECIMAL(38, 6))) AS DOUBLE) AS score
           FROM pt GROUP BY 1)"""

  /** 4-dim cosine over COLUMN quadruples named `${p}1..${p}4` — the
    * explicit-term mirror of `graft_cos` on the quadrant feature vectors
    * (left-associated sum = the expression's index-order fold, so the
    * doubles are bit-identical; rounded to 6 dp like [[cosSql]]). */
  private def cos4Sql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"(${x}1*${y}1 + ${x}2*${y}2 + ${x}3*${y}3 + ${x}4*${y}4)"
    s"round(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})), 6)"
  }

  /** MinHash bands CTE fragment (`bk(doc, band, band_key)`), ≡
    * Text.minhashBands: shingle→minhash→band with k=16, 4 bands × 4 rows;
    * docs too short to shingle are excluded.  `pred` ("" or
    * "doc_id < N AND ") restricts the audited universe — the recall
    * audit's sampling contract. */
  private def bandsSqlPred(pred: String): String =
    s"""tokd AS (SELECT doc_id AS doc, $toks AS t FROM documents WHERE ${pred}len($toks) >= 3),
       shd AS (SELECT doc, t, list_transform(range(1, len(t) - 1),
           i -> array_to_string(list_slice(t, i, i + 2), ' ')) AS sh
         FROM tokd),
       sigs AS (SELECT doc,
         list_transform(range(0, ${Text.MinhashK}), i ->
           list_min(list_transform(list_distinct(sh),
             s -> ((2*i + 1) * (${th("s")} % $M) + 7 + 13*i) % $P))) AS sig
       FROM shd),
       bx AS (SELECT doc, unnest(range(0, ${Text.MinhashK / Text.BandRows})) AS band, sig FROM sigs),
       bk AS (SELECT doc, CAST(band AS INT) AS band,
         array_to_string(list_transform(list_slice(sig, band*${Text.BandRows} + 1, band*${Text.BandRows} + ${Text.BandRows}), v -> CAST(v AS VARCHAR)), '-') AS band_key
       FROM bx)"""

  private val bandsSql: String = bandsSqlPred("")

  /** OPH CTE fragment (`osig(doc, s0..s{k-1})`, `obk(doc, band, band_key)`),
    * ≡ Text.ophSignatures/ophBands: one hash per distinct shingle, bucket
    * `h % k`, per-bucket MIN of `h // k`, empty buckets densified by the
    * first non-empty bucket clockwise `+ j·C` per rotation step.  The
    * COALESCE term order IS the rotation scan order — generated once here
    * and mirrored column-for-column by the Spark side, so the literal
    * integers agree by construction.  `pred` restricts the audited
    * universe (the recall audit's sampling contract). */
  private def ophSqlPred(pred: String): String = {
    val k = Text.MinhashK
    val c = M // Text.OphC: one rotation step dominates any bucket value (< M/k)
    val ms = (0 until k).map(i =>
      s"MIN(CASE WHEN b = $i THEN hv END) AS m$i").mkString(",\n             ")
    val ss = (0 until k).map { i =>
      val terms = (0 until k).map { j =>
        val idx = (i + j) % k
        if (j == 0) s"m$idx" else s"m$idx + ${j.toLong * c}"
      }.mkString(", ")
      s"COALESCE($terms) AS s$i"
    }.mkString(",\n             ")
    val bands = (0 until k / Text.BandRows).map { b =>
      val keys = (b * Text.BandRows until (b + 1) * Text.BandRows)
        .map(r => s"CAST(s$r AS VARCHAR)").mkString(" || '-' || ")
      s"SELECT doc, CAST($b AS INT) AS band, $keys AS band_key FROM osig"
    }.mkString("\n           UNION ALL ")
    s"""tokd AS (SELECT doc_id AS doc, $toks AS t FROM documents WHERE ${pred}len($toks) >= 3),
       shd AS (SELECT doc, t, list_transform(range(1, len(t) - 1),
           i -> array_to_string(list_slice(t, i, i + 2), ' ')) AS sh
         FROM tokd),
       orel AS (SELECT doc, unnest(list_distinct(sh)) AS s1 FROM shd),
       obm AS (SELECT doc, (${th("s1")} % $M) % $k AS b, (${th("s1")} % $M) // $k AS hv FROM orel),
       opv AS (SELECT doc, $ms FROM obm GROUP BY doc),
       osig AS (SELECT doc, $ss FROM opv),
       obk AS ($bands)"""
  }

  /** Random-projection CTE fragment (`v(vec_id, dv)`, `p(vec_id, pv)`) —
    * ≡ Vector.randomProject: pv[j] = ⟨dv, w_j⟩ with the exact k/1024
    * planeWeight matrix inlined as decimal literals. */
  private def projSql(outDims: Int, dims: Int): String = {
    val ws = (0 until outDims).map { p =>
      (0 until dims)
        .map(i => new java.math.BigDecimal(Vector.planeWeight(p, i)).toPlainString)
        .mkString("CAST([", ", ", s"] AS DOUBLE[]) AS w$p")
    }.mkString(",\n           ")
    val pv = (0 until outDims).map(p => dotSql("dv", s"w$p", dims))
      .mkString("[", ",\n             ", "]")
    s"""w AS (SELECT $ws),
       v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv FROM embeddings),
       p AS (SELECT vec_id, $pv AS pv FROM v, w)"""
  }

  /** Hyperplane-LSH bucket CTE fragment (`b(vec_id, dv, bucket)`) for
    * `planes` hyperplanes over 64-dim embeddings, ≡ Vector.lshBucket. */
  private def lshSql(planes: Int, dims: Int): String = {
    val ws = (0 until planes).map { p =>
      (0 until dims).map(i => new java.math.BigDecimal(Vector.planeWeight(p, i)).toPlainString)
        .mkString(s"CAST([", ", ", s"] AS DOUBLE[]) AS w$p")
    }.mkString(",\n           ")
    val bucket = (0 until planes).map { p =>
      s"(CASE WHEN ${dotSql("dv", s"w$p", dims)} >= 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    s"""w AS (SELECT $ws),
       v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv FROM embeddings),
       b AS (SELECT vec_id, dv, $bucket AS bucket FROM v, w)"""
  }

  // ---------------------------------------------------------------- queries

  import Fixtures.{table => t}

  val textAnalysis: Seq[QueryDef] = Seq(

    // CCNet-style LINE-LEVEL dedup (Wenzek et al. '19; the RefinedWeb /
    // CCNet preprocessing step BEFORE any document-level dedup): split
    // every document into lines, keep only the globally FIRST occurrence
    // of each duplicated line — boilerplate (headers, nav bars, cookie
    // banners) repeats across documents line-for-line, and dropping
    // repeats line-wise removes it without killing the documents.  The
    // fixture text has no newlines, so a "line" is a deterministic
    // 10-token chunk.  Scale shape: ONE shuffle on the line key (the
    // partitioned first-occurrence window), one aggregation back to doc
    // grain — no pairwise comparison anywhere; at 100 TB the line-hash
    // key-space dwarfs executor memory no differently than any other
    // groupBy key.  Reassembly keeps surviving lines in document order
    // (sorted struct collect, the ordered-reconstruction discipline).
    QueryDef("q_line_dedup",
      (s, dir) => Text.lineDedup(t(s, dir, "documents"), "text", "doc_id",
          lineTokens = 10)
        .orderBy("doc_id"),
      Some(s"""WITH d AS (SELECT doc_id, $toks AS t FROM documents),
         lines AS (SELECT doc_id, CAST(u.l AS INT) AS pos,
             array_to_string(t[u.l*10+1 : u.l*10+10], ' ') AS line
           FROM d, LATERAL unnest(range(0, (len(t)+9)//10)) AS u(l)),
         ranked AS (SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
           FROM lines)
         SELECT doc_id, COUNT(*) AS n_lines,
             CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             COALESCE(array_to_string(
                 list(line ORDER BY pos) FILTER (WHERE rn = 1), ' '), '')
               AS cleaned
           FROM ranked GROUP BY 1 ORDER BY doc_id""")),

    // Zipf fit: least-squares slope of log2 freq on log2 rank — the
    // one-number corpus-health gauge (natural text ≈ −1; boilerplate
    // flattens the head, synthetic text steepens the tail).
    QueryDef("q_zipf_fit",
      (s, dir) => Text.zipfFit(t(s, dir, "documents"), "text"),
      Some("""WITH w AS (SELECT unnest(str_split(trim(text), ' ')) AS word FROM documents),
         wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS f FROM w
           WHERE length(word) > 0 GROUP BY word),
         r AS (SELECT f, row_number() OVER (ORDER BY f DESC, word) AS rnk FROM wf),
         tm AS (SELECT f, round(log2(rnk), 9) AS x, round(log2(f), 9) AS y FROM r),
         t2 AS (SELECT f, x, y, round(x * y, 9) AS xy, round(x * x, 9) AS xx FROM tm),
         m AS (SELECT COUNT(*) AS n_types, CAST(SUM(f) AS BIGINT) AS n_tokens,
             CAST(SUM(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(xy AS DECIMAL(38,9))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(xx AS DECIMAL(38,9))) AS DOUBLE) AS sxx
           FROM t2)
         SELECT n_types, n_tokens,
           (n_types * sxy - sx * sy) / (n_types * sxx - sx * sx) AS slope,
           (sy - ((n_types * sxy - sx * sy) / (n_types * sxx - sx * sx)) * sx)
             / n_types AS intercept
         FROM m""")),

    // Term burstiness (variance-to-mean of per-doc counts, zero-docs
    // included): the corpus keyword lexicon by dispersion — the closed
    // form tf²/tf − tf/N needs only two integer sums per term, so the
    // oracle is the same arithmetic stated relationally.
    QueryDef("q_burstiness",
      (s, dir) => Text.burstiness(t(s, dir, "documents"), "text", "doc_id",
        minDf = 3, topK = 40),
      Some("""WITH w AS (SELECT doc_id, unnest(str_split(trim(text), ' ')) AS word
           FROM documents),
         pc AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS c FROM w
           WHERE length(word) > 0 GROUP BY 1, 2),
         nd AS (SELECT COUNT(*) AS n FROM documents),
         ag AS (SELECT word, COUNT(*) AS df, CAST(SUM(c) AS BIGINT) AS tf,
             CAST(SUM(c * c) AS BIGINT) AS tf2
           FROM pc GROUP BY 1 HAVING COUNT(*) >= 3)
         SELECT word, df, tf, tf2 / tf - tf / n AS dispersion
         FROM ag, nd ORDER BY dispersion DESC, word LIMIT 40""")),

    // Duplicated-span profile: stride-1 8-token windows, frequency-cut at
    // ≥2 corpus-wide occurrences, positions unioned per doc — the
    // suffix-array-dedup signal (Lee et al. '22) as relational operators.
    QueryDef("q_dup_span",
      (s, dir) => Text.dupSpanProfile(t(s, dir, "documents"), "text", "doc_id",
          w = 8)
        .orderBy("doc_id"),
      Some(s"""WITH d AS (SELECT doc_id, $toks AS t FROM documents),
         dd AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tok FROM d),
         wins AS (SELECT doc_id, CAST(u.i AS INT) AS pos,
             array_to_string(t[u.i+1 : u.i+8], ' ') AS win
           FROM dd, LATERAL unnest(range(0, n_tok - 7)) AS u(i)
           WHERE n_tok >= 8),
         dup AS (SELECT win FROM wins GROUP BY 1 HAVING COUNT(*) >= 2),
         cov AS (SELECT DISTINCT doc_id, pos + CAST(u.k AS INT) AS ti
           FROM wins SEMI JOIN dup USING (win),
             LATERAL unnest(range(0, 8)) AS u(k)),
         agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_tok
           FROM cov GROUP BY 1)
         SELECT dd.doc_id, n_tok, COALESCE(n_dup_tok, 0) AS n_dup_tok,
           COALESCE(n_dup_tok, 0) / n_tok AS dup_frac
         FROM dd LEFT JOIN agg USING (doc_id) ORDER BY doc_id""")),

    // The OTHER line pass: boilerplate removal.  A line recurring across
    // >2 distinct docs is template furniture and drops everywhere (first
    // occurrence included) — complements q_line_dedup's first-keep.
    QueryDef("q_line_boilerplate",
      (s, dir) => Text.lineBoilerplate(t(s, dir, "documents"), "text", "doc_id",
          lineTokens = 10, maxDocs = 2)
        .orderBy("doc_id"),
      Some(s"""WITH d AS (SELECT doc_id, $toks AS t FROM documents),
         lines AS (SELECT doc_id, CAST(u.l AS INT) AS pos,
             array_to_string(t[u.l*10+1 : u.l*10+10], ' ') AS line
           FROM d, LATERAL unnest(range(0, (len(t)+9)//10)) AS u(l)),
         f AS (SELECT line, COUNT(DISTINCT doc_id) AS df FROM lines GROUP BY 1)
         SELECT doc_id, COUNT(*) AS n_lines,
             CAST(SUM(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             COALESCE(array_to_string(
                 list(line ORDER BY pos) FILTER (WHERE df <= 2), ' '), '')
               AS cleaned
           FROM lines JOIN f USING (line) GROUP BY 1 ORDER BY doc_id""")),

    // Shannon char entropy — the compression-proxy gibberish gate.  Terms
    // rounded to 9 dp before a decimal-exact sum, so both engines land on
    // the identical double (see Text.charEntropy).
    QueryDef("q_char_entropy",
      (s, dir) => Text.charEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
         f AS (SELECT doc_id, ch, COUNT(*) AS n FROM ch WHERE ch <> '' GROUP BY 1, 2),
         tt AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS total FROM f GROUP BY 1),
         terms AS (SELECT f.doc_id,
             round(-(f.n / tt.total) * log2(f.n / tt.total), 9) AS term
           FROM f JOIN tt ON f.doc_id = tt.doc_id)
         SELECT doc_id,
           CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE) AS entropy_bits
         FROM terms GROUP BY 1 ORDER BY 1""")),

    // TRAINED linear quality probe (Text.qualityLinearProbe): least-squares
    // fit on the doc_id % 5 <> 0 seed slice, score EVERY document — the
    // fastText-quality-filter serving pattern with the training collapsed
    // to ONE Gram aggregate + a declarative Cramer solve (no driver math,
    // no iteration).  The oracle mirrors the Gram sums (9-dp-rounded
    // DECIMAL(38,9) accumulation) and the Cramer expressions in the same
    // literal operation order, so weights and scores match bit for bit.
    // Top 20 by predicted quality, ties broken by doc_id.
    QueryDef("q_quality_linear_probe",
      (s, dir) => Text.qualityLinearProbe(t(s, dir, "documents"),
          "doc_id", "text", col("doc_id") % 5 =!= 0)
        .orderBy(col("score").desc, col("doc_id")).limit(20),
      Some(s"""WITH tok AS (SELECT doc_id, unnest($toks) AS w FROM documents),
         tk AS (SELECT doc_id, w FROM tok WHERE length(w) > 0),
         feats AS (SELECT doc_id,
             CAST(COUNT(*) AS DOUBLE) AS x1,
             (CAST(SUM(length(w)) AS BIGINT) / COUNT(*)) AS x2,
             (COUNT(DISTINCT w) / COUNT(*)) AS y
           FROM tk GROUP BY 1),
         g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS g00,
             CAST(SUM(CAST(round(x1, 9) AS DECIMAL(38,9))) AS DOUBLE) AS g01,
             CAST(SUM(CAST(round(x2, 9) AS DECIMAL(38,9))) AS DOUBLE) AS g02,
             CAST(SUM(CAST(round(x1 * x1, 9) AS DECIMAL(38,9))) AS DOUBLE) AS g11,
             CAST(SUM(CAST(round(x1 * x2, 9) AS DECIMAL(38,9))) AS DOUBLE) AS g12,
             CAST(SUM(CAST(round(x2 * x2, 9) AS DECIMAL(38,9))) AS DOUBLE) AS g22,
             CAST(SUM(CAST(round(y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS b0,
             CAST(SUM(CAST(round(x1 * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS b1,
             CAST(SUM(CAST(round(x2 * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS b2
           FROM feats WHERE doc_id % 5 <> 0),
         w AS (SELECT
             round((b0 * (g11 * g22 - g12 * g12) - g01 * (b1 * g22 - g12 * b2)
               + g02 * (b1 * g12 - g11 * b2))
               / (g00 * (g11 * g22 - g12 * g12) - g01 * (g01 * g22 - g12 * g02)
               + g02 * (g01 * g12 - g11 * g02)), 9) AS w0,
             round((g00 * (b1 * g22 - g12 * b2) - b0 * (g01 * g22 - g12 * g02)
               + g02 * (g01 * b2 - b1 * g02))
               / (g00 * (g11 * g22 - g12 * g12) - g01 * (g01 * g22 - g12 * g02)
               + g02 * (g01 * g12 - g11 * g02)), 9) AS w1,
             round((g00 * (g11 * b2 - g12 * b1) - g01 * (g01 * b2 - b1 * g02)
               + b0 * (g01 * g12 - g11 * g02))
               / (g00 * (g11 * g22 - g12 * g12) - g01 * (g01 * g22 - g12 * g02)
               + g02 * (g01 * g12 - g11 * g02)), 9) AS w2
           FROM g)
         SELECT doc_id, x1, x2, y,
           round(w0 + w1 * x1 + w2 * x2, 6) AS score, w0, w1, w2
         FROM feats, w ORDER BY score DESC, doc_id LIMIT 20""")),

    // Gopher-LABEL-trained probe (Text.qualityProbeGopher): the Gram
    // pipeline of q_quality_linear_probe widened to FIVE features (the
    // rule battery's varying signals: both binding rule indicators, mean
    // token length, the bounded length n/(n+50), stopword-kind count) and
    // a 6×6 normal-equation solve — the elimination CTE chain below is
    // GENERATED by Text.gramSolveSqlK from the same program Spark parses,
    // so the literal operation order is shared by construction.  The
    // target is the conjunctive Gopher keep and the result carries the
    // HELD-OUT agreement (measured 0.99/1.0/0.994 at the three SFs).
    // Learned weights AND the agreement must hash-match DuckDB at every SF.
    QueryDef("q_quality_probe_gopher",
      (s, dir) => Text.qualityProbeGopher(t(s, dir, "documents"),
          "doc_id", "text", col("doc_id") % 5 =!= 0)
        .orderBy(col("score").desc, col("doc_id")).limit(20),
      Some(s"""WITH q AS (SELECT doc_id, $toks AS t FROM documents),
         m AS (SELECT doc_id, len(t) AS n,
             COALESCE(list_sum(list_transform(t, x -> length(x))), 0) AS sl,
             len(list_filter(t, x -> contains(x, '#') OR contains(x, '...'))) AS ns,
             len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS na,
             len(list_intersect(list_distinct(t), ['the','a','of','and','to','in'])) AS nk
           FROM q),
         feats AS (SELECT doc_id,
             CASE WHEN n >= 50 AND n <= 100000
               THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS x1,
             (CAST(sl AS BIGINT) / n) AS x2,
             (n / (n + 50)) AS x3,
             CAST(nk AS DOUBLE) AS x4,
             CASE WHEN nk >= 2
               THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS x5,
             CASE WHEN (n >= 50 AND n <= 100000 AND sl >= n*3 AND sl <= n*10
               AND ns*10 <= n AND na*5 >= n*4 AND nk >= 2)
               THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y
           FROM m WHERE n > 0),
         g AS (SELECT ${Text.gramAggregateSqlK(6)}
           FROM feats WHERE doc_id % 5 <> 0),
         ${Text.gramSolveSqlK(6, "g")},
         scored AS (SELECT doc_id, x1, x2, x3, x4, x5, y,
             round(w0 + w1 * x1 + w2 * x2 + w3 * x3 + w4 * x4 + w5 * x5, 6)
               AS score, w0, w1, w2, w3, w4, w5
           FROM feats, w),
         agree AS (SELECT
             round(CAST(SUM(CASE WHEN (score >= 0.5) = (y >= 0.5)
                 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS holdout_agree
           FROM scored WHERE doc_id % 5 = 0)
         SELECT doc_id, x1, x2, x3, x4, x5, y, score, w0, w1, w2, w3, w4, w5,
           holdout_agree
         FROM scored, agree ORDER BY score DESC, doc_id LIMIT 20""")),

    // The Gopher rule battery (Rae et al. '21 §A1.1): the NAMED quality
    // gates, one boolean per rule + the conjunctive keep, thresholds
    // restated as integer cross-multiplications so boundary cases decide
    // identically in both engines (no float division reaches a comparison).
    QueryDef("q_gopher_rules",
      (s, dir) => {
        val cols = Text.gopherRules(col("text"))
        t(s, dir, "documents")
          .select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
          .orderBy("doc_id")
      },
      Some(s"""WITH q AS (SELECT doc_id, $toks AS t FROM documents),
         m AS (SELECT doc_id, len(t) AS n,
             COALESCE(list_sum(list_transform(t, x -> length(x))), 0) AS sl,
             len(list_filter(t, x -> contains(x, '#') OR contains(x, '...'))) AS ns,
             len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS na,
             len(list_intersect(list_distinct(t), ['the','a','of','and','to','in'])) AS nk
           FROM q)
         SELECT doc_id,
           (n >= 50 AND n <= 100000) AS r_word_count,
           (sl >= n*3 AND sl <= n*10) AS r_mean_word_len,
           (ns*10 <= n) AS r_symbol_ratio,
           (na*5 >= n*4) AS r_alpha_words,
           (nk >= 2) AS r_stopwords,
           (n >= 50 AND n <= 100000 AND sl >= n*3 AND sl <= n*10
             AND ns*10 <= n AND na*5 >= n*4 AND nk >= 2) AS keep
         FROM m ORDER BY doc_id""")),

    QueryDef("q_text_quality",
      (s, dir) => {
        val cols = Text.qualityColumns(col("text"))
        t(s, dir, "documents")
          .select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
          .orderBy("doc_id")
      },
      Some(s"""WITH q AS (SELECT doc_id, text, $toks AS t FROM documents),
         m AS (SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars_actual,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
             CAST(len(list_filter(t, x -> list_contains($stopList, x))) AS BIGINT) AS n_stop
           FROM q)
         SELECT doc_id, n_chars_actual, n_tokens, n_distinct,
           round(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS ttr,
           round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
           round((CAST(n_distinct AS DOUBLE) / n_tokens) * 0.5
             + (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.3
             + least(1.0, CAST(n_tokens AS DOUBLE) / 50.0) * 0.2, 6) AS quality_score
         FROM m ORDER BY doc_id""")),

    QueryDef("q_token_counts",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id") +: Text.tokenCounts(col("text")).map { case (n, c) => c.as(n) }: _*)
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
           CAST(len($toks) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens
         FROM documents ORDER BY doc_id""")),

    // Temperature-scaled mixture weights (the α-smoothing knob of
    // multilingual/multi-domain pre-training mixes, α = 0.5): sampling
    // weight ∝ n_tokens^α, which up-samples small domains relative to
    // proportional sampling without the uniform mix's repetition blow-up.
    // Determinism: sqrt is IEEE correctly-rounded in both engines, each
    // weight is rounded to 9 dp, and the normalizer is the DECIMAL sum of
    // the rounded weights (order-insensitive) crossed in as a broadcast
    // 1-row frame.
    QueryDef("q_mixture_temperature",
      (s, dir) => {
        val nt = t(s, dir, "documents")
          .select(col("source"), size(Text.tokens(col("text"))).cast(LongType).as("__t"))
          .groupBy("source").agg(sum(col("__t")).as("n_tokens"))
          .withColumn("__w", round(sqrt(col("n_tokens")), 9))
        val tot = nt.agg(sum(col("__w").cast(DecimalType(38, 9)))
          .cast("double").as("__tot"))
        nt.crossJoin(broadcast(tot))
          .select(col("source"), col("n_tokens"),
            round(col("__w") / col("__tot"), 9).as("weight"))
          .orderBy("source")
      },
      Some(s"""WITH nt AS (SELECT source,
             CAST(SUM(len($toks)) AS BIGINT) AS n_tokens FROM documents GROUP BY 1),
         w AS (SELECT source, n_tokens,
             round(sqrt(CAST(n_tokens AS DOUBLE)), 9) AS w FROM nt),
         tot AS (SELECT CAST(SUM(CAST(w AS DECIMAL(38,9))) AS DOUBLE) AS t FROM w)
         SELECT source, n_tokens, round(w / t, 9) AS weight
         FROM w, tot ORDER BY source""")),

    QueryDef("q_lang_id",
      (s, dir) => t(s, dir, "documents")
        .select(col("lang"), Text.langIdHeuristic(col("text")).as("lid"))
        .groupBy("lang", "lid").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lid"),
      Some(s"""WITH q AS (SELECT lang, $toks AS t FROM documents),
         m AS (SELECT lang,
             len(list_filter(t, x -> list_contains($stopList, x))) AS en,
             len(list_filter(t, x -> list_contains($techList, x))) AS tech
           FROM q)
         SELECT lang, CASE WHEN en > tech THEN 'en' WHEN tech > en THEN 'tech' ELSE 'unknown' END AS lid,
           COUNT(*) AS n
         FROM m GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Per-domain corpus accounting: extract the registrable host from a
    // synthesized URL column (source-derived, so domains are dense at every
    // SF, plus an un-parseable bucket) and aggregate docs/chars per host —
    // the quota/blocklist grouping of web-corpus curation.
    // Mix-concentration gauge: HHI of the corpus over its source column —
    // the measurement twin of q_domain_quota's cap (uniform over g
    // sources → 1/g; one dominant source → toward 1).
    QueryDef("q_hhi",
      (s, dir) => Quality.hhi(t(s, dir, "documents"), col("source")),
      Some("""WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
           FROM documents GROUP BY 1),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM c)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_groups, nn AS n_rows,
           CAST(SUM(CAST(round((n / nn) * (n / nn), 9) AS DECIMAL(38,9)))
             AS DOUBLE) AS hhi,
           MAX(n / nn) AS top_share
         FROM c, t GROUP BY nn""")),

    QueryDef("q_url_domains",
      (s, dir) => {
        val url = when(col("doc_id") % 11 === 0, lit("not a url"))
          .otherwise(concat(lit("https://"), col("source"),
            (col("doc_id") % 3).cast("string"), lit(".example.org/p/"),
            col("doc_id").cast("string")))
        t(s, dir, "documents")
          .select(Text.urlHost(url).as("host"), col("n_chars"))
          .groupBy("host")
          .agg(count(lit(1)).as("n_docs"), lsum(col("n_chars")).as("n_chars"))
          .orderBy("host")
      },
      Some("""WITH u AS (SELECT CASE WHEN doc_id % 11 = 0 THEN 'not a url'
             ELSE 'https://' || source || CAST(doc_id % 3 AS VARCHAR)
               || '.example.org/p/' || CAST(doc_id AS VARCHAR) END AS url,
             n_chars
           FROM documents)
         SELECT regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host,
           COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
         FROM u GROUP BY 1 ORDER BY 1""")),

    // URL canonicalization for crawl-side dedup: synthesized dirty URLs
    // (mixed-case scheme/host, default ports, utm_* tracking params,
    // fragments, trailing slashes, an un-parseable bucket) normalize to a
    // canonical form; distinct variants of the same page collapse to one
    // key.  Row-wise dump so every rule is hash-checked; the grouped
    // rewrite (canonical → dedup) is the same expression under a groupBy.
    QueryDef("q_url_canonical",
      (s, dir) => {
        val base = concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("https://")),
          when(col("doc_id") % 4 === 0, upper(col("source"))).otherwise(col("source")),
          (col("doc_id") % 3).cast("string"),
          lit(".Example.org"),
          when(col("doc_id") % 6 === 0, lit(":443")).otherwise(lit("")),
          lit("/p/"), col("doc_id").cast("string"),
          when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit("?utm_source=feed&utm_campaign=x"))
            .when(col("doc_id") % 7 === 1, lit("?id=9&utm_medium=social"))
            .when(col("doc_id") % 7 === 2, lit("?utm_term=a&id=9"))
            .when(col("doc_id") % 7 === 3, lit("?myutm_source=x"))
            .when(col("doc_id") % 7 === 4, lit("?utm_a=1&utm_b=2&utm_c=3&id=9"))
            .otherwise(lit("")),
          when(col("doc_id") % 9 === 0, lit("#section-2")).otherwise(lit("")))
        val url = when(col("doc_id") % 11 === 0, lit("not a url")).otherwise(base)
        t(s, dir, "documents")
          .select(col("doc_id"), url.as("url"),
            Text.urlCanonicalize(url).as("canonical"))
          .orderBy("doc_id")
      },
      Some("""WITH u AS (SELECT doc_id,
           CASE WHEN doc_id % 11 = 0 THEN 'not a url' ELSE
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END)
             || (CASE WHEN doc_id % 4 = 0 THEN upper(source) ELSE source END)
             || CAST(doc_id % 3 AS VARCHAR) || '.Example.org'
             || (CASE WHEN doc_id % 6 = 0 THEN ':443' ELSE '' END)
             || '/p/' || CAST(doc_id AS VARCHAR)
             || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
             || (CASE CAST(doc_id % 7 AS INT)
                   WHEN 0 THEN '?utm_source=feed&utm_campaign=x'
                   WHEN 1 THEN '?id=9&utm_medium=social'
                   WHEN 2 THEN '?utm_term=a&id=9'
                   WHEN 3 THEN '?myutm_source=x'
                   WHEN 4 THEN '?utm_a=1&utm_b=2&utm_c=3&id=9' ELSE '' END)
             || (CASE WHEN doc_id % 9 = 0 THEN '#section-2' ELSE '' END)
           END AS url
           FROM documents),
         c AS (SELECT doc_id, url,
             regexp_replace(url, '#.*', '', 'g') AS nf
           FROM u),
         p AS (SELECT doc_id, url,
             lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             regexp_replace(lower(regexp_extract(nf,
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), ':(443|80)$', '', 'g') AS host,
             regexp_replace(regexp_replace(regexp_extract(nf,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1),
               '([?&])(?:utm_[a-z]+=[^&#]*&?)+', '\1', 'g'), '[?&]$', '', 'g') AS rest
           FROM c)
         SELECT doc_id, url,
           CASE WHEN host = '' THEN NULL
             ELSE scheme || '://' || host || regexp_replace(rest, '/$', '', 'g')
           END AS canonical
         FROM p ORDER BY doc_id""")),

    // Per-domain quota cap — web-curation composition riding the CUSTOM
    // heap operator: keep the k longest docs per domain (quota against
    // crawler-farm domination of the mix).  TopKPerKey gives one pass +
    // O(domains×k) state where the window form sorts every domain group;
    // the oracle is the equivalent window-rank SQL.
    QueryDef("q_domain_quota",
      (s, dir) => {
        val url = concat(lit("https://"), col("source"),
          (col("doc_id") % 3).cast("string"), lit(".example.org/p/"),
          col("doc_id").cast("string"))
        val hosted = t(s, dir, "documents")
          .select(Text.urlHost(url).as("host"), col("doc_id"), col("n_chars"))
        graft.plans.TopKPerKey(hosted, Seq("host"),
            Seq(col("n_chars").desc, col("doc_id").asc), 3)
          .orderBy(col("host"), col("n_chars").desc, col("doc_id"))
      },
      Some("""WITH u AS (SELECT
             regexp_extract('https://' || source || CAST(doc_id % 3 AS VARCHAR)
               || '.example.org/p/' || CAST(doc_id AS VARCHAR),
               '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host,
             doc_id, n_chars
           FROM documents),
         r AS (SELECT host, doc_id, n_chars,
             row_number() OVER (PARTITION BY host
               ORDER BY n_chars DESC, doc_id) AS rn
           FROM u)
         SELECT host, doc_id, n_chars FROM r WHERE rn <= 3
         ORDER BY host, n_chars DESC, doc_id""")),

    QueryDef("q_fingerprint",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
           list_reduce(list_prepend(CAST(7 AS BIGINT), list_transform($toks, t -> ${th("t")} % $M)),
             (acc, h) -> (acc * 31 + h) % $M) AS fp
         FROM documents ORDER BY doc_id""")),

    // TF-IDF-style term salience: tf × (N/df) with a RATIONAL idf surrogate —
    // ln() is libm-dependent (not bit-portable across engines), while
    // products/quotients of identical doubles are IEEE-exact; the plan shape
    // (explode → tf agg ⋈ df agg ⋈ broadcast N → per-doc top-1 window) is the
    // standard tf-idf pipeline either way.
    QueryDef("q_tfidf_top_term",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val rel = d.select(col("doc_id"), Text.tokens(col("text")).as("__t"))
          .repartition(col("doc_id"))
          .select(col("doc_id"), explode(col("__t")).as("term"))
        val tf = rel.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        // df derived FROM tf (one (doc,term) row each) instead of a second
        // pass over the corpus: both branches hang off the same
        // repartition-by-doc exchange, which Spark replays as a
        // ReusedExchange — the 100 TB scan and shuffle happen once.
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val nDocs = broadcast(d.agg(countDistinct("doc_id").as("__n")))
        tf.join(dfreq, "term").crossJoin(nDocs)
          .withColumn("score", round(col("tf").cast("double") * col("__n") / col("df"), 6))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
              .orderBy(col("score").desc, col("term"))))
          .filter(col("rn") === 1)
          .select("doc_id", "term", "tf", "df", "score")
          .orderBy("doc_id")
      },
      Some(s"""WITH rel AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM rel GROUP BY 1, 2),
         dfreq AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM rel) GROUP BY 1),
         nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
         sc AS (SELECT doc_id, term, tf, df,
             round(CAST(tf AS DOUBLE) * n / df, 6) AS score
           FROM tf JOIN dfreq USING (term), nd),
         r AS (SELECT doc_id, term, tf, df, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM sc)
         SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
         FROM r WHERE rn = 1 ORDER BY doc_id""")),

    // BM25 ranked retrieval (Okapi k1=1.2, b=0.75): score every corpus doc
    // against the query-document's term set — the IR scoring half of a
    // contamination / near-dup audit, and the classic lexical ANN
    // complement.  Same rational-idf discipline as q_tfidf_top_term
    // ((N-df+0.5)/(df+0.5), no libm ln), per-term scores rounded then
    // summed through DECIMAL(38,6) so the cross-engine sum is
    // order-independent.  Plan shape at 100 TB: the corpus is scanned,
    // exploded and shuffled ONCE — dl, df and the corpus stats all derive
    // from the same (doc, term, tf) aggregate, so their exchanges replay
    // as ReusedExchange; the query's term set is a PRUNED point scan
    // (parquet pushdown on doc_id) broadcast against tf, so docs sharing
    // no query term never materialize; df is restricted to the query
    // terms before broadcasting (never vocabulary-sized on the wire); the
    // final top-20 is TakeOrderedAndProject, never a global sort.  The
    // query doc itself stays in the ranking (the standard self-retrieval
    // sanity row) — excluding it would push a doc_id filter into one
    // branch's scan and break exchange reuse for no semantic gain.
    QueryDef("q_bm25_topk",
      (s, dir) => bm25Scored(s, dir)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20),
      Some(s"""WITH $bm25Sql
         SELECT doc_id, n_terms, score FROM scored
         ORDER BY score DESC, doc_id LIMIT 20""")),

    // HYBRID RETRIEVAL — Reciprocal Rank Fusion (Cormack et al., SIGIR'09)
    // of the two retrievers above: BM25's lexical top-20 and the
    // embedding-cosine top-20, fused by Σ 1/(60 + rank).  RRF is the
    // rank-space fusion production retrieval stacks default to precisely
    // because it needs NO score calibration between modalities — which is
    // also what makes it oracle-exact here: ranks are integers, so the
    // fused score is a sum of two reciprocals both engines compute
    // bit-identically in IEEE doubles (no rounding step needed).  Plan
    // shape: each leg's top-k is TakeOrderedAndProject (never a global
    // sort); the fusion is a full outer join of two ≤k-row frames — at
    // 100 TB the legs do all the distributed work and the fusion is
    // driver-trivial by construction.
    QueryDef("q_hybrid_rrf",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val e = t(s, dir, "embeddings")
        val qdoc = d.agg(min("doc_id")).collect().head.getLong(0)
        // Global rank WITHOUT a partition-less window (the guardrail's
        // ban is load-bearing here): top-k first via TakeOrdered, then
        // rank-within-k = 1 + count of strictly-better rows, a broadcast
        // non-equi self-join whose BOTH sides are k-bounded — k² work
        // independent of corpus size.
        def rankTopK(top: org.apache.spark.sql.DataFrame, scoreCol: String,
                     rankAs: String) = {
          val better =
            col(s"b.$scoreCol") > col(s"a.$scoreCol") ||
              (col(s"b.$scoreCol") === col(s"a.$scoreCol") &&
                col("b.doc_id") < col("a.doc_id"))
          top.as("a").join(broadcast(top.as("b")), better, "left")
            .groupBy(top.columns.map(c => col(s"a.$c").as(c)): _*)
            .agg((count(col("b.doc_id")) + 1).cast("int").as(rankAs))
        }
        // lexical leg: the BM25 ranking minus the query doc's self-hit
        // (the vector leg excludes self, the fusion must compare like
        // with like)
        val lexTop = bm25Scored(s, dir).filter(col("doc_id") =!= qdoc)
          .orderBy(col("score").desc, col("doc_id")).limit(20)
          .select("doc_id", "score")
        val lex = rankTopK(lexTop, "score", "lex_rank")
          .select(col("doc_id"), col("lex_rank"))
        val vecTop = Vector.bruteForceTopK(e.filter(col("vec_id") === qdoc), e, 20)
          .select(col("c_id").as("doc_id"), col("rank").as("vec_rank"))
        val fused = lex.join(vecTop, Seq("doc_id"), "full_outer")
          .withColumn("rrf",
            coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)))
          .orderBy(col("rrf").desc, col("doc_id")).limit(10)
        rankTopK(fused, "rrf", "rank")
          .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
            col("rrf"), col("rank"))
          .orderBy("rank")
      },
      Some(s"""WITH $bm25Sql,
         lexr AS (SELECT doc_id, lex_rank FROM (
             SELECT scored.doc_id,
                 row_number() OVER (ORDER BY score DESC, scored.doc_id) AS lex_rank
               FROM scored, qd WHERE scored.doc_id <> qdoc)
           WHERE lex_rank <= 20),
         qv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings, qd WHERE vec_id = qdoc),
         cc AS (SELECT vec_id AS c_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
           FROM embeddings, qd WHERE vec_id <> qdoc),
         vs AS (SELECT c_id, ${cosSql("qv", "cv", 64)} AS cos FROM cc, qv),
         vecr AS (SELECT c_id AS doc_id, vec_rank FROM (
             SELECT c_id, row_number() OVER (ORDER BY cos DESC, c_id) AS vec_rank
               FROM vs)
           WHERE vec_rank <= 20),
         fused AS (SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
             l.lex_rank, v.vec_rank,
             COALESCE(CAST(1 AS DOUBLE) / (60 + l.lex_rank), CAST(0 AS DOUBLE)) +
             COALESCE(CAST(1 AS DOUBLE) / (60 + v.vec_rank), CAST(0 AS DOUBLE)) AS rrf
           FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id)
         SELECT doc_id, CAST(lex_rank AS INT) AS lex_rank,
             CAST(vec_rank AS INT) AS vec_rank, rrf, CAST(rnk AS INT) AS rank
           FROM (SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rnk
             FROM fused)
           WHERE rnk <= 10 ORDER BY rank""")),

    // PII scrubbing: deterministic synthetic PII appended per doc_id mod,
    // scrubbed by the regexp_replace chain; the full scrubbed string is
    // compared, so any divergence in the replacement logic fails the hash.
    QueryDef("q_pii_scrub",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val pii = concat(col("text"),
          when(col("doc_id") % 3 === 0, " contact: user.name+tag@example-mail.com").otherwise(""),
          when(col("doc_id") % 4 === 0, " call +1 (303) 555-0142").otherwise(""),
          when(col("doc_id") % 5 === 0, " zip 80301").otherwise(""))
        d.select(col("doc_id"), Text.scrubPii(pii).as("scrubbed"))
          .withColumn("n_email", regexp_count(col("scrubbed"), lit("<EMAIL>")).cast(LongType))
          .withColumn("n_phone", regexp_count(col("scrubbed"), lit("<PHONE>")).cast(LongType))
          .withColumn("n_num", regexp_count(col("scrubbed"), lit("<NUM>")).cast(LongType))
          .orderBy("doc_id")
      },
      Some("""WITH p AS (SELECT doc_id, text
           || CASE WHEN doc_id % 3 = 0 THEN ' contact: user.name+tag@example-mail.com' ELSE '' END
           || CASE WHEN doc_id % 4 = 0 THEN ' call +1 (303) 555-0142' ELSE '' END
           || CASE WHEN doc_id % 5 = 0 THEN ' zip 80301' ELSE '' END AS t
           FROM documents),
         s AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(t,
             '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             '\+?[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g'),
             '[0-9]{5,}', '<NUM>', 'g') AS scrubbed
           FROM p)
         SELECT doc_id, scrubbed,
           CAST(len(regexp_extract_all(scrubbed, '<EMAIL>')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(scrubbed, '<PHONE>')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(scrubbed, '<NUM>')) AS BIGINT) AS n_num
         FROM s ORDER BY doc_id""")),

    // Deterministic stratified sampling: md5-keyed keep-predicate (portable,
    // retry/AQE-stable, unlike df.sample) — per-lang sampled counts.
    QueryDef("q_sample_stratified",
      (s, dir) => t(s, dir, "documents")
        .filter(Text.sampleHash(col("doc_id"), 300))
        .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
        .orderBy("lang"),
      Some("""SELECT lang, COUNT(*) AS n_sampled FROM documents
         WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000 < 300
         GROUP BY 1 ORDER BY 1""")),

    // Repetition ratio — 1 − distinct/total bigrams: the boilerplate/spam
    // signal quality filters threshold on (repetitious docs score high).
    // Pure rational arithmetic (oracle-exact); the token array materializes
    // below a repartition exchange per the CodegenFallback discipline.
    QueryDef("q_repetition",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("__t"))
        .repartition(col("doc_id"))
        .select(col("doc_id"), Text.shinglesOf(col("__t"), 2).as("bg"))
        .select(col("doc_id"),
          size(col("bg")).cast(LongType).as("n_bigrams"),
          when(size(col("bg")) > 0,
            round(lit(1.0) - size(array_distinct(col("bg"))).cast("double") / size(col("bg")), 6))
            .otherwise(0.0).as("rep_ratio"))
        .orderBy("doc_id"),
      Some(s"""WITH tok AS (SELECT doc_id, $toks AS t FROM documents),
         bg AS (SELECT doc_id, CASE WHEN len(t) >= 2 THEN list_transform(range(1, len(t)),
             i -> array_to_string(list_slice(t, i, i + 1), ' ')) ELSE [] END AS b
           FROM tok)
         SELECT doc_id, CAST(len(b) AS BIGINT) AS n_bigrams,
           CASE WHEN len(b) > 0
             THEN round(1.0 - CAST(len(list_distinct(b)) AS DOUBLE) / len(b), 6)
             ELSE 0.0 END AS rep_ratio
         FROM bg ORDER BY doc_id""")),

    // Binned document-length distribution — the histogram every corpus
    // intake report starts with (50-char buckets).
    QueryDef("q_doc_length_hist",
      (s, dir) => t(s, dir, "documents")
        .groupBy((floor(length(col("text")) / 50) * 50).cast(LongType).as("len_bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("len_bucket"),
      Some("""SELECT CAST(FLOOR(length(text) / 50) * 50 AS BIGINT) AS len_bucket, COUNT(*) AS n
         FROM documents GROUP BY 1 ORDER BY 1""")),

    // Key-stable train/val/test split (80/10/10 permille bands of the same
    // md5 key space): a doc keeps its split across reruns and corpus growth
    // — the anti-contamination property df.randomSplit does not have.
    QueryDef("q_train_val_split",
      (s, dir) => t(s, dir, "documents")
        .select(col("lang"), Text.splitLabel(col("doc_id")).as("split"))
        .groupBy("lang", "split").agg(count(lit(1)).as("n"))
        .orderBy("lang", "split"),
      Some("""WITH d AS (SELECT lang,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000 AS h
           FROM documents)
         SELECT lang,
           CASE WHEN h < 800 THEN 'train' WHEN h < 900 THEN 'val' ELSE 'test' END AS split,
           COUNT(*) AS n
         FROM d GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Sketch-estimated Jaccard for every LSH candidate pair: the fraction of
    // agreeing minhash components — the estimator the banding thresholds
    // are derived from, computed WITHOUT touching the shingle sets again.
    QueryDef("q_minhash_estimate",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val sigs = Text.minhashSignatures(d, "text", "doc_id")
        val cand = Text.minhashCandidates(Text.minhashBands(d, "text", "doc_id"))
        val sa = sigs.toDF(sigs.columns.map(c => if (c == "doc") "doc_a" else s"a_$c").toIndexedSeq: _*)
        val sb = sigs.toDF(sigs.columns.map(c => if (c == "doc") "doc_b" else s"b_$c").toIndexedSeq: _*)
        cand.join(sa, "doc_a").join(sb, "doc_b")
          .withColumn("est_jaccard",
            Text.minhashEstimate(c => col(s"a_$c"), c => col(s"b_$c")))
          .select("doc_a", "doc_b", "est_jaccard")
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH $bandsSql,
         cand AS (SELECT DISTINCT a.doc AS doc_a, b2.doc AS doc_b
           FROM bk a JOIN bk b2 ON a.band = b2.band AND a.band_key = b2.band_key AND a.doc < b2.doc)
         SELECT c.doc_a, c.doc_b,
           round(CAST(len(list_filter(range(1, ${Text.MinhashK} + 1),
             i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / ${Text.MinhashK}, 6) AS est_jaccard
         FROM cand c JOIN sigs sa ON sa.doc = c.doc_a JOIN sigs sb ON sb.doc = c.doc_b
         ORDER BY doc_a, doc_b"""))
  )

  val dedup: Seq[QueryDef] = Seq(

    QueryDef("q_dedup_exact",
      (s, dir) => Text.dedupExact(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("text_hash"),
      Some("""SELECT md5(lower(trim(text))) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS copies
         FROM documents GROUP BY 1 ORDER BY 1""")),

    // The dedup OUTPUT (not just group stats): survivors selected by a
    // left-semi join on the keep ids — the shape that actually emits the
    // deduplicated corpus downstream.
    QueryDef("q_dedup_keep",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val keep = Text.dedupExact(d, "text", "doc_id")
          .select(col("keep_id").as("doc_id"))
        d.join(keep, Seq("doc_id"), "left_semi")
          .groupBy("lang").agg(count(lit(1)).as("n_kept"))
          .orderBy("lang")
      },
      Some("""WITH k AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(lower(trim(text))))
         SELECT lang, COUNT(*) AS n_kept FROM documents
         WHERE doc_id IN (SELECT doc_id FROM k) GROUP BY 1 ORDER BY 1""")),

    // Edit-distance verification of LSH candidates: levenshtein on the
    // bounded candidate pairs only (both engines implement the identical
    // Wagner-Fischer distance) — the character-level complement of the
    // shingle-set Jaccard verify, and the generalized form of the
    // reference's typo tolerance (C4's 'unites').
    QueryDef("q_near_dup_edit",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val cand = Text.minhashCandidates(Text.minhashBands(d, "text", "doc_id"))
        val texts = d.select(col("doc_id"), col("text"))
        cand
          .join(texts.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
          .join(texts.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            levenshtein(col("ta"), col("tb")).as("edit_dist"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH $bandsSql,
         cand AS (SELECT DISTINCT a.doc AS doc_a, b2.doc AS doc_b
           FROM bk a JOIN bk b2 ON a.band = b2.band AND a.band_key = b2.band_key AND a.doc < b2.doc)
         SELECT c.doc_a, c.doc_b,
           CAST(levenshtein(da.text, db.text) AS INT) AS edit_dist
         FROM cand c JOIN documents da ON da.doc_id = c.doc_a
           JOIN documents db ON db.doc_id = c.doc_b
         ORDER BY doc_a, doc_b""")),

    // Benchmark decontamination: training docs overlapping the (broadcast)
    // benchmark slice above a Jaccard threshold — the corpus is never
    // shuffled for candidate generation.
    QueryDef("q_contamination",
      (s, dir) => Text.contaminationPairs(t(s, dir, "documents"), "text", "doc_id",
          id => id % 50 === 0, maxDf = 20, threshold = 0.05)
        .orderBy("bench_doc", "train_doc"),
      Some(s"""WITH tok AS (SELECT doc_id AS doc, $toks AS t FROM documents),
         sh0 AS (SELECT doc, unnest(list_distinct(
             CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1),
                 i -> array_to_string(list_slice(t, i, i + 2), ' '))
               ELSE [] END)) AS sh
           FROM tok),
         keep AS (SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(DISTINCT doc) <= 20),
         rel AS (SELECT s0.doc, s0.sh FROM sh0 s0 JOIN keep k ON s0.sh = k.sh),
         sizes AS (SELECT doc, COUNT(*) AS n FROM rel GROUP BY doc),
         bench AS (SELECT doc AS bench_doc, sh FROM rel WHERE doc % 50 = 0),
         train AS (SELECT doc AS train_doc, sh FROM rel WHERE doc % 50 <> 0),
         pairs AS (SELECT bench_doc, train_doc, COUNT(*) AS inter
           FROM train JOIN bench USING (sh) GROUP BY 1, 2)
         SELECT bench_doc, train_doc,
           round(CAST(inter AS DOUBLE) / (sb.n + st.n - inter), 6) AS jaccard
         FROM pairs JOIN sizes sb ON sb.doc = bench_doc JOIN sizes st ON st.doc = train_doc
         WHERE round(CAST(inter AS DOUBLE) / (sb.n + st.n - inter), 6) >= 0.05
         ORDER BY bench_doc, train_doc""")),

    // Asymmetric containment near-dup (Broder): |A∩B|/|A| per DIRECTED
    // pair — catches a short doc quoted/embedded inside a long one, which
    // Jaccard's union denominator hides.  Candidates come from the same
    // rare-shingle equi-join as q_ngram_jaccard (one join + one agg);
    // both directions are projected from each canonical pair row, never
    // re-joined.
    QueryDef("q_containment_pairs",
      (s, dir) => Text.containmentPairs(t(s, dir, "documents"), "text", "doc_id",
          maxDf = 20, threshold = 0.5)
        .orderBy("src", "dst"),
      Some(s"""WITH tok AS (SELECT doc_id AS doc, $toks AS t FROM documents),
         sh0 AS (SELECT doc, unnest(list_distinct(
             CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1),
                 i -> array_to_string(list_slice(t, i, i + 2), ' '))
               ELSE [] END)) AS sh
           FROM tok),
         keep AS (SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(DISTINCT doc) <= 20),
         rel AS (SELECT s0.doc, s0.sh FROM sh0 s0 JOIN keep k ON s0.sh = k.sh),
         sizes AS (SELECT doc, COUNT(*) AS n FROM rel GROUP BY doc),
         pairs AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
           FROM rel a JOIN rel b ON a.sh = b.sh AND a.doc < b.doc GROUP BY 1, 2),
         sized AS (SELECT doc_a, doc_b, inter, sa.n AS n_a, sb.n AS n_b
           FROM pairs JOIN sizes sa ON sa.doc = doc_a
             JOIN sizes sb ON sb.doc = doc_b),
         directed AS (SELECT doc_a AS src, doc_b AS dst, inter, n_a AS n_src FROM sized
           UNION ALL SELECT doc_b, doc_a, inter, n_b FROM sized)
         SELECT src, dst, round(CAST(inter AS DOUBLE) / n_src, 6) AS containment
         FROM directed
         WHERE round(CAST(inter AS DOUBLE) / n_src, 6) >= 0.5
         ORDER BY src, dst""")),

    // Containment-dedup POLICY: the end-to-end "remove quoted subsets"
    // pass — a doc is dropped when it is ≥ τ contained in a LONGER doc
    // (n_chars, tie-break smaller doc_id, so the decision is a total
    // order and never drops both sides of a tie).  Each dropped doc
    // reports its chosen container (max containment, then smallest id) —
    // the provenance a curation pipeline logs.  Everything rides the one
    // candidate join of q_containment_pairs.
    QueryDef("q_containment_dedup",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val pairs = Text.containmentPairs(d, "text", "doc_id",
          maxDf = 20, threshold = 0.5)
        val chars = d.select(col("doc_id"), col("n_chars"))
        pairs
          .join(chars.select(col("doc_id").as("src"), col("n_chars").as("src_chars")),
            Seq("src"))
          .join(chars.select(col("doc_id").as("dst"), col("n_chars").as("dst_chars")),
            Seq("dst"))
          .filter(col("dst_chars") > col("src_chars") ||
            (col("dst_chars") === col("src_chars") && col("dst") < col("src")))
          .withColumn("rn", row_number().over(Window.partitionBy("src")
            .orderBy(col("containment").desc, col("dst"))))
          .filter(col("rn") === 1)
          .select(col("src").as("doc_id"), col("dst").as("kept_in"), col("containment"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tok AS (SELECT doc_id AS doc, $toks AS t FROM documents),
         sh0 AS (SELECT doc, unnest(list_distinct(
             CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1),
                 i -> array_to_string(list_slice(t, i, i + 2), ' '))
               ELSE [] END)) AS sh
           FROM tok),
         keep AS (SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(DISTINCT doc) <= 20),
         rel AS (SELECT s0.doc, s0.sh FROM sh0 s0 JOIN keep k ON s0.sh = k.sh),
         sizes AS (SELECT doc, COUNT(*) AS n FROM rel GROUP BY doc),
         pairs AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
           FROM rel a JOIN rel b ON a.sh = b.sh AND a.doc < b.doc GROUP BY 1, 2),
         sized AS (SELECT doc_a, doc_b, inter, sa.n AS n_a, sb.n AS n_b
           FROM pairs JOIN sizes sa ON sa.doc = doc_a
             JOIN sizes sb ON sb.doc = doc_b),
         directed AS (SELECT doc_a AS src, doc_b AS dst, inter, n_a AS n_src FROM sized
           UNION ALL SELECT doc_b, doc_a, inter, n_b FROM sized),
         cont AS (SELECT src, dst,
             round(CAST(inter AS DOUBLE) / n_src, 6) AS containment
           FROM directed
           WHERE round(CAST(inter AS DOUBLE) / n_src, 6) >= 0.5),
         lens AS (SELECT doc_id, n_chars FROM documents),
         cand AS (SELECT c.src, c.dst, c.containment
           FROM cont c JOIN lens ls ON ls.doc_id = c.src
             JOIN lens ld ON ld.doc_id = c.dst
           WHERE ld.n_chars > ls.n_chars
             OR (ld.n_chars = ls.n_chars AND c.dst < c.src)),
         r AS (SELECT src, dst, containment,
             row_number() OVER (PARTITION BY src
               ORDER BY containment DESC, dst) AS rn
           FROM cand)
         SELECT src AS doc_id, dst AS kept_in, containment
         FROM r WHERE rn = 1 ORDER BY doc_id""")),

    // FEATURE HASHING (the Weinberger et al. hashing trick): project each
    // doc's term multiset into a fixed 64-bucket signed vector — bucket =
    // h(t) mod 64, sign = an INDEPENDENT hash bit (bit 6), so collisions
    // debias in expectation.  The fixed-width featurizer that needs no
    // vocabulary pass: per-row hash + one (doc, bucket) aggregate, any
    // corpus size, no dictionary state.  Zero-weight buckets (equal ±
    // collisions) are dropped like true sparse vectors.  Vector dumped as
    // a zero-padded sorted "bucket:weight" string (array cells don't
    // survive the driver comparator; lexicographic = numeric at fixed
    // width).
    QueryDef("q_feature_hash",
      (s, dir) => {
        val h = Text.tokenHash(col("term"))
        t(s, dir, "documents")
          .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
          .withColumn("bucket", pmod(h, lit(64L)))
          .withColumn("sgn", when(shiftright(h, 6) % 2 === 0, 1L).otherwise(-1L))
          .groupBy("doc_id", "bucket").agg(sum(col("sgn")).as("w"))
          .filter(col("w") =!= 0)
          .select(col("doc_id"),
            concat(lpad(col("bucket").cast("string"), 2, "0"), lit(":"),
              col("w").cast("string")).as("bw"))
          .groupBy("doc_id")
          .agg(array_join(sort_array(collect_list(col("bw"))), ",").as("vec"))
          .orderBy("doc_id")
      },
      Some(s"""WITH rel AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         h AS (SELECT doc_id, ${th("term")} % 64 AS bucket,
             CASE WHEN (${th("term")} // 64) % 2 = 0 THEN 1 ELSE -1 END AS sgn
           FROM rel),
         v AS (SELECT doc_id, bucket, SUM(sgn) AS w FROM h GROUP BY 1, 2),
         nz AS (SELECT doc_id,
             lpad(CAST(bucket AS VARCHAR), 2, '0') || ':' || CAST(w AS VARCHAR) AS bw
           FROM v WHERE w <> 0)
         SELECT doc_id, array_to_string(list_sort(list(bw)), ',') AS vec
         FROM nz GROUP BY doc_id ORDER BY doc_id""")),

    // The banding PLANNER: the analytic S-curve p(s) = 1−(1−s^r)^b per
    // (bands, rows) shape — pick the knee matching the dedup threshold
    // before building an index.  Integer powers by repeated multiplication
    // (pow/libm never enters), so both engines fold identical doubles.
    QueryDef("q_lsh_banding_plan",
      (s, dir) => Text.lshBandingPlan(s,
        Seq((4, 4), (8, 2), (2, 8), (16, 4)), steps = 20),
      Some {
        def pw(t: String, k: Int) = Seq.fill(k)(t).mkString("(", " * ", ")")
        val rows = Seq((4, 4), (8, 2), (2, 8), (16, 4)).map { case (b, r) =>
          s"""SELECT $b AS b, $r AS r, s,
             round(1.0 - ${pw(s"(1.0 - ${pw("s", r)})", b)}, 9) AS p_candidate
           FROM g"""
        }.mkString("\n           UNION ALL ")
        s"""WITH g AS (SELECT CAST(range AS DOUBLE) / 20 AS s FROM range(1, 21))
         SELECT * FROM ($rows)
         ORDER BY b, r, s"""
      }),

    QueryDef("q_minhash_bands",
      (s, dir) => Text.minhashBands(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc", "band"),
      Some(s"""WITH $bandsSql
         SELECT doc, band, band_key FROM bk ORDER BY doc, band""")),

    QueryDef("q_minhash_candidates",
      (s, dir) => Text.minhashCandidates(
          Text.minhashBands(t(s, dir, "documents"), "text", "doc_id"))
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH $bandsSql
         SELECT DISTINCT a.doc AS doc_a, b2.doc AS doc_b
         FROM bk a JOIN bk b2 ON a.band = b2.band AND a.band_key = b2.band_key AND a.doc < b2.doc
         ORDER BY 1, 2""")),

    QueryDef("q_near_dup_jaccard",
      (s, dir) => {
        val d = t(s, dir, "documents")
        Text.verifiedPairs(d, "text", "doc_id",
            Text.minhashCandidates(Text.minhashBands(d, "text", "doc_id")), 0.2)
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH $bandsSql,
         cand AS (SELECT DISTINCT a.doc AS doc_a, b2.doc AS doc_b
           FROM bk a JOIN bk b2 ON a.band = b2.band AND a.band_key = b2.band_key AND a.doc < b2.doc),
         tk AS (SELECT doc, list_distinct(sh) AS tk FROM shd)
         SELECT c.doc_a, c.doc_b,
           round(CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
             / (len(ta.tk) + len(tb.tk) - len(list_intersect(ta.tk, tb.tk))), 6) AS jaccard
         FROM cand c JOIN tk ta ON ta.doc = c.doc_a JOIN tk tb ON tb.doc = c.doc_b
         WHERE round(CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
             / (len(ta.tk) + len(tb.tk) - len(list_intersect(ta.tk, tb.tk))), 6) >= 0.2
         ORDER BY doc_a, doc_b""")),

    // MinHash banding recall audit — the text-dedup twin of q_ann_recall:
    // |banded-and-verified pairs ∩ exact τ-Jaccard pairs| / |exact|.
    // SAMPLING CONTRACT (the q_ann_recall `vec_id < 30` pattern): both the
    // banded pipeline and the exact ground truth run on the FIXED-SIZE
    // audited universe `doc_id < 300`, so the DF-cutoff-free exact
    // shingle self-join (any pair with J > 0 shares a shingle — complete)
    // is quadratic in the SAMPLE, never the corpus: at 100× documents the
    // audit costs exactly what it costs here.  The measured recall IS the
    // banding-theory number for the (bands, rows) configuration, and it is
    // what justifies trusting the candidate join at 100 TB.
    QueryDef("q_minhash_recall",
      (s, dir) => {
        val d = t(s, dir, "documents").filter(col("doc_id") < 300)
        val banded = Text.verifiedPairs(d, "text", "doc_id",
            Text.minhashCandidates(Text.minhashBands(d, "text", "doc_id")), 0.2)
          .select(col("doc_a"), col("doc_b"))
        val truth = Text.ngramJaccardPairs(d, "text", "doc_id",
            maxDf = Int.MaxValue, threshold = 0.2)
          .select(col("doc_a").as("t_a"), col("doc_b").as("t_b"))
        val hit = banded.join(truth,
          col("doc_a") === col("t_a") && col("doc_b") === col("t_b"), "left_semi")
        truth.agg(count(lit(1)).as("n_true"))
          .crossJoin(broadcast(banded.agg(count(lit(1)).as("n_banded"))))
          .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
          // an SF whose sampled universe has no true pairs makes recall
          // undefined, not a crash (Spark 4 ANSI division errors on 0)
          .withColumn("recall", when(col("n_true") === 0, lit(null).cast("double"))
            .otherwise(round(col("n_hit") / col("n_true"), 6)))
      },
      Some(s"""WITH ${bandsSqlPred("doc_id < 300 AND ")},
         cand AS (SELECT DISTINCT a.doc AS doc_a, b2.doc AS doc_b
           FROM bk a JOIN bk b2 ON a.band = b2.band AND a.band_key = b2.band_key AND a.doc < b2.doc),
         tk AS (SELECT doc, list_distinct(sh) AS tk FROM shd),
         banded AS (SELECT c.doc_a, c.doc_b
           FROM cand c JOIN tk ta ON ta.doc = c.doc_a JOIN tk tb ON tb.doc = c.doc_b
           WHERE round(CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
             / (len(ta.tk) + len(tb.tk) - len(list_intersect(ta.tk, tb.tk))), 6) >= 0.2),
         rel AS (SELECT doc, unnest(list_distinct(sh)) AS s FROM shd),
         sizes AS (SELECT doc, COUNT(*) AS n FROM rel GROUP BY doc),
         pairs AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
           FROM rel a JOIN rel b ON a.s = b.s AND a.doc < b.doc GROUP BY 1, 2),
         truth AS (SELECT doc_a, doc_b
           FROM pairs JOIN sizes sa ON sa.doc = doc_a JOIN sizes sb ON sb.doc = doc_b
           WHERE round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) >= 0.2),
         agg AS (SELECT (SELECT COUNT(*) FROM truth) AS n_true,
             (SELECT COUNT(*) FROM banded) AS n_banded,
             (SELECT COUNT(*) FROM banded SEMI JOIN truth USING (doc_a, doc_b)) AS n_hit)
         SELECT n_true, n_banded, n_hit,
           CASE WHEN n_true = 0 THEN NULL
             ELSE round(CAST(n_hit AS DOUBLE) / n_true, 6) END AS recall
         FROM agg""")),

    // One-permutation hashing: the 16 multiply-mod-min aggregate updates
    // per (doc, shingle) row become one pmod + one conditional min — the
    // map-side-combine cost cut that matters when the shingle relation is
    // billions of rows.  Signature columns are exact integers end-to-end
    // (hash quotients, plus rotation-densification offsets), so the whole
    // sketch is under the hash gate, not just its downstream effects.
    QueryDef("q_minhash_oph",
      (s, dir) => Text.ophSignatures(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc") +: (0 until Text.MinhashK).map(i =>
          col(s"__s$i").as(s"s$i")): _*)
        .orderBy("doc"),
      Some(s"""WITH ${ophSqlPred("")}
         SELECT * FROM osig ORDER BY doc""")),

    // The OPH near-dup pipeline end-to-end: band the densified sketch
    // (same 4×4 shape), equi-join candidates, verify with exact shingle
    // Jaccard — the [[q_near_dup_jaccard]] tail on the one-hash sketch.
    QueryDef("q_oph_near_dup",
      (s, dir) => {
        val d = t(s, dir, "documents")
        Text.verifiedPairs(d, "text", "doc_id",
            Text.minhashCandidates(Text.ophBands(d, "text", "doc_id")), 0.2)
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH ${ophSqlPred("")},
         cand AS (SELECT DISTINCT a.doc AS doc_a, b2.doc AS doc_b
           FROM obk a JOIN obk b2 ON a.band = b2.band AND a.band_key = b2.band_key AND a.doc < b2.doc),
         tk AS (SELECT doc, list_distinct(sh) AS tk FROM shd)
         SELECT c.doc_a, c.doc_b,
           round(CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
             / (len(ta.tk) + len(tb.tk) - len(list_intersect(ta.tk, tb.tk))), 6) AS jaccard
         FROM cand c JOIN tk ta ON ta.doc = c.doc_a JOIN tk tb ON tb.doc = c.doc_b
         WHERE round(CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
             / (len(ta.tk) + len(tb.tk) - len(list_intersect(ta.tk, tb.tk))), 6) >= 0.2
         ORDER BY doc_a, doc_b""")),

    // OPH banding recall audit on the fixed doc_id < 300 universe (the
    // q_minhash_recall sampling contract): the measured recall against
    // exact τ-Jaccard truth is what justifies swapping the k-hash sketch
    // for the one-hash sketch at 100 TB — densification keeps the
    // component-agreement estimator, this measures it.
    QueryDef("q_oph_recall",
      (s, dir) => {
        val d = t(s, dir, "documents").filter(col("doc_id") < 300)
        val banded = Text.verifiedPairs(d, "text", "doc_id",
            Text.minhashCandidates(Text.ophBands(d, "text", "doc_id")), 0.2)
          .select(col("doc_a"), col("doc_b"))
        val truth = Text.ngramJaccardPairs(d, "text", "doc_id",
            maxDf = Int.MaxValue, threshold = 0.2)
          .select(col("doc_a").as("t_a"), col("doc_b").as("t_b"))
        val hit = banded.join(truth,
          col("doc_a") === col("t_a") && col("doc_b") === col("t_b"), "left_semi")
        truth.agg(count(lit(1)).as("n_true"))
          .crossJoin(broadcast(banded.agg(count(lit(1)).as("n_banded"))))
          .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
          .withColumn("recall", when(col("n_true") === 0, lit(null).cast("double"))
            .otherwise(round(col("n_hit") / col("n_true"), 6)))
      },
      Some(s"""WITH ${ophSqlPred("doc_id < 300 AND ")},
         cand AS (SELECT DISTINCT a.doc AS doc_a, b2.doc AS doc_b
           FROM obk a JOIN obk b2 ON a.band = b2.band AND a.band_key = b2.band_key AND a.doc < b2.doc),
         tk AS (SELECT doc, list_distinct(sh) AS tk FROM shd),
         banded AS (SELECT c.doc_a, c.doc_b
           FROM cand c JOIN tk ta ON ta.doc = c.doc_a JOIN tk tb ON tb.doc = c.doc_b
           WHERE round(CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
             / (len(ta.tk) + len(tb.tk) - len(list_intersect(ta.tk, tb.tk))), 6) >= 0.2),
         rel AS (SELECT doc, unnest(list_distinct(sh)) AS s FROM shd),
         sizes AS (SELECT doc, COUNT(*) AS n FROM rel GROUP BY doc),
         pairs AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
           FROM rel a JOIN rel b ON a.s = b.s AND a.doc < b.doc GROUP BY 1, 2),
         truth AS (SELECT doc_a, doc_b
           FROM pairs JOIN sizes sa ON sa.doc = doc_a JOIN sizes sb ON sb.doc = doc_b
           WHERE round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) >= 0.2),
         agg AS (SELECT (SELECT COUNT(*) FROM truth) AS n_true,
             (SELECT COUNT(*) FROM banded) AS n_banded,
             (SELECT COUNT(*) FROM banded SEMI JOIN truth USING (doc_a, doc_b)) AS n_hit)
         SELECT n_true, n_banded, n_hit,
           CASE WHEN n_true = 0 THEN NULL
             ELSE round(CAST(n_hit AS DOUBLE) / n_true, 6) END AS recall
         FROM agg""")),

    QueryDef("q_simhash",
      (s, dir) => Text.simhashRelational(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, $simhashSqlExpr AS simhash
         FROM documents ORDER BY doc_id""")),

    // SimHash near-dup pairs: 12-bit band equi-join candidates (pigeonhole:
    // hamming ≤ bands−1 ⇒ some band agrees), bit_count(XOR) verify — the
    // bucketed comparison the SimHash scaladoc promises, exercised.
    QueryDef("q_simhash_near_dup",
      (s, dir) => Text.simhashNearDupPairs(t(s, dir, "documents"), "text", "doc_id",
          maxHamming = 3)
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH sim AS (SELECT doc_id AS doc, $simhashSqlExpr AS simhash FROM documents),
         bands AS (SELECT doc, simhash, rb.band,
             (simhash >> (rb.band * 12)) & 4095 AS band_val
           FROM sim, (SELECT CAST(unnest(range(0, 4)) AS INT) AS band) rb),
         cand AS (SELECT DISTINCT a.doc AS doc_a, b2.doc AS doc_b,
             a.simhash AS sim_a, b2.simhash AS sim_b
           FROM bands a JOIN bands b2
             ON a.band = b2.band AND a.band_val = b2.band_val AND a.doc < b2.doc)
         SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
         FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
         ORDER BY doc_a, doc_b""")),

    QueryDef("q_ngram_jaccard",
      (s, dir) => Text.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id",
          maxDf = 20, threshold = 0.1)
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH tok AS (SELECT doc_id AS doc, $toks AS t FROM documents),
         sh0 AS (SELECT doc, unnest(list_distinct(
             CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1),
                 i -> array_to_string(list_slice(t, i, i + 2), ' '))
               ELSE [] END)) AS sh
           FROM tok),
         keep AS (SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(DISTINCT doc) <= 20),
         rel AS (SELECT s0.doc, s0.sh FROM sh0 s0 JOIN keep k ON s0.sh = k.sh),
         sizes AS (SELECT doc, COUNT(*) AS n FROM rel GROUP BY doc),
         pairs AS (SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
           FROM rel a JOIN rel b ON a.sh = b.sh AND a.doc < b.doc GROUP BY 1, 2)
         SELECT doc_a, doc_b,
           round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
         FROM pairs JOIN sizes sa ON sa.doc = doc_a JOIN sizes sb ON sb.doc = doc_b
         WHERE round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) >= 0.1
         ORDER BY doc_a, doc_b"""))
  )

  val similarity: Seq[QueryDef] = Seq(

    // Exact cosine top-k of a small broadcast query set vs the corpus.
    QueryDef("q_cosine_brute_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Vector.bruteForceTopK(e.filter(col("vec_id") < 10), e, 5)
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH q AS (SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS c_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
           FROM embeddings),
         sc AS (SELECT q_id, c_id, ${cosSql("qv", "cv", 64)} AS cos
           FROM c, q WHERE q_id <> c_id),
         r AS (SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
           FROM sc)
         SELECT q_id, CAST(rank AS INT) AS rank, c_id, cos FROM r
         WHERE rank <= 5 ORDER BY q_id, rank""")),

    // ANN recall audit — per query: |LSH top-k ∩ exact top-k| / k.  The
    // self-measuring diagnostic every approximate index needs before its
    // recall knobs (planes, multi-probe) are trusted at corpus scale; both
    // pipelines are the registered operators, the overlap is a semi-join
    // on (q_id, c_id).
    QueryDef("q_ann_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val qs = e.filter(col("vec_id") < 30)
        val approx = Vector.lshTopKMultiProbe(qs, e, 5, 4, 64)
          .select(col("q_id"), col("c_id"))
        val exact = Vector.bruteForceTopK(qs, e, 5)
          .select(col("q_id").as("eq_id"), col("c_id").as("ec_id"))
        approx.join(exact,
            col("q_id") === col("eq_id") && col("c_id") === col("ec_id"),
            "left_semi")
          .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
          .withColumn("recall", col("n_hit") / lit(5))
          .orderBy("q_id")
      },
      Some(s"""WITH ${lshSql(4, 64)},
         q AS (SELECT vec_id AS q_id, dv AS qv, bucket FROM b WHERE vec_id < 30),
         pr AS (SELECT q_id, qv, unnest([bucket,
             xor(bucket, CAST(1 AS BIGINT)), xor(bucket, CAST(2 AS BIGINT)),
             xor(bucket, CAST(4 AS BIGINT)), xor(bucket, CAST(8 AS BIGINT))]) AS pb FROM q),
         c AS (SELECT vec_id AS c_id, dv AS cv, bucket FROM b),
         asc_ AS (SELECT q_id, c_id,
             row_number() OVER (PARTITION BY q_id ORDER BY ${cosSql("qv", "cv", 64)} DESC, c_id) AS rank
           FROM pr JOIN c ON pr.pb = c.bucket AND q_id <> c_id),
         approx AS (SELECT q_id, c_id FROM asc_ WHERE rank <= 5),
         ex AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ${cosSql("q.dv", "c.dv", 64)} DESC, c.vec_id) AS rank
           FROM b q JOIN b c ON q.vec_id < 30 AND q.vec_id <> c.vec_id),
         exact AS (SELECT q_id, c_id FROM ex WHERE rank <= 5)
         SELECT q_id, COUNT(*) AS n_hit, COUNT(*) / 5 AS recall
         FROM approx SEMI JOIN exact USING (q_id, c_id)
         GROUP BY 1 ORDER BY 1""")),

    // The same recall audit at the SECOND operating point: planes=8
    // (256 buckets ≈ 16× fewer candidates per bucket).  planes is the
    // recall/cost knob the 100 TB sizing story leans on — bucket count
    // scales 2^planes while multi-probe (all single-bit flips) recovers
    // boundary-crossing neighbors; this query plus the planes=4 one above
    // measure the trade both ways in-engine.  VectorSpec asserts the
    // ordering (multi-probe ≥ single-probe at equal planes) at both points.
    QueryDef("q_ann_recall_p8",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val qs = e.filter(col("vec_id") < 30)
        val approx = Vector.lshTopKMultiProbe(qs, e, 5, 8, 64)
          .select(col("q_id"), col("c_id"))
        val exact = Vector.bruteForceTopK(qs, e, 5)
          .select(col("q_id").as("eq_id"), col("c_id").as("ec_id"))
        approx.join(exact,
            col("q_id") === col("eq_id") && col("c_id") === col("ec_id"),
            "left_semi")
          .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
          .withColumn("recall", col("n_hit") / lit(5))
          .orderBy("q_id")
      },
      Some {
        val probes = (Seq("bucket") ++
          (0 until 8).map(p => s"xor(bucket, CAST(${1L << p} AS BIGINT))"))
          .mkString(", ")
        s"""WITH ${lshSql(8, 64)},
         q AS (SELECT vec_id AS q_id, dv AS qv, bucket FROM b WHERE vec_id < 30),
         pr AS (SELECT q_id, qv, unnest([$probes]) AS pb FROM q),
         c AS (SELECT vec_id AS c_id, dv AS cv, bucket FROM b),
         asc_ AS (SELECT q_id, c_id,
             row_number() OVER (PARTITION BY q_id ORDER BY ${cosSql("qv", "cv", 64)} DESC, c_id) AS rank
           FROM pr JOIN c ON pr.pb = c.bucket AND q_id <> c_id),
         approx AS (SELECT q_id, c_id FROM asc_ WHERE rank <= 5),
         ex AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ${cosSql("q.dv", "c.dv", 64)} DESC, c.vec_id) AS rank
           FROM b q JOIN b c ON q.vec_id < 30 AND q.vec_id <> c.vec_id),
         exact AS (SELECT q_id, c_id FROM ex WHERE rank <= 5)
         SELECT q_id, COUNT(*) AS n_hit, COUNT(*) / 5 AS recall
         FROM approx SEMI JOIN exact USING (q_id, c_id)
         GROUP BY 1 ORDER BY 1"""
      }),

    // JL random projection 64→16: the dim-reduction pre-pass of the index
    // ladder (project → bucket → encode).  Ranking in the PROJECTED space,
    // every projected coordinate pinned through the cosines.
    QueryDef("q_rand_proj_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Vector.projectedTopK(e.filter(col("vec_id") < 6), e, 3, 16, 64)
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH ${projSql(16, 64)},
         q AS (SELECT vec_id AS q_id, pv AS qpv FROM p WHERE vec_id < 6),
         sc AS (SELECT q_id, c.vec_id AS c_id, ${cosSql("qpv", "c.pv", 16)} AS pcos
           FROM q JOIN p c ON q_id <> c.vec_id),
         r AS (SELECT q_id, c_id, pcos,
             row_number() OVER (PARTITION BY q_id ORDER BY pcos DESC, c_id) AS rank
           FROM sc)
         SELECT q_id, CAST(rank AS INT) AS rank, c_id, pcos
         FROM r WHERE rank <= 3 ORDER BY q_id, rank""")),

    // Does 64→16 projection keep true neighbors?  The recall audit that
    // turns the JL lemma from an assumption into a measurement (same shape
    // as q_ann_recall: projected top-5 vs full-dimension truth).
    QueryDef("q_rand_proj_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val qs = e.filter(col("vec_id") < 30)
        val approx = Vector.projectedTopK(qs, e, 5, 16, 64)
          .select(col("q_id"), col("c_id"))
        val exact = Vector.bruteForceTopK(qs, e, 5)
          .select(col("q_id").as("eq_id"), col("c_id").as("ec_id"))
        approx.join(exact,
            col("q_id") === col("eq_id") && col("c_id") === col("ec_id"),
            "left_semi")
          .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
          .withColumn("recall", col("n_hit") / lit(5))
          .orderBy("q_id")
      },
      Some(s"""WITH ${projSql(16, 64)},
         q AS (SELECT vec_id AS q_id, pv AS qpv FROM p WHERE vec_id < 30),
         ap AS (SELECT q_id, c.vec_id AS c_id,
             row_number() OVER (PARTITION BY q_id
               ORDER BY ${cosSql("qpv", "c.pv", 16)} DESC, c.vec_id) AS rank
           FROM q JOIN p c ON q_id <> c.vec_id),
         approx AS (SELECT q_id, c_id FROM ap WHERE rank <= 5),
         ex AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ${cosSql("q.dv", "c.dv", 64)} DESC, c.vec_id) AS rank
           FROM v q JOIN v c ON q.vec_id < 30 AND q.vec_id <> c.vec_id),
         exact AS (SELECT q_id, c_id FROM ex WHERE rank <= 5)
         SELECT q_id, COUNT(*) AS n_hit, COUNT(*) / 5 AS recall
         FROM approx SEMI JOIN exact USING (q_id, c_id)
         GROUP BY 1 ORDER BY 1""")),

    // Matryoshka truncation 64→16: the FREE dim-reduction beside random
    // projection — an array slice, no projection matrix — ranking in the
    // prefix space with every prefix cosine pinned.  Whether the fixture
    // embeddings front-load information is the recall query's job.
    QueryDef("q_matryoshka_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Vector.prefixTopK(e.filter(col("vec_id") < 6), e, 3, 16)
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH v AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
           FROM embeddings),
         p AS (SELECT vec_id, dv[1:16] AS mv FROM v),
         q AS (SELECT vec_id AS q_id, mv AS qm FROM p WHERE vec_id < 6),
         sc AS (SELECT q_id, c.vec_id AS c_id, ${cosSql("qm", "c.mv", 16)} AS mcos
           FROM q JOIN p c ON q_id <> c.vec_id),
         r AS (SELECT q_id, c_id, mcos,
             row_number() OVER (PARTITION BY q_id ORDER BY mcos DESC, c_id) AS rank
           FROM sc)
         SELECT q_id, CAST(rank AS INT) AS rank, c_id, mcos
         FROM r WHERE rank <= 3 ORDER BY q_id, rank""")),

    // Does the 16-dim PREFIX keep true neighbors?  The audit that decides
    // whether these embeddings may be served truncated (same shape as
    // q_rand_proj_recall: prefix top-5 vs full-dimension truth) — and the
    // measured comparison point between truncation and projection.
    QueryDef("q_matryoshka_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val qs = e.filter(col("vec_id") < 30)
        val approx = Vector.prefixTopK(qs, e, 5, 16)
          .select(col("q_id"), col("c_id"))
        val exact = Vector.bruteForceTopK(qs, e, 5)
          .select(col("q_id").as("eq_id"), col("c_id").as("ec_id"))
        approx.join(exact,
            col("q_id") === col("eq_id") && col("c_id") === col("ec_id"),
            "left_semi")
          .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
          .withColumn("recall", col("n_hit") / lit(5))
          .orderBy("q_id")
      },
      Some(s"""WITH v AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
           FROM embeddings),
         p AS (SELECT vec_id, dv[1:16] AS mv, dv FROM v),
         q AS (SELECT vec_id AS q_id, mv AS qm FROM p WHERE vec_id < 30),
         ap AS (SELECT q_id, c.vec_id AS c_id,
             row_number() OVER (PARTITION BY q_id
               ORDER BY ${cosSql("qm", "c.mv", 16)} DESC, c.vec_id) AS rank
           FROM q JOIN p c ON q_id <> c.vec_id),
         approx AS (SELECT q_id, c_id FROM ap WHERE rank <= 5),
         ex AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ${cosSql("q.dv", "c.dv", 64)} DESC, c.vec_id) AS rank
           FROM v q JOIN v c ON q.vec_id < 30 AND q.vec_id <> c.vec_id),
         exact AS (SELECT q_id, c_id FROM ex WHERE rank <= 5)
         SELECT q_id, COUNT(*) AS n_hit, COUNT(*) / 5 AS recall
         FROM approx SEMI JOIN exact USING (q_id, c_id)
         GROUP BY 1 ORDER BY 1""")),

    // Mutual k-NN mining (the bitext / hard-negative reciprocity filter):
    // (a, b) survives iff each is in the other's top-5 — hub-dominated
    // one-directional neighbors drop.  Composes with any retrieval tier;
    // here over brute-force truth so the oracle pins the mutuality logic
    // itself, not an index's recall.
    QueryDef("q_mutual_knn",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        // allPairsTopK carries the all-queries plan shape (repartitioned
        // probe side, heap top-k); the checkpoint materializes the
        // |corpus|·k-row result ONCE so the mutuality self-join does not
        // recompute the full pair fan-out for its second side
        Vector.mutualPairs(Vector.allPairsTopK(e, 5).localCheckpoint())
          .orderBy("a", "b")
      },
      Some(s"""WITH v AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
           FROM embeddings),
         sc AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             ${cosSql("q.dv", "c.dv", 64)} AS cos,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ${cosSql("q.dv", "c.dv", 64)} DESC, c.vec_id) AS rank
           FROM v q JOIN v c ON q.vec_id <> c.vec_id),
         tk AS (SELECT q_id, c_id, cos FROM sc WHERE rank <= 5),
         m AS (SELECT f.q_id AS a, f.c_id AS b, f.cos
           FROM tk f SEMI JOIN tk r ON f.q_id = r.c_id AND f.c_id = r.q_id
           WHERE f.q_id < f.c_id)
         SELECT a, b, cos FROM m ORDER BY a, b""")),

    // Graded retrieval quality: nDCG@5 of the multi-probe LSH list vs
    // exact truth — recall counts hits, nDCG also charges wrong ORDER;
    // the metric an index-parameter sweep actually optimizes.
    QueryDef("q_ann_ndcg",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val qs = e.filter(col("vec_id") < 30)
        Vector.ndcgAtK(
            Vector.lshTopKMultiProbe(qs, e, 5, 4, 64),
            Vector.bruteForceTopK(qs, e, 5), k = 5)
          .orderBy("q_id")
      },
      Some(s"""WITH ${lshSql(4, 64)},
         q AS (SELECT vec_id AS q_id, dv AS qv, bucket FROM b WHERE vec_id < 30),
         pr AS (SELECT q_id, qv, unnest([bucket,
             xor(bucket, CAST(1 AS BIGINT)), xor(bucket, CAST(2 AS BIGINT)),
             xor(bucket, CAST(4 AS BIGINT)), xor(bucket, CAST(8 AS BIGINT))]) AS pb FROM q),
         c AS (SELECT vec_id AS c_id, dv AS cv, bucket FROM b),
         asc_ AS (SELECT q_id, c_id,
             row_number() OVER (PARTITION BY q_id ORDER BY ${cosSql("qv", "cv", 64)} DESC, c_id) AS rank
           FROM pr JOIN c ON pr.pb = c.bucket AND q_id <> c_id),
         approx AS (SELECT q_id, c_id, rank AS apos FROM asc_ WHERE rank <= 5),
         ex AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ${cosSql("q.dv", "c.dv", 64)} DESC, c.vec_id) AS rank
           FROM b q JOIN b c ON q.vec_id < 30 AND q.vec_id <> c.vec_id),
         exact AS (SELECT q_id, c_id, rank AS erank FROM ex WHERE rank <= 5),
         g AS (SELECT a.q_id,
             round(COALESCE(6 - erank, 0) / log2(apos + 1), 9) AS t
           FROM approx a LEFT JOIN exact e2
             ON a.q_id = e2.q_id AND a.c_id = e2.c_id),
         d2 AS (SELECT q_id, CAST(SUM(CAST(t AS DECIMAL(38,9))) AS DOUBLE) AS dcg
           FROM g GROUP BY 1),
         ii AS (SELECT q_id, round((6 - erank) / log2(erank + 1), 9) AS t FROM exact),
         i2 AS (SELECT q_id, CAST(SUM(CAST(t AS DECIMAL(38,9))) AS DOUBLE) AS idcg
           FROM ii GROUP BY 1)
         SELECT d2.q_id, dcg, idcg, dcg / idcg AS ndcg
         FROM d2 JOIN i2 USING (q_id) ORDER BY q_id""")),

    // MRR: how far down the approximate list is the FIRST true neighbor —
    // the lookup-retrieval metric completing the recall/nDCG/MRR trio.
    QueryDef("q_ann_mrr",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val qs = e.filter(col("vec_id") < 30)
        Vector.mrrAtK(
            Vector.lshTopKMultiProbe(qs, e, 5, 4, 64),
            Vector.bruteForceTopK(qs, e, 5))
          .orderBy("q_id")
      },
      Some(s"""WITH ${lshSql(4, 64)},
         q AS (SELECT vec_id AS q_id, dv AS qv, bucket FROM b WHERE vec_id < 30),
         pr AS (SELECT q_id, qv, unnest([bucket,
             xor(bucket, CAST(1 AS BIGINT)), xor(bucket, CAST(2 AS BIGINT)),
             xor(bucket, CAST(4 AS BIGINT)), xor(bucket, CAST(8 AS BIGINT))]) AS pb FROM q),
         c AS (SELECT vec_id AS c_id, dv AS cv, bucket FROM b),
         asc_ AS (SELECT q_id, c_id,
             row_number() OVER (PARTITION BY q_id ORDER BY ${cosSql("qv", "cv", 64)} DESC, c_id) AS rank
           FROM pr JOIN c ON pr.pb = c.bucket AND q_id <> c_id),
         approx AS (SELECT q_id, c_id, rank AS apos FROM asc_ WHERE rank <= 5),
         ex AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ${cosSql("q.dv", "c.dv", 64)} DESC, c.vec_id) AS rank
           FROM b q JOIN b c ON q.vec_id < 30 AND q.vec_id <> c.vec_id),
         exact AS (SELECT q_id, c_id FROM ex WHERE rank <= 5),
         fh AS (SELECT a.q_id,
             CAST(COALESCE(MIN(CASE WHEN e2.c_id IS NOT NULL THEN apos END), 0) AS INT) AS first_hit
           FROM approx a LEFT JOIN exact e2
             ON a.q_id = e2.q_id AND a.c_id = e2.c_id
           GROUP BY 1)
         SELECT q_id, first_hit,
           CASE WHEN first_hit > 0 THEN CAST(1.0 AS DOUBLE) / first_hit
             ELSE CAST(0.0 AS DOUBLE) END AS rr
         FROM fh ORDER BY q_id""")),

    // RBO@5 (p=0.9): top-weighted agreement between the approximate and
    // exact RANKINGS themselves — no relevance model, the pure
    // list-similarity lens completing recall/nDCG/MRR.  Each common item
    // contributes the suffix weight of its entry depth max(rank_A,
    // rank_B); both engines build the identical 5-row weight spine from
    // 12-dp-rounded terms under exact decimal suffix summation.
    QueryDef("q_ann_rbo",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val qs = e.filter(col("vec_id") < 30)
        Vector.rboAtK(
            Vector.lshTopKMultiProbe(qs, e, 5, 4, 64),
            Vector.bruteForceTopK(qs, e, 5), k = 5, p = 0.9)
          .orderBy("q_id")
      },
      Some(s"""WITH ${lshSql(4, 64)},
         q AS (SELECT vec_id AS q_id, dv AS qv, bucket FROM b WHERE vec_id < 30),
         pr AS (SELECT q_id, qv, unnest([bucket,
             xor(bucket, CAST(1 AS BIGINT)), xor(bucket, CAST(2 AS BIGINT)),
             xor(bucket, CAST(4 AS BIGINT)), xor(bucket, CAST(8 AS BIGINT))]) AS pb FROM q),
         c AS (SELECT vec_id AS c_id, dv AS cv, bucket FROM b),
         asc_ AS (SELECT q_id, c_id,
             row_number() OVER (PARTITION BY q_id ORDER BY ${cosSql("qv", "cv", 64)} DESC, c_id) AS rank
           FROM pr JOIN c ON pr.pb = c.bucket AND q_id <> c_id),
         approx AS (SELECT q_id, c_id, rank AS apos FROM asc_ WHERE rank <= 5),
         ex AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ${cosSql("q.dv", "c.dv", 64)} DESC, c.vec_id) AS rank
           FROM b q JOIN b c ON q.vec_id < 30 AND q.vec_id <> c.vec_id),
         exact AS (SELECT q_id, c_id, rank AS erank FROM ex WHERE rank <= 5),
         sp AS (SELECT CAST(range AS BIGINT) AS d,
             round((1 - 0.9) * pow(0.9, range - 1) / range, 12) AS w
           FROM range(1, 6)),
         ws AS (SELECT d, CAST(SUM(CAST(w AS DECIMAL(38,12)))
             OVER (ORDER BY d DESC) AS DOUBLE) AS wm FROM sp),
         cm AS (SELECT a.q_id, greatest(apos, erank) AS m
           FROM approx a JOIN exact e2 ON a.q_id = e2.q_id AND a.c_id = e2.c_id),
         tt AS (SELECT q_id, round(wm, 9) AS t FROM cm JOIN ws ON m = d),
         g AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(CAST(t AS DECIMAL(38,9))) AS DOUBLE) AS rbo FROM tt GROUP BY 1),
         qq AS (SELECT DISTINCT q_id FROM approx)
         SELECT q_id, COALESCE(n_common, 0) AS n_common,
           COALESCE(rbo, CAST(0.0 AS DOUBLE)) AS rbo
         FROM qq LEFT JOIN g USING (q_id) ORDER BY q_id""")),

    // Margin-based cross-set mining (Artetxe & Schwenk '19): the even-id
    // half matched against the odd-id half, pair scores hub-corrected by
    // the ratio margin 2cos/(μₖ(x)+μₖ(y)) before ranking.
    QueryDef("q_margin_mining",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        val e = t(s, dir, "embeddings")
        val x = broadcast(e
          .filter(col("vec_id") % 2 === 0 && col("vec_id") < 80)
          .select(col("vec_id").as("x_id"),
            Vector.asDouble(col("embedding")).as("xv")))
        val y = e.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("y_id"),
            Vector.asDouble(col("embedding")).as("yv"))
        val pairs = y.join(x)
          .withColumn("cos", Vector.cosineNative(col("xv"), col("yv")))
          .select("x_id", "y_id", "cos")
        Vector.marginRank(pairs, 4).filter(col("mrank") <= 3)
          .select(col("x_id"), col("mrank"), col("y_id"), col("cos"),
            col("margin"))
          .orderBy("x_id", "mrank")
      },
      Some(s"""WITH v AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv FROM embeddings),
         x AS (SELECT vec_id AS x_id, dv AS xv FROM v
           WHERE vec_id % 2 = 0 AND vec_id < 80),
         y AS (SELECT vec_id AS y_id, dv AS yv FROM v WHERE vec_id % 2 = 1),
         pr AS (SELECT x_id, y_id, ${cosSql("xv", "yv", 64)} AS cos FROM x, y),
         rx AS (SELECT x_id, y_id, cos,
             row_number() OVER (PARTITION BY x_id ORDER BY cos DESC, y_id) AS r FROM pr),
         mx AS (SELECT x_id,
             CAST(SUM(CAST(cos AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mu_x
           FROM rx WHERE r <= 4 GROUP BY 1),
         ry AS (SELECT x_id, y_id, cos,
             row_number() OVER (PARTITION BY y_id ORDER BY cos DESC, x_id) AS r FROM pr),
         my AS (SELECT y_id,
             CAST(SUM(CAST(cos AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mu_y
           FROM ry WHERE r <= 4 GROUP BY 1),
         sc AS (SELECT pr.x_id, pr.y_id, pr.cos,
             2.0 * pr.cos / (mu_x + mu_y) AS margin
           FROM pr JOIN mx USING (x_id) JOIN my USING (y_id)),
         rr AS (SELECT x_id, y_id, cos, margin,
             row_number() OVER (PARTITION BY x_id ORDER BY margin DESC, y_id) AS mrank
           FROM sc)
         SELECT x_id, CAST(mrank AS INT) AS mrank, y_id, cos, margin
         FROM rr WHERE mrank <= 3 ORDER BY x_id, mrank""")),

    // LSH bucket assignment (the ANN scale path's partitioning key).
    QueryDef("q_lsh_buckets",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        t(s, dir, "embeddings")
          .select(col("vec_id"),
            Vector.lshBucket(Vector.asDouble(col("embedding")), 4, 64).as("bucket"))
          .orderBy("vec_id")
      },
      Some(s"""WITH ${lshSql(4, 64)}
         SELECT vec_id, CAST(bucket AS BIGINT) AS bucket FROM b ORDER BY vec_id""")),

    // Embedding-cosine near-dup: LSH-bucketed candidate pairs, exact cosine
    // threshold — never an all-pairs cross join.
    QueryDef("q_dedup_embed_cosine",
      (s, dir) => Vector.cosineNearDupPairs(t(s, dir, "embeddings"), 0.35, 4, 64)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH ${lshSql(4, 64)},
         pa AS (SELECT vec_id AS id_a, dv AS va, bucket FROM b),
         pb AS (SELECT vec_id AS id_b, dv AS vb, bucket FROM b),
         sc AS (SELECT id_a, id_b, ${cosSql("va", "vb", 64)} AS cos
           FROM pa JOIN pb ON pa.bucket = pb.bucket AND id_a < id_b)
         SELECT id_a, id_b, cos FROM sc WHERE cos >= 0.35 ORDER BY id_a, id_b""")),

    // ANN: equi-join on bucket, exact cosine re-rank within buckets only.
    QueryDef("q_lsh_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Vector.lshTopK(e.filter(col("vec_id") < 50), e, 3, 4, 64)
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH ${lshSql(4, 64)},
         q AS (SELECT vec_id AS q_id, dv AS qv, bucket FROM b WHERE vec_id < 50),
         c AS (SELECT vec_id AS c_id, dv AS cv, bucket FROM b),
         sc AS (SELECT q_id, q.bucket AS bucket, c_id, ${cosSql("qv", "cv", 64)} AS cos
           FROM q JOIN c ON q.bucket = c.bucket AND q_id <> c_id),
         r AS (SELECT q_id, bucket, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
           FROM sc)
         SELECT q_id, CAST(bucket AS BIGINT) AS bucket, CAST(rank AS INT) AS rank, c_id, cos
         FROM r WHERE rank <= 3 ORDER BY q_id, rank""")),

    // Multi-probe ANN: each query also probes the `planes` buckets at
    // Hamming distance 1 — the documented recall knob, still equi-join-only
    // (VectorSpec asserts recall ≥ the single-bucket variant).
    QueryDef("q_lsh_topk_multiprobe",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Vector.lshTopKMultiProbe(e.filter(col("vec_id") < 50), e, 3, 4, 64)
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH ${lshSql(4, 64)},
         q AS (SELECT vec_id AS q_id, dv AS qv, bucket FROM b WHERE vec_id < 50),
         pr AS (SELECT q_id, qv, unnest([bucket,
             xor(bucket, CAST(1 AS BIGINT)), xor(bucket, CAST(2 AS BIGINT)),
             xor(bucket, CAST(4 AS BIGINT)), xor(bucket, CAST(8 AS BIGINT))]) AS pb FROM q),
         c AS (SELECT vec_id AS c_id, dv AS cv, bucket FROM b),
         sc AS (SELECT q_id, c_id, ${cosSql("qv", "cv", 64)} AS cos
           FROM pr JOIN c ON pr.pb = c.bucket AND q_id <> c_id),
         r AS (SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
           FROM sc)
         SELECT q_id, CAST(rank AS INT) AS rank, c_id, cos
         FROM r WHERE rank <= 3 ORDER BY q_id, rank""")),

    // Metadata-FILTERED vector search: the predicate (here lang='en' via a
    // doc⋈embedding key join) restricts the CANDIDATE side before bucketing,
    // so top-k is exact-k over the eligible set — post-filtering an
    // unfiltered ANN result can silently return < k.  Still equi-join-only;
    // at 100 TB the filter also prunes the signature computation itself.
    QueryDef("q_ann_filtered",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val en = t(s, dir, "documents").filter(col("lang") === "en")
          .select(col("doc_id"))
        val cands = e.join(en, col("vec_id") === col("doc_id")).drop("doc_id")
        Vector.lshTopK(e.filter(col("vec_id") < 20), cands, 3, 4, 64)
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH ${lshSql(4, 64)},
         q AS (SELECT vec_id AS q_id, dv AS qv, bucket FROM b WHERE vec_id < 20),
         c AS (SELECT vec_id AS c_id, dv AS cv, bucket FROM b
           JOIN documents ON vec_id = doc_id AND lang = 'en'),
         sc AS (SELECT q_id, q.bucket AS bucket, c_id, ${cosSql("qv", "cv", 64)} AS cos
           FROM q JOIN c ON q.bucket = c.bucket AND q_id <> c_id),
         r AS (SELECT q_id, bucket, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
           FROM sc)
         SELECT q_id, CAST(bucket AS BIGINT) AS bucket, CAST(rank AS INT) AS rank, c_id, cos
         FROM r WHERE rank <= 3 ORDER BY q_id, rank""")),

    // Inverted index (term → sorted posting list): the IR-side product of a
    // corpus engine.  One distinct (doc, term) relation, one groupBy term —
    // posting state is bounded by each term's df; the df floor keeps
    // degenerate stop-terms from dominating the dump (at 100 TB postings
    // for head terms shard by doc-range and delta-encode; the relation
    // shape is the same).
    QueryDef("q_inverted_index",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
        .distinct()
        .groupBy("term")
        .agg(count(lit(1)).as("df"),
          array_join(transform(sort_array(collect_set(col("doc_id"))),
            _.cast("string")), ",").as("postings"))
        .filter(col("df") >= 25)
        .orderBy("term"),
      // Postings dumped as a comma-joined string: the verification driver's
      // pandas comparator cannot hash array cells, and a flat string is the
      // same information for a correctness dump.
      Some(s"""WITH rel AS (SELECT DISTINCT doc_id, unnest($toks) AS term FROM documents)
         SELECT term, COUNT(*) AS df,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
         FROM rel GROUP BY term HAVING COUNT(*) >= 25 ORDER BY term"""))
  )

  private val ivfSql: String = {
    val cosQC = cosSql("qq.qv", "cents.cw", 64)
    val cosCC = cosSql("c.cv", "cents.cw", 64)
    s"""cents AS (SELECT vec_id AS cent_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cw
         FROM embeddings WHERE vec_id < 16),
       c AS (SELECT vec_id AS c_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv FROM embeddings),
       asg AS (SELECT c_id, cv, cent_id,
           row_number() OVER (PARTITION BY c_id ORDER BY $cosCC DESC, cent_id) AS rn
         FROM c, cents),
       lists AS (SELECT c_id, cv, cent_id AS list_id FROM asg WHERE rn = 1),
       qq AS (SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
         FROM embeddings WHERE vec_id < 30),
       qp AS (SELECT q_id, qv, cent_id,
           row_number() OVER (PARTITION BY q_id ORDER BY $cosQC DESC, cent_id) AS rn
         FROM qq, cents),
       probes AS (SELECT q_id, qv, cent_id AS list_id FROM qp WHERE rn <= 4),
       sc AS (SELECT q_id, c_id, ${cosSql("qv", "cv", 64)} AS cos
         FROM probes JOIN lists USING (list_id) WHERE q_id <> c_id),
       r AS (SELECT q_id, c_id, cos,
           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM sc)"""
  }

  /** ALL-QUERIES IVF CTE fragment (`tki(q_id, c_id, cos)` — the top-5
    * IVF lists when every corpus row is also a query), ≡
    * Vector.allPairsTopKIvf(e, 5, 16, 4): because corpus rows ARE the
    * queries, the probe set is just the assignment ranking cut at
    * rn <= nprobe instead of a second centroid scan; the UNION mirrors
    * the operator's symmetrized candidates (cos is exactly symmetric, so
    * row-level UNION DISTINCT ≡ the operator's max-dedup). */
  private val ivfAllSql: String = {
    val cosCC = cosSql("c.cv", "cents.cw", 64)
    s"""cents AS (SELECT vec_id AS cent_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cw
         FROM embeddings WHERE vec_id < 16),
       c AS (SELECT vec_id AS c_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv FROM embeddings),
       asg AS (SELECT c_id, cv, cent_id,
           row_number() OVER (PARTITION BY c_id ORDER BY $cosCC DESC, cent_id) AS rn
         FROM c, cents),
       lists AS (SELECT c_id, cv, cent_id AS list_id FROM asg WHERE rn = 1),
       probes AS (SELECT c_id AS q_id, cv AS qv, cent_id AS list_id FROM asg WHERE rn <= 4),
       sc0 AS (SELECT q_id, c_id, ${cosSql("qv", "cv", 64)} AS cos
         FROM probes JOIN lists USING (list_id) WHERE q_id <> c_id),
       sc_i AS (SELECT q_id, c_id, cos FROM sc0
         UNION SELECT c_id AS q_id, q_id AS c_id, cos FROM sc0),
       r_i AS (SELECT q_id, c_id, cos,
           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM sc_i),
       tki AS (SELECT q_id, c_id, cos FROM r_i WHERE rank <= 5)"""
  }

  /** [[ivfAllSql]] with PREFIX routing (Vector.allPairsTopKIvfPrefix):
    * assignment AND probing rank centroids by the 16-dim prefix cosine,
    * candidate scoring stays full 64-dim — same CTE names so the
    * downstream mutual/recall SQL is shared verbatim. */
  private val ivfAllPrefixSql: String = {
    val cosCC16 = cosSql("c.cv", "cents.cw", 16)
    s"""cents AS (SELECT vec_id AS cent_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cw
         FROM embeddings WHERE vec_id < 16),
       c AS (SELECT vec_id AS c_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv FROM embeddings),
       asg AS (SELECT c_id, cv, cent_id,
           row_number() OVER (PARTITION BY c_id ORDER BY $cosCC16 DESC, cent_id) AS rn
         FROM c, cents),
       lists AS (SELECT c_id, cv, cent_id AS list_id FROM asg WHERE rn = 1),
       probes AS (SELECT c_id AS q_id, cv AS qv, cent_id AS list_id FROM asg WHERE rn <= 4),
       sc0 AS (SELECT q_id, c_id, ${cosSql("qv", "cv", 64)} AS cos
         FROM probes JOIN lists USING (list_id) WHERE q_id <> c_id),
       sc_i AS (SELECT q_id, c_id, cos FROM sc0
         UNION SELECT c_id AS q_id, q_id AS c_id, cos FROM sc0),
       r_i AS (SELECT q_id, c_id, cos,
           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM sc_i),
       tki AS (SELECT q_id, c_id, cos FROM r_i WHERE rank <= 5)"""
  }

  /** PQ encode CTE fragment (`codes(c_id, s, j, dist)`), ≡ Vector.pqEncode
    * with m=8 subspaces × 8 dims over the 64-dim fixture and the first 16
    * vectors as codebook: per-(vector, subspace, codeword) 6-dp-rounded
    * squared L2 distance (index-order left fold, exactly the expression's
    * term order), argmin by (dist, j). */
  private val pqSql: String = {
    def sq(e: String) = s"($e) * ($e)"
    val diff = sq("cv[CAST(ss.s * 8 + i AS INT)] - w[CAST(ss.s * 8 + i AS INT)]")
    s"""cb AS (SELECT vec_id AS j, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS w
         FROM embeddings WHERE vec_id < 16),
       c AS (SELECT vec_id AS c_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
         FROM embeddings),
       sd AS (SELECT c_id, ss.s, cb.j,
           round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, 9), i -> $diff)), (acc, x) -> acc + x), 6) AS dist
         FROM c, cb, range(0, 8) ss(s)),
       best AS (SELECT c_id, s, j, dist,
           row_number() OVER (PARTITION BY c_id, s ORDER BY dist, j) AS rn FROM sd),
       codes AS (SELECT c_id, s, j, dist FROM best WHERE rn = 1)"""
  }

  /** PQ trainer CTE fragment (`tr(s, j, i, w)` — the 9-dp-quantized
    * one-Lloyd-refined codebook), ≡ Vector.pqTrainRelation over [[pqSql]]'s
    * assignment; empty codewords COALESCE to their initial value. */
  private val pqTrainSql: String =
    s"""$pqSql,
       rel AS (SELECT k.s, k.j, tt.i,
           c.cv[CAST(k.s * 8 + tt.i AS INT)] AS val
         FROM codes k JOIN c USING (c_id), range(1, 9) tt(i)),
       m1 AS (SELECT s, j, i,
           CAST(SUM(CAST(val AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS w
         FROM rel GROUP BY 1, 2, 3),
       grid AS (SELECT ss.s, cb.j, tt.i,
           cb.w[CAST(ss.s * 8 + tt.i AS INT)] AS w0
         FROM cb, range(0, 8) ss(s), range(1, 9) tt(i)),
       tr AS (SELECT g.s, g.j, g.i, round(COALESCE(m1.w, g.w0), 9) AS w
         FROM grid g LEFT JOIN m1 ON m1.s = g.s AND m1.j = g.j AND m1.i = g.i)"""

  val ivf: Seq[QueryDef] = Seq(
    QueryDef("q_ivf_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Vector.ivfTopK(e.filter(col("vec_id") < 30), e, 3, 16, 4)
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH $ivfSql
         SELECT q_id, CAST(rank AS INT) AS rank, c_id, cos FROM r
         WHERE rank <= 3 ORDER BY q_id, rank""")),

    // ADAPTIVE-nprobe IVF: the fixed-nprobe knob above trades recall for
    // cost GLOBALLY; this probes per query until τ=0.5 of its
    // centroid-affinity mass is covered — concentrated queries touch few
    // lists, diffuse ones more, and n_probed in the output makes the
    // adaptivity itself oracle-checked (running sums accumulate in rank
    // order on 6-dp cosines, so the probe SET is bit-exact cross-engine).
    QueryDef("q_ivf_adaptive",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val out = Vector.ivfTopKAdaptive(e.filter(col("vec_id") < 6), e,
          k = 3, nlist = 16, tau = 0.5)
        Catalog.gateOnce(s, out.orderBy("q_id", "rank")) { rows =>
          val probed = rows.map(_.getAs[Long]("n_probed")).distinct
          require(probed.forall(p => p >= 1 && p < 16),
            s"q_ivf_adaptive: per-query probe counts must stay a strict " +
              s"subset of the 16 lists — got $probed")
        }
      },
      Some {
        val cosQC = cosSql("qq.qv", "cents.cw", 64)
        val cosCC = cosSql("c.cv", "cents.cw", 64)
        s"""WITH cents AS (SELECT vec_id AS cent_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cw
           FROM embeddings WHERE vec_id < 16),
         c AS (SELECT vec_id AS c_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv FROM embeddings),
         asg AS (SELECT c_id, cv, cent_id,
             row_number() OVER (PARTITION BY c_id ORDER BY $cosCC DESC, cent_id) AS rn
           FROM c, cents),
         lists AS (SELECT c_id, cv, cent_id AS list_id FROM asg WHERE rn = 1),
         qq AS (SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 6),
         sq AS (SELECT q_id, qv, cent_id, $cosQC AS ccos FROM qq, cents),
         cw0 AS (SELECT q_id, qv, cent_id, ccos,
             (ccos + CAST(1 AS DOUBLE)) / CAST(2 AS DOUBLE) AS w FROM sq),
         cw1 AS (SELECT *,
             SUM(w) OVER (PARTITION BY q_id ORDER BY ccos DESC, cent_id) AS cum,
             SUM(w) OVER (PARTITION BY q_id) AS total FROM cw0),
         cw2 AS (SELECT *,
             lag(cum, 1, CAST(0 AS DOUBLE))
               OVER (PARTITION BY q_id ORDER BY ccos DESC, cent_id) AS prev
           FROM cw1),
         probes AS (SELECT q_id, qv, cent_id AS list_id FROM cw2
           WHERE prev < CAST(0.5 AS DOUBLE) * total),
         np AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_probed
           FROM probes GROUP BY 1),
         sc AS (SELECT p.q_id, c_id, ${cosSql("qv", "cv", 64)} AS cos
           FROM probes p JOIN lists USING (list_id) WHERE p.q_id <> c_id),
         r AS (SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM sc)
         SELECT r.q_id, np.n_probed, CAST(rank AS INT) AS rank, c_id, cos
           FROM r JOIN np ON np.q_id = r.q_id
           WHERE rank <= 3 ORDER BY r.q_id, rank"""
      }),

    // Mutual k-NN over IVF lists — the SCALE tier of q_mutual_knn:
    // allPairsTopK's scaladoc says "at scale feed mutualPairs from IVF/LSH
    // lists instead"; this query IS that composition.  Candidates come
    // from a shuffle equi-join on list_id (neither side broadcasts — both
    // sides are the corpus), SYMMETRIZED so reciprocity never compounds
    // two probe misses, the per-query cut is the bounded heap, and
    // mutuality is the same one self semi-join.  The oracle pins the
    // whole chain: assignment, probing, symmetrization, ranking, mutuality.
    QueryDef("q_mutual_knn_ivf",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        // the checkpoint materializes the |corpus|·k IVF lists ONCE so the
        // mutuality self-join does not recompute candidate generation
        Vector.mutualPairs(Vector.allPairsTopKIvf(e, 5, 16, 4).localCheckpoint())
          .orderBy("a", "b")
      },
      Some(s"""WITH $ivfAllSql,
         m AS (SELECT f.q_id AS a, f.c_id AS b, f.cos
           FROM tki f SEMI JOIN tki r2 ON f.q_id = r2.c_id AND f.c_id = r2.q_id
           WHERE f.q_id < f.c_id)
         SELECT a, b, cos FROM m ORDER BY a, b""")),

    // The audit that makes q_mutual_knn_ivf's scale claim honest: how many
    // exact top-5 EDGES does the IVF tier recover, and how many exact
    // MUTUAL pairs survive the composition?  Both tiers in one frame so
    // the comparison the verdict asks for ("mutual recall vs the IVF
    // tier's own recall") is a row diff, not a cross-artifact hunt —
    // mutuality requires BOTH endpoints, so errors could compound; the
    // measurement, not the assumption, decides.  The audit is WILSON-GATED
    // in-query (the expectationsWilson discipline applied to recall: a
    // point recall estimated from a handful of pairs carries no evidence,
    // so the gate is on the interval's LOWER bound) — a fixture or routing
    // regression FAILS the query instead of silently drifting a number.
    QueryDef("q_mutual_knn_ivf_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val ivf = Vector.allPairsTopKIvf(e, 5, 16, 4).localCheckpoint()
        val brute = Vector.allPairsTopK(e, 5).localCheckpoint()
        def recallRow(tier: String, approx: org.apache.spark.sql.DataFrame,
                      truth: org.apache.spark.sql.DataFrame,
                      cols: Seq[String]) =
          truth.join(approx, cols, "left_semi")
            .agg(count(lit(1)).as("n_hit"))
            // two 1-row aggregates — a broadcast-bounded stat frame
            .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
            .select(lit(tier).as("tier"), col("n_hit"), col("n_truth"),
              (col("n_hit") / col("n_truth")).as("recall"))
        val audit = Quality.withWilson(
          recallRow("ivf_topk", ivf.select("q_id", "c_id"),
              brute.select("q_id", "c_id"), Seq("q_id", "c_id"))
            .unionByName(recallRow("mutual_pairs",
              Vector.mutualPairs(ivf).select("a", "b"),
              Vector.mutualPairs(brute).select("a", "b"), Seq("a", "b"))),
          "n_hit", "n_truth")
          .orderBy("tier")
        // Floors sit ~0.10 under the WEAKEST measured lower bound across
        // the three fixture SFs (edge wilson_lo 0.648/0.649/0.685, mutual
        // 0.646/0.654/0.682 at sf0.001/0.01/0.1 — deterministic: exact
        // arithmetic, fixed tie-breaks) and far ABOVE the known failure
        // modes: one-directional probing's 0.32 point mutual recall
        // (Wilson bound lower still) and degraded nprobe routing both
        // fail loudly here.
        Catalog.gateOnce(s, audit) { rows =>
          val lo = rows.map(r =>
            r.getAs[String]("tier") -> r.getAs[Double]("wilson_lo")).toMap
          require(lo("ivf_topk") >= 0.55,
            s"q_mutual_knn_ivf_recall: IVF edge recall wilson_lo " +
              s"${lo("ivf_topk")} < 0.55 — probe routing regressed")
          require(lo("mutual_pairs") >= 0.55,
            s"q_mutual_knn_ivf_recall: mutual-pair recall wilson_lo " +
              s"${lo("mutual_pairs")} < 0.55 — symmetrization or probe " +
              "routing regressed (one-directional probing measures ~0.32)")
        }
      },
      Some(s"""WITH $ivfAllSql,
         sc_b AS (SELECT q.c_id AS q_id, t.c_id AS c_id,
             ${cosSql("q.cv", "t.cv", 64)} AS cos
           FROM c q JOIN c t ON q.c_id <> t.c_id),
         r_b AS (SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
           FROM sc_b),
         tkb AS (SELECT q_id, c_id, cos FROM r_b WHERE rank <= 5),
         mi AS (SELECT f.q_id AS a, f.c_id AS b
           FROM tki f SEMI JOIN tki r2 ON f.q_id = r2.c_id AND f.c_id = r2.q_id
           WHERE f.q_id < f.c_id),
         mb AS (SELECT f.q_id AS a, f.c_id AS b
           FROM tkb f SEMI JOIN tkb r2 ON f.q_id = r2.c_id AND f.c_id = r2.q_id
           WHERE f.q_id < f.c_id),
         hit_e AS (SELECT COUNT(*) AS n_hit FROM tkb SEMI JOIN tki USING (q_id, c_id)),
         tot_e AS (SELECT COUNT(*) AS n_truth FROM tkb),
         hit_m AS (SELECT COUNT(*) AS n_hit FROM mb SEMI JOIN mi USING (a, b)),
         tot_m AS (SELECT COUNT(*) AS n_truth FROM mb),
         u AS (SELECT 'ivf_topk' AS tier, n_hit, n_truth FROM hit_e, tot_e
           UNION ALL
           SELECT 'mutual_pairs' AS tier, n_hit, n_truth FROM hit_m, tot_m),
         w AS (SELECT tier, n_hit, n_truth, (n_hit / n_truth) AS p,
             (1.96 * 1.96) AS z2, CAST(n_truth AS DOUBLE) AS nd FROM u)
         SELECT tier, n_hit, n_truth, p AS recall,
           round((p + z2 / (nd * 2) - 1.96 * sqrt(p * (1.0 - p) / nd
             + z2 / (nd * nd * 4))) / (1.0 + z2 / nd), 9) AS wilson_lo,
           round((p + z2 / (nd * 2) + 1.96 * sqrt(p * (1.0 - p) / nd
             + z2 / (nd * nd * 4))) / (1.0 + z2 / nd), 9) AS wilson_hi
         FROM w ORDER BY tier""")),

    // PREFIX-ROUTED all-pairs mutual k-NN (Vector.allPairsTopKIvfPrefix ∘
    // mutualPairs): the n^1.5 scale model's dominant ASSIGNMENT term
    // (n · nlist centroid cosines) runs in the 16-dim prefix space — the
    // 4× constant cut at corpus scale — while candidate scoring and the
    // emitted cos stay exact full-dimension.  The oracle pins the whole
    // chain: prefix assignment/probing ranks, full rerank, symmetrize,
    // top-k, mutuality.
    QueryDef("q_mutual_knn_prefix",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Vector.mutualPairs(
            Vector.allPairsTopKIvfPrefix(e, 5, 16, 4, 16).localCheckpoint())
          .orderBy("a", "b")
      },
      Some(s"""WITH $ivfAllPrefixSql,
         m AS (SELECT f.q_id AS a, f.c_id AS b, f.cos
           FROM tki f SEMI JOIN tki r2 ON f.q_id = r2.c_id AND f.c_id = r2.q_id
           WHERE f.q_id < f.c_id)
         SELECT a, b, cos FROM m ORDER BY a, b""")),

    // The audit that keeps q_mutual_knn_prefix honest — same two-tier
    // Wilson-gated frame as q_mutual_knn_ivf_recall (edge recall of the
    // prefix-routed IVF lists, mutual-pair recall of the composition,
    // both against brute-force truth): the 4× cheaper routing decision's
    // recall cost is MEASURED per fixture and gated on the interval's
    // LOWER bound, so a routing regression or a fixture regeneration
    // without front-loaded prefix signal fails the query loudly.
    QueryDef("q_mutual_knn_prefix_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val ivf = Vector.allPairsTopKIvfPrefix(e, 5, 16, 4, 16).localCheckpoint()
        val brute = Vector.allPairsTopK(e, 5).localCheckpoint()
        def recallRow(tier: String, approx: org.apache.spark.sql.DataFrame,
                      truth: org.apache.spark.sql.DataFrame,
                      cols: Seq[String]) =
          truth.join(approx, cols, "left_semi")
            .agg(count(lit(1)).as("n_hit"))
            .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
            .select(lit(tier).as("tier"), col("n_hit"), col("n_truth"),
              (col("n_hit") / col("n_truth")).as("recall"))
        val audit = Quality.withWilson(
          recallRow("prefix_ivf_topk", ivf.select("q_id", "c_id"),
              brute.select("q_id", "c_id"), Seq("q_id", "c_id"))
            .unionByName(recallRow("prefix_mutual_pairs",
              Vector.mutualPairs(ivf).select("a", "b"),
              Vector.mutualPairs(brute).select("a", "b"), Seq("a", "b"))),
          "n_hit", "n_truth")
          .orderBy("tier")
        // Floors sit ~0.10 under the WEAKEST measured lower bound across
        // the three fixture SFs (edge wilson_lo 0.633/0.631/0.654, mutual
        // 0.639/0.627/0.659 at sf0.001/0.01/0.1 — deterministic: exact
        // arithmetic, fixed tie-breaks; within ~0.02 of the full-route
        // bounds in q_mutual_knn_ivf_recall, so the 4× routing cut costs
        // almost no recall on the front-loaded fixture) and far above the
        // failure modes (random 16-dim routing and one-directional probing
        // both land near 0.25-0.32 point recall).  Re-record procedure on
        // a LEGITIMATE fixture/routing change: run this query at all three
        // SFs, take the weakest wilson_lo per tier, set each floor ~0.10
        // below it, and update this comment with the new measurements.
        Catalog.gateOnce(s, audit) { rows =>
          val lo = rows.map(r =>
            r.getAs[String]("tier") -> r.getAs[Double]("wilson_lo")).toMap
          require(lo("prefix_ivf_topk") >= 0.53,
            s"q_mutual_knn_prefix_recall: prefix-routed edge recall " +
              s"wilson_lo ${lo("prefix_ivf_topk")} < 0.53 — prefix " +
              "routing regressed")
          require(lo("prefix_mutual_pairs") >= 0.52,
            s"q_mutual_knn_prefix_recall: prefix-routed mutual-pair " +
              s"recall wilson_lo ${lo("prefix_mutual_pairs")} < 0.52 — " +
              "symmetrization or prefix routing regressed")
        }
      },
      Some(s"""WITH $ivfAllPrefixSql,
         sc_b AS (SELECT q.c_id AS q_id, t.c_id AS c_id,
             ${cosSql("q.cv", "t.cv", 64)} AS cos
           FROM c q JOIN c t ON q.c_id <> t.c_id),
         r_b AS (SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
           FROM sc_b),
         tkb AS (SELECT q_id, c_id, cos FROM r_b WHERE rank <= 5),
         mi AS (SELECT f.q_id AS a, f.c_id AS b
           FROM tki f SEMI JOIN tki r2 ON f.q_id = r2.c_id AND f.c_id = r2.q_id
           WHERE f.q_id < f.c_id),
         mb AS (SELECT f.q_id AS a, f.c_id AS b
           FROM tkb f SEMI JOIN tkb r2 ON f.q_id = r2.c_id AND f.c_id = r2.q_id
           WHERE f.q_id < f.c_id),
         hit_e AS (SELECT COUNT(*) AS n_hit FROM tkb SEMI JOIN tki USING (q_id, c_id)),
         tot_e AS (SELECT COUNT(*) AS n_truth FROM tkb),
         hit_m AS (SELECT COUNT(*) AS n_hit FROM mb SEMI JOIN mi USING (a, b)),
         tot_m AS (SELECT COUNT(*) AS n_truth FROM mb),
         u AS (SELECT 'prefix_ivf_topk' AS tier, n_hit, n_truth FROM hit_e, tot_e
           UNION ALL
           SELECT 'prefix_mutual_pairs' AS tier, n_hit, n_truth FROM hit_m, tot_m),
         w AS (SELECT tier, n_hit, n_truth, (n_hit / n_truth) AS p,
             (1.96 * 1.96) AS z2, CAST(n_truth AS DOUBLE) AS nd FROM u)
         SELECT tier, n_hit, n_truth, p AS recall,
           round((p + z2 / (nd * 2) - 1.96 * sqrt(p * (1.0 - p) / nd
             + z2 / (nd * nd * 4))) / (1.0 + z2 / nd), 9) AS wilson_lo,
           round((p + z2 / (nd * 2) + 1.96 * sqrt(p * (1.0 - p) / nd
             + z2 / (nd * nd * 4))) / (1.0 + z2 / nd), 9) AS wilson_hi
         FROM w ORDER BY tier""")),

    // MATRYOSHKA-IVF adaptive retrieval (MRL serving pattern): coarse
    // routing in the 16-dim PREFIX space — 4× cheaper per routing
    // decision, and the quantizer is just the sliced centroids — exact
    // re-rank in the full 64 dims inside probed lists.  The oracle pins
    // the whole chain: prefix assignment (cosines over the first 16
    // coordinates only), prefix probing, full-dimension rerank.
    QueryDef("q_matryoshka_ivf",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Vector.ivfTopKPrefix(e.filter(col("vec_id") < 30), e, 3, 16, 4, 16)
          .orderBy("q_id", "rank")
      },
      Some {
        val cosQC = cosSql("qq.qv", "cents.cw", 16)
        val cosCC = cosSql("c.cv", "cents.cw", 16)
        s"""WITH cents AS (SELECT vec_id AS cent_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cw
           FROM embeddings WHERE vec_id < 16),
         c AS (SELECT vec_id AS c_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv FROM embeddings),
         asg AS (SELECT c_id, cv, cent_id,
             row_number() OVER (PARTITION BY c_id ORDER BY $cosCC DESC, cent_id) AS rn
           FROM c, cents),
         lists AS (SELECT c_id, cv, cent_id AS list_id FROM asg WHERE rn = 1),
         qq AS (SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 30),
         qp AS (SELECT q_id, qv, cent_id,
             row_number() OVER (PARTITION BY q_id ORDER BY $cosQC DESC, cent_id) AS rn
           FROM qq, cents),
         probes AS (SELECT q_id, qv, cent_id AS list_id FROM qp WHERE rn <= 4),
         sc AS (SELECT q_id, c_id, ${cosSql("qv", "cv", 64)} AS cos
           FROM probes JOIN lists USING (list_id) WHERE q_id <> c_id),
         r AS (SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM sc)
         SELECT q_id, CAST(rank AS INT) AS rank, c_id, cos FROM r
         WHERE rank <= 3 ORDER BY q_id, rank"""
      }),

    // What does PREFIX routing cost in recall vs full-dimension routing?
    // Both IVF routes (same nlist/nprobe/k) against brute-force truth in
    // one frame — the measured cost-quality trade of the 4× cheaper
    // routing decision, never assumed from the MRL paper.  WILSON-GATED
    // in-query like q_mutual_knn_ivf_recall: the gate is on the interval's
    // LOWER bound, so a fixture regeneration that stops front-loading the
    // embeddings, or a routing regression, fails the query loudly instead
    // of drifting a point estimate nobody reads.
    QueryDef("q_matryoshka_ivf_recall",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val qs = e.filter(col("vec_id") < 30)
        val truth = Vector.bruteForceTopK(qs, e, 5)
          .select("q_id", "c_id").localCheckpoint()
        def recallRow(tier: String, approx: org.apache.spark.sql.DataFrame) =
          truth.join(approx.select("q_id", "c_id"), Seq("q_id", "c_id"),
              "left_semi")
            .agg(count(lit(1)).as("n_hit"))
            .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
            .select(lit(tier).as("tier"), col("n_hit"), col("n_truth"),
              (col("n_hit") / col("n_truth")).as("recall"))
        val audit = Quality.withWilson(
          recallRow("full_route", Vector.ivfTopK(qs, e, 5, 16, 4))
            .unionByName(recallRow("prefix_route",
              Vector.ivfTopKPrefix(qs, e, 5, 16, 4, 16))),
          "n_hit", "n_truth")
          .orderBy("tier")
        // Floors sit under the weakest measured lower bound across the
        // three fixture SFs (full_route wilson_lo 0.650/0.643/0.686,
        // prefix_route 0.441/0.454/0.513 at sf0.001/0.01/0.1 — the
        // measurements are deterministic, so the margin absorbs only
        // LEGITIMATE drift: a benign fixture regeneration or small routing
        // tweak shifts the bound a few points).  The prefix floor keeps a
        // ~0.04 margin rather than the usual ~0.10: the documented failure
        // regime (random 16-dim routing) measures ≈ 0.25, and a floor of
        // 0.35 would let a PARTIAL routing degradation (e.g. half the
        // prefix dims zeroed) land between 0.25 and 0.35 undetected — the
        // tighter floor keeps partial regressions visible.  Re-record
        // procedure on a legitimate fixture/routing change: run this query
        // at all three SFs, take the weakest wilson_lo per tier, set the
        // full floor ~0.10 below it and the prefix floor ~0.04 below it,
        // and update this comment with the new measurements.
        Catalog.gateOnce(s, audit) { rows =>
          val lo = rows.map(r =>
            r.getAs[String]("tier") -> r.getAs[Double]("wilson_lo")).toMap
          require(lo("full_route") >= 0.55,
            s"q_matryoshka_ivf_recall: full-dimension route wilson_lo " +
              s"${lo("full_route")} < 0.55 — IVF routing regressed")
          require(lo("prefix_route") >= 0.40,
            s"q_matryoshka_ivf_recall: prefix route wilson_lo " +
              s"${lo("prefix_route")} < 0.40 — the 16-dim prefix stopped " +
              "carrying routing signal (random routing measures ~0.25)")
        }
      },
      Some {
        val cosQC16 = cosSql("qq.qv", "cents.cw", 16)
        val cosCC16 = cosSql("c.cv", "cents.cw", 16)
        val cosQC64 = cosSql("qq.qv", "cents.cw", 64)
        val cosCC64 = cosSql("c.cv", "cents.cw", 64)
        s"""WITH cents AS (SELECT vec_id AS cent_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cw
           FROM embeddings WHERE vec_id < 16),
         c AS (SELECT vec_id AS c_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv FROM embeddings),
         qq AS (SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 30),
         asg_f AS (SELECT c_id, cv, cent_id,
             row_number() OVER (PARTITION BY c_id ORDER BY $cosCC64 DESC, cent_id) AS rn
           FROM c, cents),
         lists_f AS (SELECT c_id, cv, cent_id AS list_id FROM asg_f WHERE rn = 1),
         qp_f AS (SELECT q_id, qv, cent_id,
             row_number() OVER (PARTITION BY q_id ORDER BY $cosQC64 DESC, cent_id) AS rn
           FROM qq, cents),
         pr_f AS (SELECT q_id, qv, cent_id AS list_id FROM qp_f WHERE rn <= 4),
         sc_f AS (SELECT q_id, c_id, ${cosSql("qv", "cv", 64)} AS cos
           FROM pr_f JOIN lists_f USING (list_id) WHERE q_id <> c_id),
         r_f AS (SELECT q_id, c_id,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM sc_f),
         tk_f AS (SELECT q_id, c_id FROM r_f WHERE rank <= 5),
         asg_p AS (SELECT c_id, cv, cent_id,
             row_number() OVER (PARTITION BY c_id ORDER BY $cosCC16 DESC, cent_id) AS rn
           FROM c, cents),
         lists_p AS (SELECT c_id, cv, cent_id AS list_id FROM asg_p WHERE rn = 1),
         qp_p AS (SELECT q_id, qv, cent_id,
             row_number() OVER (PARTITION BY q_id ORDER BY $cosQC16 DESC, cent_id) AS rn
           FROM qq, cents),
         pr_p AS (SELECT q_id, qv, cent_id AS list_id FROM qp_p WHERE rn <= 4),
         sc_p AS (SELECT q_id, c_id, ${cosSql("qv", "cv", 64)} AS cos
           FROM pr_p JOIN lists_p USING (list_id) WHERE q_id <> c_id),
         r_p AS (SELECT q_id, c_id,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM sc_p),
         tk_p AS (SELECT q_id, c_id FROM r_p WHERE rank <= 5),
         ex AS (SELECT q.vec_id AS q_id, t.vec_id AS c_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ${cosSql("q.dv", "t.dv", 64)} DESC, t.vec_id) AS rank
           FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
                 FROM embeddings) q
           JOIN (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
                 FROM embeddings) t
             ON q.vec_id < 30 AND q.vec_id <> t.vec_id),
         truth AS (SELECT q_id, c_id FROM ex WHERE rank <= 5),
         hit_f AS (SELECT COUNT(*) AS n_hit FROM truth SEMI JOIN tk_f USING (q_id, c_id)),
         hit_p AS (SELECT COUNT(*) AS n_hit FROM truth SEMI JOIN tk_p USING (q_id, c_id)),
         tot AS (SELECT COUNT(*) AS n_truth FROM truth),
         u AS (SELECT 'full_route' AS tier, n_hit, n_truth FROM hit_f, tot
           UNION ALL
           SELECT 'prefix_route' AS tier, n_hit, n_truth FROM hit_p, tot),
         w AS (SELECT tier, n_hit, n_truth, (n_hit / n_truth) AS p,
             (1.96 * 1.96) AS z2, CAST(n_truth AS DOUBLE) AS nd FROM u)
         SELECT tier, n_hit, n_truth, p AS recall,
           round((p + z2 / (nd * 2) - 1.96 * sqrt(p * (1.0 - p) / nd
             + z2 / (nd * nd * 4))) / (1.0 + z2 / nd), 9) AS wilson_lo,
           round((p + z2 / (nd * 2) + 1.96 * sqrt(p * (1.0 - p) / nd
             + z2 / (nd * nd * 4))) / (1.0 + z2 / nd), 9) AS wilson_hi
         FROM w ORDER BY tier"""
      }),

    // THE PERSISTED IVF INDEX: ivfTopK's scaladoc says "at 100 TB the
    // inverted lists ARE the partitioning" — this query realizes it
    // through the lakehouse layer.  The corpus commits into a TxTable
    // tagged with its coarse list, OPTIMIZE ZORDER BY list_id clusters
    // segments by list with [min,max] list stats in the manifest, and each
    // probe becomes a MANIFEST-PRUNED segment read (readWhere) — the ANN
    // query never scans unprobed lists, no resident index structure, and
    // the require pins that pruning actually engaged.  4 queries × top-2
    // probes over 16 lists / 16 clustered segments; the oracle is the
    // plain IVF ranking (persistence must be invisible to results).
    QueryDef("q_tx_ann_lists",
      (s, dir) => {
        val root = java.nio.file.Files.createTempDirectory("graft_txann")
          .toString + "/tbl"
        val e = t(s, dir, "embeddings")
        val tbl = Vector.coarseAssign(e, nlist = 16)
          .select(col("c_id").as("vec_id"), col("list_id").cast("long").as("list_id"),
            col("cv"))
        // clustered CTAS: the index lands Morton-clustered in ONE write
        // pass (commitOverwrite + OPTIMIZE would write it twice)
        TxTable.commitOverwriteClustered(s, root, tbl, Seq("list_id"),
          numSegments = 16)
        val probes = Vector.coarseProbes(e.filter(col("vec_id") < 4), e,
          nlist = 16, nprobe = 2)
        val lids = probes.select("list_id").distinct().collect()
          .map(_.getInt(0)).sorted
        val cand = TxTable.readWhereIn(s, root, "list_id",
          lids.toSeq.map(l => new java.math.BigDecimal(l)))
        def segsOf(df: org.apache.spark.sql.DataFrame) =
          df.inputFiles.map(_.replaceAll("/[^/]*$", "")).toSet
        val scanned = segsOf(cand).size
        val total = segsOf(TxTable.read(s, root)).size
        require(scanned < total,
          s"q_tx_ann_lists: probing ${lids.length} of 16 lists must prune " +
            s"the clustered table — scanned $scanned of $total segments")
        broadcast(probes).join(cand, Seq("list_id"))
          .filter(col("q_id") =!= col("vec_id"))
          .withColumn("cos", Vector.cosineNative(col("qv"), col("cv")))
          .withColumn("rank", row_number().over(
            Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("rank"), col("vec_id").as("c_id"), col("cos"))
          .orderBy("q_id", "rank")
      },
      Some {
        val cosQC = cosSql("qq.qv", "cents.cw", 64)
        val cosCC = cosSql("c.cv", "cents.cw", 64)
        s"""WITH cents AS (SELECT vec_id AS cent_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cw
           FROM embeddings WHERE vec_id < 16),
         c AS (SELECT vec_id AS c_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv FROM embeddings),
         asg AS (SELECT c_id, cv, cent_id,
             row_number() OVER (PARTITION BY c_id ORDER BY $cosCC DESC, cent_id) AS rn
           FROM c, cents),
         lists AS (SELECT c_id, cv, cent_id AS list_id FROM asg WHERE rn = 1),
         qq AS (SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 4),
         qp AS (SELECT q_id, qv, cent_id,
             row_number() OVER (PARTITION BY q_id ORDER BY $cosQC DESC, cent_id) AS rn
           FROM qq, cents),
         probes AS (SELECT q_id, qv, cent_id AS list_id FROM qp WHERE rn <= 2),
         sc AS (SELECT q_id, c_id, ${cosSql("qv", "cv", 64)} AS cos
           FROM probes JOIN lists USING (list_id) WHERE q_id <> c_id),
         r AS (SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM sc)
         SELECT q_id, CAST(rank AS INT) AS rank, c_id, cos FROM r
         WHERE rank <= 3 ORDER BY q_id, rank"""
      }),

    // INCREMENTAL maintenance of the persisted IVF index — the piece that
    // makes q_tx_ann_lists honest at 100 TB, where "rebuild the index per
    // ingest" is not a plan.  The quantizer FREEZES at build time
    // (Vector.coarseCentroids); the source corpus is a CDF-enabled TxTable
    // that then evolves (a late batch appends, a takedown deletes); the
    // index applies ONLY the delta: readChanges → inserts assign under the
    // frozen centroids and append as one stats-tracked delta segment,
    // deletes become a DELETION VECTOR so the clustered layout survives
    // untouched.  Probes stay manifest-pruned through both phases
    // (require-pinned), OPTIMIZE ZORDER then folds delta + DV back into
    // tight clustering as pure layout maintenance — assignments are never
    // recomputed.  The oracle is the plain IVF ranking over the FINAL
    // membership: incremental ≡ rebuild, bit for bit.
    QueryDef("q_tx_ann_incremental",
      (s, dir) => {
        val base = java.nio.file.Files.createTempDirectory("graft_txann_inc")
          .toString
        val srcRoot = base + "/src"; val idxRoot = base + "/idx"
        val e = t(s, dir, "embeddings")
        val cents = Vector.coarseCentroids(e, nlist = 16)
        TxTable.commitOverwrite(s, srcRoot,
          e.filter(col("vec_id") >= 12).select("vec_id", "embedding"))
        val v0 = TxTable.latestVersion(s, srcRoot).get
        def toIdx(rows: org.apache.spark.sql.DataFrame) =
          Vector.coarseAssignWith(rows, cents)
            .select(col("c_id").as("vec_id"),
              col("list_id").cast("long").as("list_id"), col("cv"))
        TxTable.commitOverwriteClustered(s, idxRoot,
          toIdx(TxTable.read(s, srcRoot)), Seq("list_id"), numSegments = 16)
        val idxV0 = TxTable.latestVersion(s, idxRoot).get
        // the corpus evolves AFTER the index exists: the late batch and the
        // takedown land as ONE source delta commit (insert segment +
        // deletion vector in the same manifest publish, CDF on) — the r13
        // verdict's measured finding is that this scenario is bound by
        // commit-protocol fixed costs, and staging the evolution as two
        // commits paid a whole extra manifest round-trip + survivor
        // rewrite for nothing the CDF consumer can distinguish (the
        // takedown's CDC rows cover the same-commit inserts too, so the
        // apply sees identical inserts and deletes either way)
        TxTable.commitDelta(s, srcRoot,
          e.filter(col("vec_id") < 12).select("vec_id", "embedding"),
          e.filter(col("vec_id") % 17 === 3).select("vec_id"),
          keys = Seq("vec_id"), cdf = true)
        val head = TxTable.latestVersion(s, srcRoot).get
        // incremental refresh: only the CDF delta moves — and it lands as
        // ONE commit (insert segment + takedown DV in the same manifest
        // publish, TxTable.commitDelta), so readers never see the inserts
        // without the takedowns and the apply pays ONE version of
        // commit-protocol overhead instead of two
        val ch = TxTable.readChanges(s, srcRoot, v0, head)
        TxTable.commitDelta(s, idxRoot,
          toIdx(ch.filter(col("_change_type") === "insert")
            .select("vec_id", "embedding")),
          ch.filter(col("_change_type") === "delete").select("vec_id"),
          keys = Seq("vec_id"), statsCols = Seq("list_id"))
        val probes = Vector.coarseProbesWith(e.filter(col("vec_id") < 4),
          cents, nprobe = 2)
        val lids = probes.select("list_id").distinct().collect()
          .map(_.getInt(0)).sorted
        // all probed lists in ONE pruned scan: per-list readWhere calls
        // would build |lids| plans and apply the table's DVs |lids| times
        def cand() = TxTable.readWhereIn(s, idxRoot, "list_id",
          lids.toSeq.map(l => new java.math.BigDecimal(l)))
        // scanned DATA segments
        def dataSegs(df: org.apache.spark.sql.DataFrame) =
          df.inputFiles.filter(_.contains("/data/"))
            .map(_.replaceAll("/[^/]*$", "")).toSet
        // total = head-manifest metadata (liveSegmentCount); only the
        // SCANNED side needs the pruned read's own inputFiles — planning a
        // second full read per audit just to count the denominator was
        // pure fixed cost
        val candPre = cand()
        val scannedPre = dataSegs(candPre).size
        val totalPre = TxTable.liveSegmentCount(s, idxRoot)
        require(scannedPre < totalPre,
          s"q_tx_ann_incremental: probes must still prune with the delta " +
            s"segment live — scanned $scannedPre of $totalPre segments")
        require(candPre.filter(col("vec_id") % 17 === 3).count() == 0,
          "q_tx_ann_incremental: taken-down rows must not surface through " +
            "the pruned read (deletion vector not applied)")
        // INCREMENTAL OPTIMIZE folds in ONLY what arrived since the CTAS:
        // the delta segment re-clusters (reading through the DV, so its
        // tombstoned rows materialize away), the 16 base segments carry
        // over untouched, and the DV rescopes to keep guarding them —
        // O(delta) layout maintenance where the old full compactZOrderN
        // re-wrote all 16 segments to fold a 12-row delta
        TxTable.compactDeltaN(s, idxRoot, Seq("list_id"), sinceVersion = idxV0,
          numSegments = 2)
        val c2 = cand()
        val scannedPost = dataSegs(c2).size
        val totalPost = TxTable.liveSegmentCount(s, idxRoot)
        require(scannedPost < totalPost,
          s"q_tx_ann_incremental: probes must prune the re-clustered " +
            s"table — scanned $scannedPost of $totalPost segments")
        broadcast(probes).join(c2, Seq("list_id"))
          .filter(col("q_id") =!= col("vec_id"))
          .withColumn("cos", Vector.cosineNative(col("qv"), col("cv")))
          .withColumn("rank", row_number().over(
            Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("rank"), col("vec_id").as("c_id"), col("cos"))
          .orderBy("q_id", "rank")
      },
      Some {
        val cosQC = cosSql("qq.qv", "cents.cw", 64)
        val cosCC = cosSql("c.cv", "cents.cw", 64)
        s"""WITH cents AS (SELECT vec_id AS cent_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cw
           FROM embeddings WHERE vec_id < 16),
         c AS (SELECT vec_id AS c_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
           FROM embeddings WHERE vec_id % 17 <> 3),
         asg AS (SELECT c_id, cv, cent_id,
             row_number() OVER (PARTITION BY c_id ORDER BY $cosCC DESC, cent_id) AS rn
           FROM c, cents),
         lists AS (SELECT c_id, cv, cent_id AS list_id FROM asg WHERE rn = 1),
         qq AS (SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 4),
         qp AS (SELECT q_id, qv, cent_id,
             row_number() OVER (PARTITION BY q_id ORDER BY $cosQC DESC, cent_id) AS rn
           FROM qq, cents),
         probes AS (SELECT q_id, qv, cent_id AS list_id FROM qp WHERE rn <= 2),
         sc AS (SELECT q_id, c_id, ${cosSql("qv", "cv", 64)} AS cos
           FROM probes JOIN lists USING (list_id) WHERE q_id <> c_id),
         r AS (SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM sc)
         SELECT q_id, CAST(rank AS INT) AS rank, c_id, cos FROM r
         WHERE rank <= 3 ORDER BY q_id, rank"""
      }),

    // MMR — maximal marginal relevance (Carbonell & Goldstein, SIGIR'98):
    // greedy diverse top-k.  Pick argmax λ·rel(c) − (1−λ)·max_{s∈S}
    // cos(c, s) five times — the selection every dedup-aware retrieval /
    // diverse-sampling stage runs so the k results aren't five copies of
    // the same document.  Scale shape: candidate generation (cosine
    // top-20) is the distributed part — TakeOrdered over the corpus with
    // the query broadcast; the greedy loop then touches ONLY the k-bounded
    // candidate set (20 rel values + 20×19 pairwise cosines, computed as a
    // broadcast self-join and collected — bounded by k², never by the
    // corpus, the same bounded-collect discipline as the gated
    // aggregates).  Both engines run the identical greedy recursion on
    // identical 6-dp cosines, so every pick, score and tie-break
    // hash-matches; the oracle is a recursive CTE carrying the pick set.
    QueryDef("q_mmr_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val qdoc = e.agg(min("vec_id")).collect().head.getLong(0)
        val topk = Vector.bruteForceTopK(e.filter(col("vec_id") === qdoc), e, 20)
          .select(col("c_id"), col("cos").as("rel"))
        val cands = topk.join(
            e.select(col("vec_id").as("c_id"),
              Vector.asDouble(col("embedding")).as("cv")), Seq("c_id"))
        val pairs = cands.select(col("c_id").as("a"), col("cv").as("av"))
          .join(broadcast(cands.select(col("c_id").as("b"), col("cv").as("bv"))),
            col("a") =!= col("b"))
          .select(col("a"), col("b"),
            Vector.cosineNative(col("av"), col("bv")).as("cos"))
        val relM = topk.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val simM = pairs.collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
        // literal 0.3, NOT (1 − 0.7): the latter is 0.30000000000000004 in
        // doubles while the oracle's parsed 0.3 literal is not — 1 ulp of
        // drift the hash would catch
        var chosen = scala.Vector.empty[(Int, Long, Double)]
        var in = Set.empty[Long]
        for (step <- 1 to 5) {
          val (cid, mmr) = relM.keysIterator.filterNot(in).map { c =>
            val m =
              if (in.isEmpty) 0.7 * relM(c)
              else 0.7 * relM(c) - 0.3 * in.iterator.map(p => simM((c, p))).max
            (c, m)
          }.minBy { case (c, m) => (-m, c) }
          chosen :+= ((step, cid, mmr)); in += cid
        }
        import s.implicits._
        chosen.toDF("rank", "c_id", "mmr").orderBy("rank")
      },
      Some {
        val relCos = cosSql("cv", "qv", 64)
        s"""WITH RECURSIVE
         qd AS (SELECT MIN(vec_id) AS qdoc FROM embeddings),
         c AS (SELECT vec_id AS c_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv FROM embeddings),
         qvv AS (SELECT cv AS qv FROM c, qd WHERE c_id = qdoc),
         scored AS (SELECT c_id, cv, $relCos AS rel FROM c, qvv, qd WHERE c_id <> qdoc),
         cand AS (SELECT c_id, cv, rel FROM (
             SELECT *, row_number() OVER (ORDER BY rel DESC, c_id) AS rn FROM scored)
           WHERE rn <= 20),
         p AS (SELECT a.c_id AS a, b.c_id AS b, ${cosSql("a.cv", "b.cv", 64)} AS cos
           FROM cand a JOIN cand b ON a.c_id <> b.c_id),
         sel(step, pick, mmr, picks) AS (
           (SELECT 1, c_id, CAST(0.7 AS DOUBLE) * rel, [c_id]
             FROM cand ORDER BY rel DESC, c_id LIMIT 1)
           UNION ALL
           (SELECT step + 1, nxt.c_id, nxt.mmr, list_append(picks, nxt.c_id)
            FROM sel, LATERAL (
              SELECT c.c_id,
                  CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * MAX(p.cos) AS mmr
              FROM cand c JOIN p ON p.a = c.c_id AND list_contains(sel.picks, p.b)
              WHERE NOT list_contains(sel.picks, c.c_id)
              GROUP BY c.c_id, c.rel
              ORDER BY mmr DESC, c.c_id LIMIT 1) nxt
            WHERE step < 5))
         SELECT CAST(step AS INT) AS rank, pick AS c_id, mmr FROM sel ORDER BY rank"""
      }),

    // Greedy k-center coreset (Gonzalez '85 farthest-first; Sener &
    // Savarese ICLR'18) — coverage-driven subset selection, the complement
    // of SemDeDup's redundancy pruning and q_mmr_topk's k²-bounded
    // candidate greedy: every pick is a DISTRIBUTED argmax over the whole
    // corpus (k TakeOrdered scans against broadcast center literals, zero
    // shuffles), so the loop survives a 100 TB corpus where a candidate
    // pre-cut would have to guess what "diverse" means before selecting.
    // Determinism: picks compare `1 − cos₆` doubles directly (single IEEE
    // ops on identical inputs, no summation), ties → lowest id; the
    // oracle replays the identical greedy as a generated chained-CTE
    // program (the gramSolveProgram emit-once discipline).
    QueryDef("q_kcenter_coreset",
      (s, dir) => Vector.kCenterGreedy(t(s, dir, "embeddings"), 8),
      Some {
        val k = 8
        def dst(a: String, b: String) =
          s"CAST(1.0 AS DOUBLE) - ${cosSql(a, b, 64)}"
        val sb = new StringBuilder
        // MATERIALIZED: each d_i is referenced by c_{i+1}, d_{i+1} AND the
        // final projection -- inlined CTEs would re-expand the 64-dim dot
        // chain once per reference (2^k blowup); materialization keeps the
        // oracle one linear greedy pass, matching the engine's k scans.
        sb ++= "WITH e AS MATERIALIZED (SELECT vec_id AS id, " +
          "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),\n"
        sb ++= "c1 AS MATERIALIZED (SELECT id, v FROM e ORDER BY id LIMIT 1),\n"
        sb ++= s"d1 AS MATERIALIZED (SELECT e.id, e.v, ${dst("e.v", "c1.v")} AS dd " +
          "FROM e, c1 WHERE e.id <> (SELECT id FROM c1)),\n"
        for (i <- 2 to k) {
          sb ++= s"c$i AS MATERIALIZED (SELECT id, v, dd FROM d${i - 1} ORDER BY dd DESC, id LIMIT 1),\n"
          sb ++= s"d$i AS MATERIALIZED (SELECT p.id, p.v, least(p.dd, ${dst("p.v", s"c$i.v")}) AS dd " +
            s"FROM d${i - 1} p, c$i WHERE p.id <> (SELECT id FROM c$i))"
          sb ++= (if (i < k) ",\n" else "\n")
        }
        sb ++= s"SELECT 1 AS sel_rank, (SELECT id FROM c1) AS vec_id, " +
          "(SELECT dd FROM c2) AS radius\n"
        for (r <- 2 until k)
          sb ++= s"UNION ALL SELECT $r, (SELECT id FROM c$r), (SELECT dd FROM c${r + 1})\n"
        sb ++= s"UNION ALL SELECT $k, (SELECT id FROM c$k), (SELECT max(dd) FROM d$k)\n"
        sb ++= "ORDER BY sel_rank"
        sb.toString
      }),

    // STREAMING ANN index ingest — the third leg of the persisted-index
    // story (batch build = q_tx_ann_lists, incremental batch refresh =
    // q_tx_ann_incremental, streaming ingest = here).  Embedding batches
    // arrive as a file stream; each micro-batch assigns under the FROZEN
    // quantizer and commits through TxTable.streamingAppend with list_id
    // stats — exactly-once (the second, fresh-checkpoint run must fully
    // no-op on batch ids: one replayed batch duplicates candidate rows and
    // the oracle hash catches it, and the row-count require names it
    // first).  OPTIMIZE ZORDER then clusters the landed micro-batch
    // segments by list — the maintenance cadence a 100 TB streaming index
    // actually runs — after which probes are manifest-pruned reads,
    // require-pinned.  Oracle: the plain IVF ranking (ingest path must be
    // invisible to results).
    // ST20 — the STREAMING MAINTENANCE LADDER: q_st16 bulk-OPTIMIZEs once
    // after ingest; this keeps the index query-ready CONTINUOUSLY — every
    // micro-batch appends its assigned segment exactly-once AND folds
    // everything since the last layout pass with the INCREMENTAL optimize
    // (compactDeltaN: clean generations carry over, only the fresh delta
    // re-clusters — O(batch) maintenance per batch, never O(index)).  The
    // ladder composes with exactly-once for free: a replayed batch's
    // append no-ops, so its compact sees nothing dirty and publishes
    // nothing (the count require would catch either failure).  The last
    // layout version is re-derived from the capped history read
    // (history(limit) — O(1) via the _head hint), so a fresh-checkpoint
    // restart keeps folding incrementally instead of re-clustering the
    // world.  Oracle: plain IVF ranking — maintenance must be invisible.
    QueryDef("q_st20_stream_ann_maintain",
      (s, dir) => {
        val base = java.nio.file.Files.createTempDirectory("graft_st20")
          .toString
        val root = s"$base/idx"
        val e = t(s, dir, "embeddings")
        val cents = Vector.coarseCentroids(e, nlist = 16)
        (0 until 3).foreach(i =>
          e.filter(pmod(col("vec_id"), lit(3)) === i)
            .coalesce(1).write.parquet(s"$base/src/f$i"))
        val schema = s.read.parquet(s"$base/src/f0").schema
        def ingest(df: org.apache.spark.sql.DataFrame, id: Long): Unit = {
          TxTable.streamingAppend(root, statsCols = Seq("list_id"))(
            Vector.coarseAssignWith(df, cents)
              .select(col("c_id").as("vec_id"),
                col("list_id").cast("long").as("list_id"), col("cv")), id)
          // filter+project over history's LocalRelation fold driver-side
          // (ConvertToLocalRelation), so this collect schedules no job —
          // the agg(max) form paid a task launch per micro-batch for a
          // driver-side max over ≤8 metadata rows
          val lastCompact = TxTable.history(s, root, limit = 8)
            .filter(col("op") === "compact").select("version")
            .collect().map(_.getLong(0)).reduceOption(_ max _)
          TxTable.compactDeltaN(s, root, Seq("list_id"),
            sinceVersion = lastCompact.getOrElse(0L),
            numSegments = 4)
        }
        def runOnce(cp: String): Unit = {
          val q = s.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$base/src/f*")
            .writeStream.foreachBatch(ingest _)
            .option("checkpointLocation", cp)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        runOnce(s"$base/cp1")
        runOnce(s"$base/cp2") // fresh checkpoint: replay must no-op BOTH rungs
        val n = TxTable.read(s, root).count()
        val nCorpus = e.count()
        require(n == nCorpus,
          s"q_st20_stream_ann_maintain: exactly-once violated — index has " +
            s"$n rows for a $nCorpus-vector corpus")
        // continuously-maintained means query-ready NOW: probes must prune
        // without any closing bulk OPTIMIZE
        val probes = Vector.coarseProbesWith(e.filter(col("vec_id") < 4),
          cents, nprobe = 2)
        val lids = probes.select("list_id").distinct().collect()
          .map(_.getInt(0)).sorted
        val cand = TxTable.readWhereIn(s, root, "list_id",
          lids.toSeq.map(l => new java.math.BigDecimal(l)))
        def dataSegs(df: org.apache.spark.sql.DataFrame) =
          df.inputFiles.filter(_.contains("/data/"))
            .map(_.replaceAll("/[^/]*$", "")).toSet
        val scanned = dataSegs(cand).size
        val total = dataSegs(TxTable.read(s, root)).size
        require(scanned < total,
          s"q_st20_stream_ann_maintain: probing ${lids.length} of 16 lists " +
            s"must prune the continuously-maintained index — scanned " +
            s"$scanned of $total segments")
        broadcast(probes).join(cand, Seq("list_id"))
          .filter(col("q_id") =!= col("vec_id"))
          .withColumn("cos", Vector.cosineNative(col("qv"), col("cv")))
          .withColumn("rank", row_number().over(
            Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("rank"), col("vec_id").as("c_id"), col("cos"))
          .orderBy("q_id", "rank")
      },
      Some {
        val cosQC = cosSql("qq.qv", "cents.cw", 64)
        val cosCC = cosSql("c.cv", "cents.cw", 64)
        s"""WITH cents AS (SELECT vec_id AS cent_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cw
           FROM embeddings WHERE vec_id < 16),
         c AS (SELECT vec_id AS c_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv FROM embeddings),
         asg AS (SELECT c_id, cv, cent_id,
             row_number() OVER (PARTITION BY c_id ORDER BY $cosCC DESC, cent_id) AS rn
           FROM c, cents),
         lists AS (SELECT c_id, cv, cent_id AS list_id FROM asg WHERE rn = 1),
         qq AS (SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 4),
         qp AS (SELECT q_id, qv, cent_id,
             row_number() OVER (PARTITION BY q_id ORDER BY $cosQC DESC, cent_id) AS rn
           FROM qq, cents),
         probes AS (SELECT q_id, qv, cent_id AS list_id FROM qp WHERE rn <= 2),
         sc AS (SELECT q_id, c_id, ${cosSql("qv", "cv", 64)} AS cos
           FROM probes JOIN lists USING (list_id) WHERE q_id <> c_id),
         r AS (SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM sc)
         SELECT q_id, CAST(rank AS INT) AS rank, c_id, cos FROM r
         WHERE rank <= 3 ORDER BY q_id, rank"""
      }),

    QueryDef("q_st16_stream_ann",
      (s, dir) => {
        val base = java.nio.file.Files.createTempDirectory("graft_st16")
          .toString
        val root = s"$base/idx"
        val e = t(s, dir, "embeddings")
        val cents = Vector.coarseCentroids(e, nlist = 16)
        (0 until 3).foreach(i =>
          e.filter(pmod(col("vec_id"), lit(3)) === i)
            .write.parquet(s"$base/src/f$i"))
        val schema = s.read.parquet(s"$base/src/f0").schema
        def ingest(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
          TxTable.streamingAppend(root, statsCols = Seq("list_id"))(
            Vector.coarseAssignWith(df, cents)
              .select(col("c_id").as("vec_id"),
                col("list_id").cast("long").as("list_id"), col("cv")), id)
        def runOnce(cp: String): Unit = {
          val q = s.readStream.schema(schema).parquet(s"$base/src/f*")
            .writeStream.foreachBatch(ingest _)
            .option("checkpointLocation", cp)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        runOnce(s"$base/cp1")
        runOnce(s"$base/cp2") // fresh checkpoint: replay must no-op
        val n = TxTable.read(s, root).count()
        val nCorpus = e.count()
        require(n == nCorpus,
          s"q_st16_stream_ann: exactly-once violated — index has $n rows " +
            s"for a $nCorpus-vector corpus (a replayed batch re-committed)")
        TxTable.compactZOrderN(s, root, Seq("list_id"), numSegments = 16)
        val probes = Vector.coarseProbesWith(e.filter(col("vec_id") < 4),
          cents, nprobe = 2)
        val lids = probes.select("list_id").distinct().collect()
          .map(_.getInt(0)).sorted
        val cand = TxTable.readWhereIn(s, root, "list_id",
          lids.toSeq.map(l => new java.math.BigDecimal(l)))
        def dataSegs(df: org.apache.spark.sql.DataFrame) =
          df.inputFiles.filter(_.contains("/data/"))
            .map(_.replaceAll("/[^/]*$", "")).toSet
        val scanned = dataSegs(cand).size
        val total = dataSegs(TxTable.read(s, root)).size
        require(scanned < total,
          s"q_st16_stream_ann: probing ${lids.length} of 16 lists must " +
            s"prune the clustered table — scanned $scanned of $total segments")
        broadcast(probes).join(cand, Seq("list_id"))
          .filter(col("q_id") =!= col("vec_id"))
          .withColumn("cos", Vector.cosineNative(col("qv"), col("cv")))
          .withColumn("rank", row_number().over(
            Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))))
          .filter(col("rank") <= 3)
          .select(col("q_id"), col("rank"), col("vec_id").as("c_id"), col("cos"))
          .orderBy("q_id", "rank")
      },
      Some {
        val cosQC = cosSql("qq.qv", "cents.cw", 64)
        val cosCC = cosSql("c.cv", "cents.cw", 64)
        s"""WITH cents AS (SELECT vec_id AS cent_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cw
           FROM embeddings WHERE vec_id < 16),
         c AS (SELECT vec_id AS c_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv FROM embeddings),
         asg AS (SELECT c_id, cv, cent_id,
             row_number() OVER (PARTITION BY c_id ORDER BY $cosCC DESC, cent_id) AS rn
           FROM c, cents),
         lists AS (SELECT c_id, cv, cent_id AS list_id FROM asg WHERE rn = 1),
         qq AS (SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 4),
         qp AS (SELECT q_id, qv, cent_id,
             row_number() OVER (PARTITION BY q_id ORDER BY $cosQC DESC, cent_id) AS rn
           FROM qq, cents),
         probes AS (SELECT q_id, qv, cent_id AS list_id FROM qp WHERE rn <= 2),
         sc AS (SELECT q_id, c_id, ${cosSql("qv", "cv", 64)} AS cos
           FROM probes JOIN lists USING (list_id) WHERE q_id <> c_id),
         r AS (SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM sc)
         SELECT q_id, CAST(rank AS INT) AS rank, c_id, cos FROM r
         WHERE rank <= 3 ORDER BY q_id, rank"""
      }),

    // Lloyd k-means training for the IVF quantizer (one re-estimation
    // round): assign → decimal-exact per-dim means → re-assign.  Both
    // engines compute bit-identical centroids, so the 500 final
    // assignments hash-match; the corpus never shuffles (argmax over
    // broadcast centroid literals + one (list, dim) aggregation per round).
    QueryDef("q_kmeans_refine",
      (s, dir) => Vector.kmeansAssign(t(s, dir, "embeddings"), k = 8, rounds = 2)
        .orderBy("c_id"),
      Some(s"""WITH c0 AS (SELECT vec_id AS cent_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cw
           FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS c_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv FROM embeddings),
         a1 AS (SELECT c_id, cv, cent_id,
             row_number() OVER (PARTITION BY c_id
               ORDER BY ${cosSql("c.cv", "c0.cw", 64)} DESC, cent_id) AS rn
           FROM c, c0),
         l1 AS (SELECT c_id, cv, cent_id AS list_id FROM a1 WHERE rn = 1),
         rel AS (SELECT list_id, CAST(i AS INT) AS dim, cv[CAST(i AS INT)] AS val
           FROM l1, range(1, 65) tt(i)),
         m1 AS (SELECT list_id, dim,
             CAST(SUM(CAST(val AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
           FROM rel GROUP BY 1, 2),
         mw AS (SELECT list_id, list(m ORDER BY dim) AS w FROM m1 GROUP BY 1),
         a2 AS (SELECT c.c_id, mw.list_id,
             row_number() OVER (PARTITION BY c.c_id
               ORDER BY ${cosSql("c.cv", "mw.w", 64)} DESC, mw.list_id) AS rn
           FROM c, mw)
         SELECT c_id, CAST(list_id AS INT) AS list_id FROM a2 WHERE rn = 1
         ORDER BY c_id""")),

    // SemDeDup (Abbas et al. '23): cluster-scoped semantic dedup — nearest
    // of 16 coarse centroids, cosine pairs ONLY within a cluster, drop any
    // vector with a smaller-id τ-neighbor there.  The quadratic work is
    // Σ cluster², keyed for a bucketed equi-join (the same candidate-join
    // discipline as MinHash/LSH); the id-based survivor policy is the
    // paper's one-per-group idea made deterministic.
    QueryDef("q_semdedup",
      (s, dir) => Vector.semDedup(t(s, dir, "embeddings"), 16, 0.35)
        .orderBy("vec_id"),
      Some(s"""WITH c0 AS (SELECT vec_id AS cent_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cw
           FROM embeddings WHERE vec_id < 16),
         c AS (SELECT vec_id AS c_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv FROM embeddings),
         a1 AS (SELECT c_id, cv, cent_id,
             row_number() OVER (PARTITION BY c_id
               ORDER BY ${cosSql("c.cv", "c0.cw", 64)} DESC, cent_id) AS rn
           FROM c, c0),
         l AS (SELECT c_id, cv, cent_id AS list_id FROM a1 WHERE rn = 1),
         d AS (SELECT DISTINCT b.c_id FROM l a JOIN l b
           ON a.list_id = b.list_id AND a.c_id < b.c_id
           AND ${cosSql("a.cv", "b.cv", 64)} > 0.35)
         SELECT l.c_id AS vec_id, CAST(l.list_id AS INT) AS list_id,
           (d.c_id IS NOT NULL) AS dropped
         FROM l LEFT JOIN d ON l.c_id = d.c_id ORDER BY vec_id""")),

    // Product quantization (Jégou et al. 2011): m=8 subspaces × 8 dims,
    // codebook = first 16 corpus vectors.  This query pins the ENCODER:
    // per-subspace argmin codes (ties → lowest id) and the total squared
    // reconstruction error, both 6-dp-rounded with identical fold order, so
    // the hash match proves code assignment — the part of PQ that decides
    // recall — is bit-identical cross-engine.
    QueryDef("q_pq_codes",
      (s, dir) => Vector.pqEncode(t(s, dir, "embeddings"), m = 8, kCode = 16)
        .select(col("c_id"),
          array_join(transform(col("codes"), _.cast("string")), ",").as("codes"),
          col("err"))
        .orderBy("c_id"),
      Some(s"""WITH $pqSql,
         agg AS (SELECT c_id,
             array_to_string(list(j ORDER BY s), ',') AS codes,
             round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(dist ORDER BY s)), (acc, x) -> acc + x), 6) AS err
           FROM codes GROUP BY c_id)
         SELECT c_id, codes, err FROM agg ORDER BY c_id""")),

    // PQ asymmetric-distance top-k: queries exact, corpus reconstructed
    // from its codes (rv = the codeword slices), cosine + rank as in
    // q_ivf_topk.  The oracle rebuilds rv relationally from the codes CTE —
    // same codewords, same 64-dim left-fold cosine.
    QueryDef("q_pq_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Vector.pqTopK(e.filter(col("vec_id") < 30), e, 3, m = 8, kCode = 16)
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH $pqSql,
         rv AS (SELECT k.c_id, list(cb.w[CAST(tt.i AS INT)] ORDER BY tt.i) AS rv
           FROM codes k JOIN cb ON cb.j = k.j, range(1, 65) tt(i)
           WHERE k.s = (tt.i - 1) // 8
           GROUP BY k.c_id),
         qq AS (SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 30),
         sc AS (SELECT q_id, c_id, ${cosSql("qv", "rv", 64)} AS cos
           FROM qq, rv WHERE q_id <> c_id),
         r AS (SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM sc)
         SELECT q_id, CAST(rank AS INT) AS rank, c_id, cos FROM r
         WHERE rank <= 3 ORDER BY q_id, rank""")),

    // IVF-PQ (the FAISS IndexIVFPQ layout): coarse lists prune candidates,
    // PQ reconstruction scores them — candidate generation equi-joins on
    // list_id, scoring touches only codes + the broadcast codebook.  The
    // oracle composes the IVF probe CTEs with the PQ reconstruction; the
    // hash match pins routing AND asymmetric scoring in one query.
    QueryDef("q_ivf_pq_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Vector.ivfPqTopK(e.filter(col("vec_id") < 30), e, 3,
          nlist = 16, nprobe = 4, m = 8, kCode = 16)
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH $pqSql,
         rv AS (SELECT k.c_id, list(cb.w[CAST(tt.i AS INT)] ORDER BY tt.i) AS rv
           FROM codes k JOIN cb ON cb.j = k.j, range(1, 65) tt(i)
           WHERE k.s = (tt.i - 1) // 8
           GROUP BY k.c_id),
         cents AS (SELECT vec_id AS cent_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cw
           FROM embeddings WHERE vec_id < 16),
         asg AS (SELECT c_id, cent_id,
             row_number() OVER (PARTITION BY c_id
               ORDER BY ${cosSql("c.cv", "cents.cw", 64)} DESC, cent_id) AS rn
           FROM c, cents),
         lists AS (SELECT c_id, cent_id AS list_id FROM asg WHERE rn = 1),
         qq AS (SELECT vec_id AS q_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 30),
         qp AS (SELECT q_id, qv, cent_id,
             row_number() OVER (PARTITION BY q_id
               ORDER BY ${cosSql("qq.qv", "cents.cw", 64)} DESC, cent_id) AS rn
           FROM qq, cents),
         probes AS (SELECT q_id, qv, cent_id AS list_id FROM qp WHERE rn <= 4),
         sc AS (SELECT q_id, c_id, ${cosSql("qv", "rv", 64)} AS cos
           FROM probes JOIN lists USING (list_id) JOIN rv USING (c_id)
           WHERE q_id <> c_id),
         r AS (SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM sc)
         SELECT q_id, CAST(rank AS INT) AS rank, c_id, cos FROM r
         WHERE rank <= 3 ORDER BY q_id, rank""")),

    // Binary (sign-bit) retrieval: 1 bit/dimension packed into two 32-bit
    // halves (bit 63 through a summed BIGINT goes negative in Spark but
    // HUGEINT in DuckDB list_sum — two halves keep the arithmetic exact),
    // Hamming prefilter to 10 candidates, exact-cosine re-rank to top 3.
    // The cheapest retrieval tier (256× smaller than float32): stage one
    // reads 8 bytes/vector, only survivors touch embeddings.
    QueryDef("q_binary_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Vector.binaryTopK(e.filter(col("vec_id") < 30), e, 3, prefilter = 10)
          .orderBy("q_id", "rank")
      },
      Some {
        def code(v: String, from: Int, until: Int) =
          s"""CAST(list_sum(list_transform(range($from, $until), b ->
             CASE WHEN $v[CAST(b + 1 AS INT)] >= 0
               THEN (CAST(1 AS BIGINT) << (b - $from)) ELSE CAST(0 AS BIGINT) END))
             AS BIGINT)"""
        s"""WITH v AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv FROM embeddings),
           coded AS (SELECT vec_id, dv, ${code("dv", 0, 32)} AS lo,
               ${code("dv", 32, 64)} AS hi FROM v),
           q AS (SELECT vec_id AS q_id, dv AS qv, lo AS qlo, hi AS qhi
             FROM coded WHERE vec_id < 30),
           sc AS (SELECT q_id, qv, vec_id AS c_id, dv AS cv,
               bit_count(xor(qlo, lo)) + bit_count(xor(qhi, hi)) AS ham
             FROM q, coded WHERE q_id <> vec_id),
           pr AS (SELECT q_id, qv, c_id, cv, ham,
               row_number() OVER (PARTITION BY q_id ORDER BY ham, c_id) AS rn
             FROM sc),
           rr AS (SELECT q_id, c_id, ham, ${cosSql("qv", "cv", 64)} AS cos
             FROM pr WHERE rn <= 10),
           r AS (SELECT q_id, c_id, ham, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
             FROM rr)
           SELECT q_id, CAST(rank AS INT) AS rank, c_id, CAST(ham AS INT) AS ham, cos
           FROM r WHERE rank <= 3 ORDER BY q_id, rank"""
      }),

    // PQ codebook training (one Lloyd refinement per subspace, L2 — the
    // q_kmeans_refine idea applied to the product quantizer): slices
    // assign to their nearest initial codeword via the encoder's own
    // argmin, then each codeword re-estimates as the DECIMAL(38,12)-exact
    // per-dimension mean.  All 16×8×8 trained cells hash-match; empty
    // codewords keep their initial value (COALESCE in both engines).
    QueryDef("q_pq_train",
      (s, dir) => Vector.pqTrainRelation(t(s, dir, "embeddings"), m = 8, kCode = 16)
        .orderBy("s", "j", "dim"),
      Some(s"""WITH $pqTrainSql
         SELECT CAST(s AS INT) AS s, CAST(j AS INT) AS j, CAST(i AS INT) AS dim, w
         FROM tr ORDER BY s, j, dim""")),

    // The full train → encode → search flow: re-encode every vector
    // against the TRAINED codebook (tw = the per-subspace trained
    // codeword lists), rebuild the reconstruction, rank by asymmetric
    // cosine — one oracle pinning trainer, re-assignment and scoring in
    // composition.  Fold order discipline: trained codewords become LISTS
    // (list(w ORDER BY i)) before any distance, so every fold walks index
    // order exactly as the engine expression does.
    QueryDef("q_pq_topk_trained",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Vector.pqTopKTrained(e.filter(col("vec_id") < 30), e, 3, m = 8, kCode = 16)
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH $pqTrainSql,
         tw AS (SELECT s, j, list(w ORDER BY i) AS tws FROM tr GROUP BY 1, 2),
         sd2 AS (SELECT c.c_id, tw.s, tw.j,
             round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, 9), i ->
                 (cv[CAST(tw.s * 8 + i AS INT)] - tws[CAST(i AS INT)])
                 * (cv[CAST(tw.s * 8 + i AS INT)] - tws[CAST(i AS INT)]))),
               (acc, x) -> acc + x), 6) AS dist
           FROM c, tw),
         best2 AS (SELECT c_id, s, j, dist,
             row_number() OVER (PARTITION BY c_id, s ORDER BY dist, j) AS rn FROM sd2),
         codes2 AS (SELECT c_id, s, j FROM best2 WHERE rn = 1),
         rv2 AS (SELECT k2.c_id,
             list(tw.tws[CAST((tt.i - 1) % 8 + 1 AS INT)] ORDER BY tt.i) AS rv
           FROM codes2 k2 JOIN tw ON tw.s = k2.s AND tw.j = k2.j, range(1, 65) tt(i)
           WHERE k2.s = (tt.i - 1) // 8
           GROUP BY k2.c_id),
         qq AS (SELECT vec_id AS q_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 30),
         sc AS (SELECT q_id, c_id, ${cosSql("qv", "rv", 64)} AS cos
           FROM qq, rv2 WHERE q_id <> c_id),
         r AS (SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM sc)
         SELECT q_id, CAST(rank AS INT) AS rank, c_id, cos FROM r
         WHERE rank <= 3 ORDER BY q_id, rank""")))

  val multimodal: Seq[QueryDef] = Seq(

    // Int8 embedding quantization: per-vector scale + codes + the actual
    // max dequantization error, which must respect the s/2 bound (the
    // oracle recomputes all three with identical arithmetic).
    QueryDef("q_embed_quantize",
      (s, dir) => {
        val v = Vector.asDouble(col("embedding"))
        t(s, dir, "embeddings")
          .withColumn("scale", Vector.quantScale(v))
          .withColumn("codes", Vector.quantCodes(v, col("scale")))
          .select(col("vec_id"), round(col("scale"), 6).as("scale_r"),
            aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"),
            round(Vector.quantError(v, col("codes"), col("scale")), 6).as("max_err"))
          .orderBy("vec_id")
      },
      Some("""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
           FROM embeddings),
         q AS (SELECT vec_id, dv,
             list_max(list_transform(dv, x -> abs(x))) / 127.0 AS scale FROM v),
         c AS (SELECT vec_id, dv, scale,
             CASE WHEN scale = 0 THEN list_transform(dv, x -> 0)
               ELSE list_transform(dv, x -> CAST(floor(x / scale + 0.5) AS INT)) END AS codes
           FROM q)
         SELECT vec_id, round(scale, 6) AS scale_r,
           CAST(list_sum(codes) AS BIGINT) AS code_sum,
           round(list_max(list_transform(range(1, len(dv) + 1),
             i -> abs(dv[i] - CAST(codes[i] AS DOUBLE) * scale))), 6) AS max_err
         FROM c ORDER BY vec_id""")),

    QueryDef("q_multimodal_meta",
      (s, dir) => Multimodal.payloadMeta(
          Multimodal.withBinaryPayload(t(s, dir, "documents"), "text"), "payload")
        .select("doc_id", "n_bytes", "magic", "format")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS magic,
           CASE CAST(octet_length(encode(text)) % 3 AS INT)
             WHEN 0 THEN 'jpeg-like' WHEN 1 THEN 'png-like' ELSE 'wav-like' END AS format
         FROM documents ORDER BY doc_id""")),

    QueryDef("q_sample_checksum",
      (s, dir) => Multimodal.sampleChecksum(t(s, dir, "documents"), "text", 7)
        .select(col("doc_id"), col("sample_checksum"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
           CAST(CASE WHEN length(text) >= 1
             THEN list_sum(list_transform(range(1, length(text) + 1, 7), i -> ascii(substr(text, i, 1))))
             ELSE 0 END AS BIGINT) AS sample_checksum
         FROM documents ORDER BY doc_id""")),

    // Frame-sampling explode: one row per every-2nd sampled frame with a
    // per-frame byte-probe signature — the row-per-frame fanout a video
    // pipeline feeds to embedding; decode itself stays the stub, the
    // explode shape and schema are real.  Shuffle-free Generate.
    QueryDef("q_frame_sample",
      (s, dir) => Multimodal.sampleFrames(t(s, dir, "documents"), "doc_id", "text", 2)
        .orderBy("doc_id", "frame_idx"),
      Some("""WITH f AS (SELECT doc_id, text,
             CAST(1 + length(text) % 8 AS INT) AS n_frames FROM documents),
         x AS (SELECT doc_id, n_frames, text,
             CAST(unnest(range(0, n_frames, 2)) AS INT) AS frame_idx FROM f)
         SELECT doc_id, n_frames, frame_idx,
           CAST(CASE WHEN length(text) >= 1
             THEN ascii(substr(text, (frame_idx * 7) % length(text) + 1, 1))
             ELSE 0 END AS BIGINT) AS frame_sig
         FROM x ORDER BY doc_id, frame_idx""")),

    // STUB decoder plumbing (mapPartitions over binary payloads).  The fake
    // codec is deterministic byte math (width/height/frames from length and
    // first byte — Multimodal.decodeStub), so the oracle can mirror it
    // exactly: the mapPartitions slot stays as the real-codec drop-in point
    // while its stand-in output is still hash-checked, not rows-only.
    // Fixture text is ASCII, so first byte ≡ ascii(first char) (already
    // relied on by q_multimodal_meta's magic column).
    QueryDef("q_decode_stub",
      (s, dir) => Multimodal.decodeStub(
          Multimodal.withBinaryPayload(t(s, dir, "documents"), "text"),
          "doc_id", "payload")
        .select(col("doc_id"), col("width"), col("height"), col("n_frames"))
        .orderBy("doc_id"),
      Some("""WITH m AS (SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n,
             CASE WHEN length(text) = 0 THEN 0 ELSE ascii(substr(text, 1, 1)) END AS b0
           FROM documents)
         SELECT doc_id,
           CAST(64 + n % 64 AS INT) AS width,
           CAST(64 + (b0 % 128) % 64 AS INT) AS height,
           CAST(1 + n % 8 AS INT) AS n_frames
         FROM m ORDER BY doc_id""")),

    // REAL codec roundtrip: render a deterministic grayscale image per doc
    // (w = 8 + doc_id % 16, h = 8 + n_chars % 16, pixel(x,y) =
    // (doc_id*31 + 7x + 13y) mod 256), encode GENUINE PNG bytes via the
    // JDK's javax.imageio, decode them back with ImageIO.read, and report
    // the decoded raster's true width/height and pixel sum/min/max.  The
    // pixel formula is closed-form, so the oracle recomputes every decoded
    // statistic WITHOUT an image library — a wrong byte anywhere in the
    // encode→decode path (stride, color model, bit depth) breaks the hash.
    // Scan pruning: encodePng's input select reads only (doc_id, n_chars);
    // the fat text column never leaves parquet.
    QueryDef("q_decode_real",
      (s, dir) => {
        val d = t(s, dir, "documents").select("doc_id", "n_chars")
        val enc = Multimodal.encodePng(d, "doc_id",
          lit(8) + col("doc_id") % 16, lit(8) + col("n_chars") % 16)
        Multimodal.decodeImage(enc, "doc_id", "png")
          .select("doc_id", "width", "height", "px_sum", "px_min", "px_max")
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, CAST(8 + doc_id % 16 AS INT) AS w,
             CAST(8 + n_chars % 16 AS INT) AS h FROM documents),
         px AS (SELECT doc_id, w, h,
             list_transform(range(0, w * h),
               i -> (doc_id * 31 + (i // h) * 7 + (i % h) * 13) % 256) AS ps
           FROM d)
         SELECT doc_id, w AS width, h AS height,
           CAST(list_sum(ps) AS BIGINT) AS px_sum,
           CAST(list_min(ps) AS INT) AS px_min,
           CAST(list_max(ps) AS INT) AS px_max
         FROM px ORDER BY doc_id""")),

    // REAL resize through the codec chain: encode genuine PNGs (as
    // q_decode_real), resample each to an independent per-doc target
    // (width always shrinks, height mixes up- and down-scaling), re-encode
    // REAL PNG bytes, then decode the RESIZED payload and report its true
    // dimensions + pixel stats.  The resample is exact integer
    // nearest-neighbor (src = dst·srcDim/dstDim, floor), so the oracle
    // recomputes the resized grid closed-form: a rounding slip, a stride
    // bug, or an interpolating resampler all break the hash.
    QueryDef("q_multimodal_resize",
      (s, dir) => {
        val d = t(s, dir, "documents").select("doc_id", "n_chars")
        val enc = Multimodal.encodePng(d, "doc_id",
          lit(8) + col("doc_id") % 16, lit(8) + col("n_chars") % 16)
        val rsz = Multimodal.resizeImage(enc, "doc_id", "png",
          lit(4) + col("doc_id") % 8, lit(5) + col("doc_id") % 23)
        Multimodal.decodeImage(rsz, "doc_id", "png")
          .select("doc_id", "width", "height", "px_sum", "px_min", "px_max")
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, CAST(8 + doc_id % 16 AS INT) AS w,
             CAST(8 + n_chars % 16 AS INT) AS h,
             CAST(4 + doc_id % 8 AS INT) AS dw,
             CAST(5 + doc_id % 23 AS INT) AS dh FROM documents),
         px AS (SELECT doc_id, dw, dh,
             list_transform(range(0, dw * dh),
               i -> (doc_id * 31 + (((i // dh) * w) // dw) * 7
                 + (((i % dh) * h) // dh) * 13) % 256) AS ps
           FROM d)
         SELECT doc_id, dw AS width, dh AS height,
           CAST(list_sum(ps) AS BIGINT) AS px_sum,
           CAST(list_min(ps) AS INT) AS px_min,
           CAST(list_max(ps) AS INT) AS px_max
         FROM px ORDER BY doc_id""")),

    // BILINEAR resize beside the nearest-neighbor mode (r10 VERDICT #6):
    // Graphics2D resample with the bilinear RenderingHints set explicitly.
    // Interpolated values are convex combinations — not closed-form across
    // JREs — so the oracle rides CONSTANT tiles: every convex filter maps
    // a constant image to the same constant, making the resized sum/min/
    // max exact (c·dw·dh / c / c).  A filter that leaks neighboring
    // values, mis-sizes the target, or gamma-shifts the gray ramp breaks
    // the hash.
    QueryDef("q_multimodal_resize_bilinear",
      (s, dir) => {
        val d = t(s, dir, "documents").select("doc_id", "n_chars")
        val enc = Multimodal.encodeConstPng(d, "doc_id", col("doc_id") % 256,
          lit(8) + col("doc_id") % 16, lit(8) + col("n_chars") % 16)
        val rsz = Multimodal.resizeImageBilinear(enc, "doc_id", "png",
          lit(4) + col("doc_id") % 8, lit(5) + col("doc_id") % 23)
        Multimodal.decodeImage(rsz, "doc_id", "png")
          .select("doc_id", "width", "height", "px_sum", "px_min", "px_max")
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, CAST(doc_id % 256 AS INT) AS c,
             CAST(4 + doc_id % 8 AS INT) AS dw,
             CAST(5 + doc_id % 23 AS INT) AS dh FROM documents)
         SELECT doc_id, dw AS width, dh AS height,
           CAST(c * dw * dh AS BIGINT) AS px_sum,
           c AS px_min, c AS px_max
         FROM d ORDER BY doc_id""")),

    // REAL audio codec roundtrip — the WAV sibling of q_decode_real: render
    // n = 64 + n_chars % 128 unsigned 8-bit PCM samples per doc from the
    // closed-form sample(i) = (doc_id*31 + 7i) mod 256, write a GENUINE
    // RIFF/WAVE container via the JDK's javax.sound.sampled, decode it
    // back (header fields read from the actual RIFF chunk), and report
    // true sample count / rate / depth / channels plus sample sum/min/max.
    // The oracle recomputes every statistic from the formula, so a header
    // mis-write, a resample, or a byte-order slip breaks the hash.
    QueryDef("q_decode_audio",
      (s, dir) => {
        val d = t(s, dir, "documents").select("doc_id", "n_chars")
        val enc = Multimodal.encodeWav(d, "doc_id", lit(64) + col("n_chars") % 128)
        Multimodal.decodeWav(enc, "doc_id", "wav")
          .select("doc_id", "n_samples", "sample_rate", "bits", "channels",
            "s_sum", "s_min", "s_max")
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id,
             CAST(64 + n_chars % 128 AS INT) AS n FROM documents),
         sm AS (SELECT doc_id, n,
             list_transform(range(0, n),
               i -> (doc_id * 31 + i * 7) % 256) AS ss
           FROM d)
         SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
           CAST(8000 AS INT) AS sample_rate, CAST(8 AS INT) AS bits,
           CAST(1 AS INT) AS channels,
           CAST(list_sum(ss) AS BIGINT) AS s_sum,
           CAST(list_min(ss) AS INT) AS s_min,
           CAST(list_max(ss) AS INT) AS s_max
         FROM sm ORDER BY doc_id""")),

    // End-to-end multimodal pipeline: encode real PNGs for a candidate
    // corpus slice → REAL decode → 4-dim feature vectors (quadrant mean
    // luminance from the decoded raster) → brute-force cosine top-2
    // neighbors for each query doc.  The corpus-to-index flow a multimodal
    // training pipeline runs: codec boundary per-row and shuffle-free,
    // ANN as a broadcast-able small-queries × candidates join, ranking as
    // a partitioned window.  Cosine is an explicit fixed-order term chain
    // so Spark and the oracle produce bit-identical doubles (ranking runs
    // on the unrounded value).
    QueryDef("q_multimodal_pipeline",
      (s, dir) => {
        val cands = t(s, dir, "documents").select("doc_id", "n_chars")
          .filter(col("doc_id") % 5 === 0)
        val enc = Multimodal.encodePng(cands, "doc_id",
          lit(8) + col("doc_id") % 16, lit(8) + col("n_chars") % 16)
        val feat = Multimodal.decodeImage(enc, "doc_id", "png")
          .select(col("doc_id"), col("features"))
        val queries = feat.filter(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("query_id"), col("features").as("qf"))
        def term(i: Int): Column =
          element_at(col("qf"), i) * element_at(col("features"), i)
        def norm(c: String): Column = sqrt(
          element_at(col(c), 1) * element_at(col(c), 1) +
          element_at(col(c), 2) * element_at(col(c), 2) +
          element_at(col(c), 3) * element_at(col(c), 3) +
          element_at(col(c), 4) * element_at(col(c), 4))
        val scored = feat.crossJoin(broadcast(queries))
          .filter(col("doc_id") =!= col("query_id"))
          .withColumn("cos",
            (term(1) + term(2) + term(3) + term(4)) / (norm("qf") * norm("features")))
        scored
          .withColumn("rank", row_number().over(Window.partitionBy("query_id")
            .orderBy(col("cos").desc, col("doc_id").asc)))
          .filter(col("rank") <= 2)
          .select(col("query_id"), col("rank"),
            col("doc_id").as("neighbor_id"), round(col("cos"), 6).as("cosine"))
          .orderBy("query_id", "rank")
      },
      Some("""WITH d AS (SELECT doc_id, CAST(8 + doc_id % 16 AS INT) AS w,
             CAST(8 + n_chars % 16 AS INT) AS h FROM documents WHERE doc_id % 5 = 0),
         px AS (SELECT doc_id, w, h, CAST(unnest(range(0, w * h)) AS BIGINT) AS i FROM d),
         pq AS (SELECT doc_id,
             (CASE WHEN 2 * (i // h) >= w THEN 2 ELSE 0 END)
               + (CASE WHEN 2 * (i % h) >= h THEN 1 ELSE 0 END) AS q,
             (doc_id * 31 + (i // h) * 7 + (i % h) * 13) % 256 AS p
           FROM px),
         feat AS (SELECT doc_id,
             SUM(CASE WHEN q = 0 THEN p ELSE 0 END) * 1.0
               / SUM(CASE WHEN q = 0 THEN 1 ELSE 0 END) AS f1,
             SUM(CASE WHEN q = 1 THEN p ELSE 0 END) * 1.0
               / SUM(CASE WHEN q = 1 THEN 1 ELSE 0 END) AS f2,
             SUM(CASE WHEN q = 2 THEN p ELSE 0 END) * 1.0
               / SUM(CASE WHEN q = 2 THEN 1 ELSE 0 END) AS f3,
             SUM(CASE WHEN q = 3 THEN p ELSE 0 END) * 1.0
               / SUM(CASE WHEN q = 3 THEN 1 ELSE 0 END) AS f4
           FROM pq GROUP BY doc_id),
         qs AS (SELECT doc_id AS query_id, f1 AS g1, f2 AS g2, f3 AS g3, f4 AS g4
           FROM feat WHERE doc_id % 100 = 0),
         pairs AS (SELECT qs.query_id, c.doc_id AS neighbor_id,
             (g1 * f1 + g2 * f2 + g3 * f3 + g4 * f4)
               / (sqrt(g1 * g1 + g2 * g2 + g3 * g3 + g4 * g4)
                  * sqrt(f1 * f1 + f2 * f2 + f3 * f3 + f4 * f4)) AS cos
           FROM qs, feat c WHERE c.doc_id <> qs.query_id),
         r AS (SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cos DESC, neighbor_id) AS rank
           FROM pairs)
         SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id,
           ROUND(cos, 6) AS cosine
         FROM r WHERE rank <= 2 ORDER BY query_id, rank""")),

    // IVF-backed variant of the multimodal pipeline (r10 VERDICT #5): the
    // same encode→decode→quadrant features, but candidate generation rides
    // Vector.ivfTopK — nearest-of-8 coarse centroids partitions the
    // feature corpus into inverted lists, each query probes its 4 nearest
    // lists and re-ranks exactly inside them.  This is the corpus-to-index
    // flow at 100 TB (the brute path above is the fixture-scale baseline):
    // corpus-side work is one per-row argmax over broadcast centroid
    // literals + a list_id equi-join, never queries × corpus.  Each output
    // row carries `in_brute` — whether the IVF neighbor is also in the
    // exact brute-force top-2 — and the in-query gate requires recall@2
    // ≥ 60% so a quantizer regression fails loudly; the oracle recomputes
    // the whole thing (features, assignment, probes, ranking, brute flag)
    // so the exact recall is hash-pinned, not just floored.
    QueryDef("q_multimodal_pipeline_ivf",
      (s, dir) => {
        val cands = t(s, dir, "documents").select("doc_id", "n_chars")
          .filter(col("doc_id") % 5 === 0)
        val enc = Multimodal.encodePng(cands, "doc_id",
          lit(8) + col("doc_id") % 16, lit(8) + col("n_chars") % 16)
        // the feature frame feeds four consumers (centroid collect, list
        // assignment, probes, brute baseline) — cache it so the codec runs
        // once, not once per consumer
        val feat = Multimodal.decodeImage(enc, "doc_id", "png")
          .select(col("doc_id").as("vec_id"), col("features").as("embedding"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val queries = feat.filter(col("vec_id") % 100 === 0)
          val ivf = Vector.ivfTopK(queries, feat, 2, nlist = 40, nprobe = 4)
          val brute = Vector.bruteForceTopK(queries, feat, 2)
            .select(col("q_id"), col("c_id"), lit(true).as("in_brute"))
          val out = ivf.join(brute, Seq("q_id", "c_id"), "left")
            .select(col("q_id").as("query_id"), col("rank"),
              col("c_id").as("neighbor_id"), col("cos").as("cosine"),
              coalesce(col("in_brute"), lit(false)).as("in_brute"))
            .orderBy("query_id", "rank")
          Catalog.gateOnce(s, out) { rows =>
            val hits = rows.count(_.getAs[Boolean]("in_brute"))
            require(rows.nonEmpty && hits * 10 >= rows.size * 6,
              s"q_multimodal_pipeline_ivf: IVF recall@2 dropped below 60% " +
                s"($hits/${rows.size})")
          }
        } finally feat.unpersist(false)
      },
      Some(s"""WITH d AS (SELECT doc_id, CAST(8 + doc_id % 16 AS INT) AS w,
             CAST(8 + n_chars % 16 AS INT) AS h FROM documents WHERE doc_id % 5 = 0),
         px AS (SELECT doc_id, w, h, CAST(unnest(range(0, w * h)) AS BIGINT) AS i FROM d),
         pq AS (SELECT doc_id,
             (CASE WHEN 2 * (i // h) >= w THEN 2 ELSE 0 END)
               + (CASE WHEN 2 * (i % h) >= h THEN 1 ELSE 0 END) AS q,
             (doc_id * 31 + (i // h) * 7 + (i % h) * 13) % 256 AS p
           FROM px),
         feat AS (SELECT doc_id,
             SUM(CASE WHEN q = 0 THEN p ELSE 0 END) * 1.0
               / SUM(CASE WHEN q = 0 THEN 1 ELSE 0 END) AS f1,
             SUM(CASE WHEN q = 1 THEN p ELSE 0 END) * 1.0
               / SUM(CASE WHEN q = 1 THEN 1 ELSE 0 END) AS f2,
             SUM(CASE WHEN q = 2 THEN p ELSE 0 END) * 1.0
               / SUM(CASE WHEN q = 2 THEN 1 ELSE 0 END) AS f3,
             SUM(CASE WHEN q = 3 THEN p ELSE 0 END) * 1.0
               / SUM(CASE WHEN q = 3 THEN 1 ELSE 0 END) AS f4
           FROM pq GROUP BY doc_id),
         cents AS (SELECT doc_id AS cent_id, f1 AS e1, f2 AS e2, f3 AS e3, f4 AS e4
           FROM feat WHERE doc_id < 40),
         asg AS (SELECT c.doc_id AS c_id, c.f1, c.f2, c.f3, c.f4, cent_id,
             row_number() OVER (PARTITION BY c.doc_id
               ORDER BY ${cos4Sql("f", "e")} DESC, cent_id) AS rn
           FROM feat c, cents),
         lists AS (SELECT c_id, f1, f2, f3, f4, cent_id AS list_id
           FROM asg WHERE rn = 1),
         qs AS (SELECT doc_id AS q_id, f1 AS g1, f2 AS g2, f3 AS g3, f4 AS g4
           FROM feat WHERE doc_id % 100 = 0),
         qp AS (SELECT q_id, g1, g2, g3, g4, cent_id,
             row_number() OVER (PARTITION BY q_id
               ORDER BY ${cos4Sql("g", "e")} DESC, cent_id) AS rn
           FROM qs, cents),
         probes AS (SELECT q_id, g1, g2, g3, g4, cent_id AS list_id
           FROM qp WHERE rn <= 4),
         sc AS (SELECT q_id, c_id, ${cos4Sql("g", "f")} AS cos
           FROM probes JOIN lists USING (list_id) WHERE q_id <> c_id),
         r AS (SELECT q_id, c_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
           FROM sc),
         ivf AS (SELECT q_id, rank, c_id, cos FROM r WHERE rank <= 2),
         bp AS (SELECT qs.q_id, c.doc_id AS c_id, ${cos4Sql("g", "f")} AS cos
           FROM qs, feat c WHERE c.doc_id <> qs.q_id),
         br AS (SELECT q_id, c_id,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
           FROM bp),
         brute AS (SELECT q_id, c_id FROM br WHERE rank <= 2)
         SELECT ivf.q_id AS query_id, CAST(ivf.rank AS INT) AS rank,
           ivf.c_id AS neighbor_id, ivf.cos AS cosine,
           (brute.c_id IS NOT NULL) AS in_brute
         FROM ivf LEFT JOIN brute
           ON ivf.q_id = brute.q_id AND ivf.c_id = brute.c_id
         ORDER BY query_id, rank"""))
  )

  // ------------------------------------------- segments & n-grams (round 5)

  val segments: Seq[QueryDef] = Seq(

    // Sub-document (paragraph-granularity) dedup: fixed 20-word segments
    // (the fixtures carry no '\n\n' separators), segment frequency by
    // hash-partitioned groupBy, equi-join back — the C4/RefinedWeb
    // paragraph-dedup shape, linear in corpus tokens.
    QueryDef("q_segment_dedup",
      (s, dir) => Text.segmentDedupStats(t(s, dir, "documents"), "text", "doc_id", 20)
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS wds FROM documents),
         seg AS (SELECT doc_id,
             unnest(list_transform(range(0, CAST(ceil(len(wds) / 20.0) AS BIGINT)),
               i -> array_to_string(wds[i*20+1 : i*20+20], ' '))) AS segment
           FROM w),
         f AS (SELECT segment, COUNT(DISTINCT doc_id) AS ndocs FROM seg GROUP BY 1)
         SELECT s.doc_id, COUNT(*) AS n_segments,
           CAST(SUM(CASE WHEN f.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments
         FROM seg s JOIN f ON s.segment = f.segment
         GROUP BY 1 ORDER BY 1""")),

    // Duplicate-segment REMOVAL + order-preserving rebuild
    // (Text.dedupSegmentsRewrite): segments shared by more than 2 docs
    // are cut corpus-wide and every document is re-assembled from its
    // surviving segments in original order — the RefinedWeb line-dedup
    // rewrite (q_segment_dedup only AUDITS; this one edits the corpus).
    // The md5 of each rebuilt text pins byte-exact reconstruction against
    // DuckDB's string_agg(… ORDER BY pos) restatement.
    QueryDef("q_segment_dedup_rewrite",
      (s, dir) => Text.dedupSegmentsRewrite(
          t(s, dir, "documents"), "text", "doc_id", words = 4, maxDocs = 2)
        .select(col("doc").as("doc_id"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"),
          length(col("clean_text")).cast(LongType).as("n_chars"))
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS wds
             FROM documents),
         seg AS (SELECT doc_id,
             unnest(range(0, CAST(ceil(len(wds)/4.0) AS BIGINT))) AS pos,
             unnest(list_transform(range(0, CAST(ceil(len(wds)/4.0) AS BIGINT)),
               i -> array_to_string(wds[i*4+1 : i*4+4], ' '))) AS segment
           FROM w),
         f AS (SELECT segment, COUNT(DISTINCT doc_id) AS ndocs
             FROM seg GROUP BY 1),
         kept AS (SELECT s.doc_id, s.pos, s.segment
             FROM seg s JOIN f USING (segment) WHERE f.ndocs <= 2)
         SELECT doc_id, COUNT(*) AS n_kept,
             md5(string_agg(segment, ' ' ORDER BY pos)) AS clean_md5,
             CAST(length(string_agg(segment, ' ' ORDER BY pos)) AS BIGINT)
               AS n_chars
           FROM kept GROUP BY 1
         ORDER BY doc_id""")),

    // Markup-strip + whitespace-collapse + casefold normalization: tags are
    // SYNTHESIZED deterministically (wrap + bold every ' table ') so the
    // strip pass has real work, and the `roundtrip` flag asserts in-band
    // that normalize(htmlize(text)) == text for every row.  Pure per-row
    // expression chain — the no-shuffle shape of a corpus cleanup pass.
    QueryDef("q_normalize_text",
      (s, dir) => {
        val html = concat(lit("<p>"),
          expr("replace(text, ' table ', ' <b>table</b> ')"), lit("</p>"))
        t(s, dir, "documents")
          .select(col("doc_id"), col("text"), Text.normalizeMarkup(html).as("norm"))
          .select(col("doc_id"), md5(col("norm")).as("norm_md5"),
            length(col("norm")).cast(LongType).as("n_chars"),
            when(col("norm") === col("text"), 1).otherwise(0).as("roundtrip"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (SELECT doc_id,
             '<p>' || replace(text, ' table ', ' <b>table</b> ') || '</p>' AS html
           FROM documents),
         n AS (SELECT doc_id,
             lower(trim(regexp_replace(regexp_replace(html, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g'))) AS norm
           FROM h)
         SELECT n.doc_id, md5(n.norm) AS norm_md5,
           CAST(length(n.norm) AS BIGINT) AS n_chars,
           CASE WHEN n.norm = d.text THEN 1 ELSE 0 END AS roundtrip
         FROM n JOIN documents d ON n.doc_id = d.doc_id
         ORDER BY n.doc_id""")),

    // Corpus-level top-k bigrams: Generate (pipelined) → one hash agg with
    // map-side partials → TakeOrderedAndProject.  Deterministic tie-break
    // on the bigram string.
    QueryDef("q_top_bigrams",
      (s, dir) => Text.topBigrams(t(s, dir, "documents"), "text", 20),
      Some("""WITH w AS (SELECT string_split(trim(text), ' ') AS wds FROM documents),
         b AS (SELECT unnest(list_transform(range(1, len(wds)), i -> wds[i] || ' ' || wds[i+1])) AS bigram FROM w)
         SELECT bigram, COUNT(*) AS n FROM b GROUP BY 1
         ORDER BY n DESC, bigram LIMIT 20""")),

    // PMI collocations: bigrams beating their independence prediction —
    // the multiword-term miner beside raw-frequency q_top_bigrams.  Both
    // totals (bigrams B, tokens T) and all counts are exact BIGINTs; the
    // ln is 9-dp-rounded under a fixed parenthesization on both engines.
    QueryDef("q_pmi_bigrams",
      (s, dir) => Text.pmiCollocations(t(s, dir, "documents"), "text",
        minCount = 5, topK = 30),
      Some("""WITH w AS (SELECT string_split(trim(text), ' ') AS wds FROM documents),
         b AS (SELECT unnest(list_transform(range(1, len(wds)),
             i -> wds[i] || ' ' || wds[i+1])) AS bigram FROM w),
         bc AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n_xy FROM b GROUP BY 1),
         bt AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS t_bi FROM bc),
         u AS (SELECT unnest(wds) AS wrd FROM w),
         uc AS (SELECT wrd, CAST(COUNT(*) AS BIGINT) AS c FROM u GROUP BY 1),
         ut AS (SELECT CAST(SUM(c) AS BIGINT) AS t_tok FROM uc),
         f AS (SELECT bigram, n_xy, string_split(bigram, ' ')[1] AS x,
             string_split(bigram, ' ')[2] AS y FROM bc WHERE n_xy >= 5)
         SELECT bigram, n_xy, ux.c AS c_x, uy.c AS c_y,
           round(ln((n_xy / t_bi) / ((ux.c / t_tok) * (uy.c / t_tok))), 9) AS pmi
         FROM f JOIN uc ux ON f.x = ux.wrd JOIN uc uy ON f.y = uy.wrd, bt, ut
         ORDER BY pmi DESC, bigram LIMIT 30""")),

    // Unigram surprisal (corpus-conditional LM quality proxy): mean
    // −log2 P(w) against the corpus unigram model — boilerplate low,
    // gibberish high; the perplexity-filter stand-in.  Per-term 9 dp
    // rounding before a decimal sum keeps libm log differences out of the
    // hash (charEntropy discipline).
    QueryDef("q_unigram_surprisal",
      (s, dir) => Text.unigramSurprisal(t(s, dir, "documents"), "doc_id", "text")
        .filter(col("doc_id") < 200).orderBy("doc_id"),
      Some(s"""WITH tk AS (SELECT doc_id, unnest($toks) AS w FROM documents),
         t2 AS (SELECT doc_id, w FROM tk WHERE length(w) > 0),
         m AS (SELECT w, COUNT(*) AS wf FROM t2 GROUP BY w),
         tot AS (SELECT COUNT(*) AS c FROM t2),
         terms AS (SELECT doc_id, round(-log2(CAST(wf AS DOUBLE) / c), 9) AS term
           FROM t2 JOIN m USING (w), tot)
         SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE) AS surprisal_bits_sum
         FROM terms WHERE doc_id < 200 GROUP BY 1 ORDER BY 1""")),

    // DSIR importance log-weights (Xie et al. NeurIPS'23): per-doc
    // log2 p_target/p_raw under add-1-smoothed unigram models — target =
    // English docs, raw = everything.  The selection signal behind
    // importance-resampled pre-training mixes; one token-level aggregation
    // builds BOTH models (the target count is a conditional sum in the
    // same groupBy), 9-dp-rounded decimal summation keeps the per-doc
    // total order-insensitive and engine-exact.
    QueryDef("q_dsir_weights",
      (s, dir) => Text.dsirLogWeights(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en")
        .filter(col("doc_id") < 200).orderBy("doc_id"),
      Some(s"""WITH tk AS (SELECT doc_id, lang, unnest($toks) AS w FROM documents),
         t2 AS (SELECT doc_id, (lang = 'en') AS tgt, w FROM tk WHERE length(w) > 0),
         m AS (SELECT w, COUNT(*) AS rf,
             SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS tf FROM t2 GROUP BY w),
         tot AS (SELECT SUM(rf) AS rn, SUM(tf) AS tn, COUNT(*) AS v FROM m),
         terms AS (SELECT doc_id,
             round(log2((tf + 1) / (tn + v)) - log2((rf + 1) / (rn + v)), 9) AS term
           FROM t2 JOIN m USING (w), tot)
         SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE) AS log_weight_bits
         FROM terms WHERE doc_id < 200 GROUP BY 1 ORDER BY 1""")),

    // CCNet perplexity filter: add-1-smoothed char-bigram LM trained on
    // the English rows, every doc scored by total −log2 P(c2|c1).  The
    // character-TRANSITION complement to the unigram models above.
    QueryDef("q_lm_bigram_score",
      (s, dir) => Text.bigramLmScore(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en")
        .filter(col("doc_id") < 200).orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, text AS t, (lang = 'en') AS tgt FROM documents),
         g AS (SELECT doc_id, tgt,
             unnest(list_transform(range(1, length(t)),
               i -> substring(t, CAST(i AS INT), 2))) AS big
           FROM d),
         pm AS (SELECT big, COUNT(*) AS n2 FROM g WHERE tgt GROUP BY 1),
         cm AS (SELECT substring(big, 1, 1) AS c1, COUNT(*) AS n1
           FROM g WHERE tgt GROUP BY 1),
         vv AS (SELECT COUNT(DISTINCT substring(big, 2, 1)) AS v FROM g WHERE tgt),
         terms AS (SELECT doc_id,
             round(-log2((COALESCE(n2, 0) + 1) / (COALESCE(n1, 0) + v)), 9) AS term
           FROM g LEFT JOIN pm USING (big)
             LEFT JOIN cm ON cm.c1 = substring(g.big, 1, 1), vv)
         SELECT doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE) AS nll_bits
         FROM terms WHERE doc_id < 200 GROUP BY 1 ORDER BY 1""")),

    // BPE pair statistics (tokenizer induction, round-0 argmax table):
    // adjacent-character pair frequencies weighted by word frequency — the
    // statistic every `Text.bpeTrain` round takes its merge decision from.
    // Corpus-sized explode once (word freqs), then everything runs on the
    // VOCAB-sized table; the full iterative trainer (bpeTrain/bpeApply,
    // argmax + native-fold merge rounds) is spec-verified against a
    // sequential reference implementation in TextSpec.
    QueryDef("q_bpe_pairs",
      (s, dir) => Text.bpePairCounts(
          Text.wordFreqs(t(s, dir, "documents"), "text")
            .select(split(col("word"), "").as("syms"), col("f")))
        .orderBy(col("freq").desc, col("pair")).limit(20),
      Some("""WITH w AS (SELECT unnest(str_split(trim(text), ' ')) AS word FROM documents),
         wf AS (SELECT word, COUNT(*) AS f FROM w WHERE length(word) > 0 GROUP BY word),
         p AS (SELECT substr(word, CAST(i AS INT), 1) || ' ' || substr(word, CAST(i AS INT) + 1, 1) AS pair, f
           FROM wf, unnest(range(1, length(word))) AS t(i))
         SELECT pair, CAST(SUM(f) AS BIGINT) AS freq
         FROM p GROUP BY 1 ORDER BY freq DESC, pair LIMIT 20""")),

    // The FULL batched BPE trainer on the oracle board (the r12 verdict's
    // spec-only gap): 12 sequential-BPE merge rounds generated as
    // MATERIALIZED DuckDB CTEs — greedy leftmost non-overlapping merge is
    // exactly what string replace() does over a '<sym>'-wrapped word
    // encoding (safe: fixture words are pure [a-z]+, asserted in-query) —
    // while Spark runs the BATCHED trainer; the driver round-trip count
    // must beat one-per-merge or the require refuses, so both the merge
    // TABLE (oracle) and the batching CLAIM (require) are checked.
    QueryDef("q_bpe_train_batched",
      (s, dir) => {
        val d = t(s, dir, "documents")
        require(d.select(explode(Text.tokens(col("text"))).as("w"))
            .filter(length(col("w")) > 0 && !col("w").rlike("^[a-z]+$"))
            .isEmpty,
          "q_bpe_train_batched: the '<sym>' oracle encoding needs [a-z]+ words")
        val (merges, rounds) = Text.bpeTrainBatched(d, "text", 12, batchK = 6)
        require(merges.size <= 1 || rounds < merges.size,
          s"q_bpe_train_batched: batching must beat one driver round-trip " +
            s"per merge — took $rounds rounds for ${merges.size} merges")
        s.createDataFrame(merges.zipWithIndex.map { case ((a, b), i) =>
          (i + 1, a, b)
        }).toDF("merge_idx", "a", "b").orderBy("merge_idx")
      },
      Some(bpeSeqSql(12))),

    // N-gram novelty: the share of a doc's distinct shingles seen NOWHERE
    // else (corpus df = 1) — the memorization-risk complement of
    // contamination scoring (low novelty ⇒ doc is made of boilerplate).
    // Same (doc, shingle) relation + df aggregation as the dedup family.
    QueryDef("q_novelty",
      (s, dir) => {
        val rel = Text.shingleRows(t(s, dir, "documents"), "text", "doc_id")
          .withColumnRenamed("__sh", "sh")
        val dfc = rel.groupBy("sh").agg(countDistinct("doc").as("df"))
        rel.join(dfc, Seq("sh"))
          .groupBy(col("doc").as("doc_id"))
          .agg(count(lit(1)).as("n_shingles"),
            lsum((col("df") === 1).cast("int")).as("n_novel"))
          .withColumn("novelty", col("n_novel") / col("n_shingles"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tokd AS (SELECT doc_id AS doc, $toks AS t FROM documents
             WHERE len($toks) >= 3),
         shd AS (SELECT doc, unnest(list_distinct(list_transform(range(1, len(t) - 1),
             i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS sh FROM tokd),
         dfc AS (SELECT sh, COUNT(DISTINCT doc) AS df FROM shd GROUP BY 1)
         SELECT doc AS doc_id, COUNT(*) AS n_shingles,
           CAST(SUM(CAST(dfc.df = 1 AS INT)) AS BIGINT) AS n_novel,
           CAST(SUM(CAST(dfc.df = 1 AS INT)) AS BIGINT) / COUNT(*) AS novelty
         FROM shd JOIN dfc USING (sh) GROUP BY 1 ORDER BY 1""")),

    // Vocabulary coverage: what share of all corpus tokens the top-k most
    // frequent terms cover (the stat that sizes a tokenizer vocab).  BOUND
    // FIRST (TakeOrderedAndProject to k rows), then the cumulative window
    // runs over the k-row frame — partitioned by a literal, so the
    // global-window guardrail stays intact and the single task holds k
    // rows, never the vocabulary.
    QueryDef("q_vocab_coverage",
      (s, dir) => {
        val terms = t(s, dir, "documents")
          .select(explode(Text.tokens(col("text"))).as("term"))
          .groupBy("term").agg(count(lit(1)).as("n"))
        val total = terms.agg(lsum(col("n")).as("__total"))
        val top = Relational.topK(terms, 20, col("n").desc, col("term"))
        val w = Window.partitionBy(lit(0)).orderBy(col("n").desc, col("term"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        top.crossJoin(total)
          .withColumn("cum_n", sum("n").over(w).cast("long"))
          .withColumn("coverage", col("cum_n") / col("__total"))
          .drop("__total")
          .orderBy(col("n").desc, col("term"))
      },
      Some(s"""WITH tk AS (SELECT unnest($toks) AS term FROM documents),
         tc AS (SELECT term, COUNT(*) AS n FROM tk GROUP BY 1),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM tc),
         top AS (SELECT term, n FROM tc ORDER BY n DESC, term LIMIT 20),
         c AS (SELECT term, n,
             CAST(SUM(n) OVER (ORDER BY n DESC, term
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
           FROM top)
         SELECT term, n, cum_n, cum_n / (SELECT total FROM tot) AS coverage
         FROM c ORDER BY n DESC, term"""))
  )

  // ------------------------------------- corpus assembly ops (round 5b)

  /** Shared near-dup cluster pipeline: bands → band-bucket candidates →
    * shingle-Jaccard verify (≥ 0.2) → min-label components.  ONE definition
    * of the cluster semantics for q_dedup_clusters AND q_split_leakage_safe
    * — a threshold or band-scheme change edits exactly here (and its SQL
    * mirror [[componentsSql]]). */
  private def nearDupComponents(d: org.apache.spark.sql.DataFrame) = {
    val pairs = Text.verifiedPairs(d, "text", "doc_id",
        Text.minhashCandidates(Text.minhashBands(d, "text", "doc_id")), 0.2)
      .select("doc_a", "doc_b")
    Graph.connectedComponents(pairs, "doc_a", "doc_b")
  }

  /** Recursive-CTE mirror of [[nearDupComponents]] — yields `lab(id,
    * label)`; prepend `WITH RECURSIVE`. */
  private val componentsSql: String =
    s"""$bandsSql,
       cand AS (SELECT DISTINCT a.doc AS doc_a, b2.doc AS doc_b
         FROM bk a JOIN bk b2 ON a.band = b2.band AND a.band_key = b2.band_key AND a.doc < b2.doc),
       tk AS (SELECT doc, list_distinct(sh) AS tk FROM shd),
       pairs AS (SELECT c.doc_a, c.doc_b
         FROM cand c JOIN tk ta ON ta.doc = c.doc_a JOIN tk tb ON tb.doc = c.doc_b
         WHERE round(CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
             / (len(ta.tk) + len(tb.tk) - len(list_intersect(ta.tk, tb.tk))), 6) >= 0.2),
       e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         UNION SELECT doc_b, doc_a FROM pairs),
       reach AS (SELECT src AS id, dst AS r FROM e
         UNION SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src),
       lab AS (SELECT id, LEAST(id, MIN(r)) AS label FROM reach GROUP BY id)"""

  /** Unrolled synchronous-LPA rounds over the `e(u, v)` edge CTE —
    * ≡ Graph.labelPropagation (most-frequent neighbor label, min
    * tie-break), `l$rounds(node, label)` as the final relation. */
  private def lpaSql(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""r$r AS (SELECT e.u, l.label, COUNT(*) AS c
           FROM e JOIN l${r - 1} l ON l.node = e.v GROUP BY 1, 2),
         b$r AS (SELECT u AS node, label FROM (SELECT u, label,
             row_number() OVER (PARTITION BY u ORDER BY c DESC, label) AS rk
           FROM r$r) WHERE rk = 1),
         l$r AS (SELECT l${r - 1}.node, COALESCE(b$r.label, l${r - 1}.label) AS label
           FROM l${r - 1} LEFT JOIN b$r USING (node))"""
    }.mkString(",\n         ")

  /** Sequential BPE trainer as generated DuckDB SQL — `numMerges` chained
    * MATERIALIZED rounds (CTEs re-evaluate per reference otherwise; the
    * chain references each stage ~3×, which un-materialized explodes
    * 3^rounds).  Words are encoded as '<sym>' runs so DuckDB's plain
    * `replace()` — left-to-right, non-overlapping — IS the greedy
    * leftmost BPE merge, and '<a><b>' boundaries are exact because
    * fixture words are pure [a-z]+ (the Spark side asserts that).
    * Mirrors Text.bpeTrain: argmax by (freq DESC, pair), stop below
    * freq 2; an empty round leaves the table unchanged so every later
    * round is empty too. */
  private def bpeSeqSql(numMerges: Int): String = {
    val w0 = """w0 AS MATERIALIZED (SELECT regexp_replace(word, '(.)', '<\1>', 'g') AS wr,
         CAST(COUNT(*) AS BIGINT) AS f
       FROM (SELECT unnest(str_split(trim(text), ' ')) AS word FROM documents)
       WHERE length(word) > 0 GROUP BY 1)"""
    val rounds = (1 to numMerges).flatMap { i =>
      Seq(
        s"""m$i AS MATERIALIZED (SELECT pr FROM (
           SELECT pr, SUM(f) AS freq FROM (
             SELECT unnest(list_transform(range(1, len(s)),
                 j -> s[CAST(j AS INT)] || ' ' || s[CAST(j AS INT) + 1])) AS pr, f
             FROM (SELECT str_split(trim(wr, '<>'), '><') AS s, f FROM w${i - 1}))
           GROUP BY 1 HAVING SUM(f) >= 2)
           ORDER BY freq DESC, pr LIMIT 1)""",
        s"""w$i AS MATERIALIZED (SELECT
           CASE WHEN (SELECT COUNT(*) FROM m$i) = 0 THEN wr
           ELSE replace(wr, '<' || replace((SELECT pr FROM m$i), ' ', '><') || '>',
                        '<' || replace((SELECT pr FROM m$i), ' ', '') || '>') END AS wr,
           f FROM w${i - 1})""")
    }
    val union = (1 to numMerges)
      .map(i => s"SELECT CAST($i AS INT) AS merge_idx, pr FROM m$i")
      .mkString("\n         UNION ALL ")
    s"""WITH ${(w0 +: rounds).mkString(",\n       ")},
       mm AS ($union)
       SELECT merge_idx, split_part(pr, ' ', 1) AS a, split_part(pr, ' ', 2) AS b
       FROM mm ORDER BY merge_idx"""
  }

  val corpus: Seq[QueryDef] = Seq(

    // COMMUNITIES, not components: deterministic sync LPA over the same
    // verified near-dup pair graph — where one stray bridge pair would
    // make CC chain two unrelated dense clusters into one, LPA keeps the
    // dense cores apart (GraphSpec pins exactly that contrast).
    QueryDef("q_lpa_communities",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val pairs = Text.verifiedPairs(d, "text", "doc_id",
            Text.minhashCandidates(Text.minhashBands(d, "text", "doc_id")), 0.2)
          .select("doc_a", "doc_b")
        val lab = Graph.labelPropagation(pairs, "doc_a", "doc_b", rounds = 3)
        val sizes = lab.groupBy("label").agg(count(lit(1)).as("community_size"))
        lab.join(sizes, "label")
          .select(col("node").as("doc_id"), col("label").as("community"),
            col("community_size"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $bandsSql,
         cand AS (SELECT DISTINCT a.doc AS doc_a, b2.doc AS doc_b
           FROM bk a JOIN bk b2 ON a.band = b2.band AND a.band_key = b2.band_key AND a.doc < b2.doc),
         tk AS (SELECT doc, list_distinct(sh) AS tk FROM shd),
         pairs AS (SELECT c.doc_a, c.doc_b
           FROM cand c JOIN tk ta ON ta.doc = c.doc_a JOIN tk tb ON tb.doc = c.doc_b
           WHERE round(CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
               / (len(ta.tk) + len(tb.tk) - len(list_intersect(ta.tk, tb.tk))), 6) >= 0.2),
         e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs),
         l0 AS (SELECT DISTINCT u AS node, u AS label FROM e),
         ${lpaSql(3)},
         sz AS (SELECT label, COUNT(*) AS community_size FROM l3 GROUP BY 1)
         SELECT l3.node AS doc_id, l3.label AS community, sz.community_size
         FROM l3 JOIN sz USING (label) ORDER BY doc_id""")),

    // Near-dup CLUSTERS: connected components over the verified pair graph
    // (min-label propagation; Graph.connectedComponents) — the transitive-
    // closure step that turns MinHash pairs into keep/drop decisions.
    // Keeping one doc per PAIR over-deletes (A≈B, B≈C drops B twice and can
    // empty the cluster); per-COMPONENT canonical selection is the form
    // every production dedup pipeline ships.  Oracle: the same fixpoint via
    // a recursive reachability CTE.
    QueryDef("q_dedup_clusters",
      (s, dir) => {
        val lab = nearDupComponents(t(s, dir, "documents"))
        val sizes = lab.groupBy("label").agg(count(lit(1)).as("cluster_size"))
        lab.join(sizes, "label")
          .select(col("id").as("doc_id"), col("label").as("cluster"),
            when(col("id") === col("label"), 1).otherwise(0).as("is_canonical"),
            col("cluster_size"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $componentsSql,
         cs AS (SELECT label, COUNT(*) AS cluster_size FROM lab GROUP BY 1)
         SELECT lab.id AS doc_id, lab.label AS cluster,
           CASE WHEN lab.id = lab.label THEN 1 ELSE 0 END AS is_canonical,
           cs.cluster_size
         FROM lab JOIN cs USING (label) ORDER BY doc_id""")),

    // Canonical-by-QUALITY selection per near-dup cluster (the production
    // dedup policy: keep the longest/best member, not the smallest id) —
    // a partitioned rank over the cluster label, deterministic tie-break.
    QueryDef("q_dedup_best",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val lab = nearDupComponents(d).withColumnRenamed("id", "doc_id")
        d.join(lab, "doc_id")
          .select(col("doc_id"), col("label").as("cluster"), col("n_chars"),
            row_number().over(Window.partitionBy("label")
              .orderBy(col("n_chars").desc, col("doc_id"))).as("rk"))
          .filter(col("rk") === 1)
          .select(col("cluster"), col("doc_id").as("keep_id"), col("n_chars"))
          .orderBy("cluster")
      },
      Some(s"""WITH RECURSIVE $componentsSql,
         j AS (SELECT lab.label AS cluster, d.doc_id, d.n_chars,
             CAST(row_number() OVER (PARTITION BY lab.label
               ORDER BY d.n_chars DESC, d.doc_id) AS INT) AS rk
           FROM lab JOIN documents d ON d.doc_id = lab.id)
         SELECT cluster, doc_id AS keep_id, n_chars
         FROM j WHERE rk = 1 ORDER BY cluster""")),

    // Concat-and-chunk sequence packing (GPT-pretraining layout): per-source
    // running token sum → fixed 64-token chunk spans, integer-exact.
    QueryDef("q_pack_chunks",
      (s, dir) => Text.packChunks(t(s, dir, "documents"), "source", "doc_id",
          size(Text.tokens(col("text"))), budget = 64)
        .orderBy("source", "doc_id"),
      Some(s"""WITH tk AS (SELECT source, doc_id,
             CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         c AS (SELECT source, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
           FROM tk)
         SELECT source, doc_id, n_tokens,
           CAST((e - n_tokens) // 64 AS BIGINT) AS first_chunk,
           CAST(GREATEST(e - 1, e - n_tokens) // 64 AS BIGINT) AS last_chunk,
           CAST(GREATEST(e - 1, e - n_tokens) // 64
             - (e - n_tokens) // 64 + 1 AS BIGINT) AS n_chunks
         FROM c ORDER BY source, doc_id""")),

    // Mixture re-weighting: per-language target rates (a tiny broadcast dim)
    // applied through the key-hash keep predicate — one scan, zero shuffles
    // before the final count.  The pretraining-mix re-weighting shape.
    QueryDef("q_mixture_sample",
      (s, dir) => {
        val rates = s.createDataFrame(Seq(
          ("en", 900), ("de", 600), ("es", 400), ("fr", 300), ("zh", 200)))
          .toDF("lang", "pm")
        t(s, dir, "documents")
          .join(broadcast(rates), Seq("lang"))
          .filter(Text.mixtureKeep(col("doc_id"), col("pm")))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_kept"), lsum(col("n_chars")).as("chars_kept"))
          .orderBy("lang")
      },
      Some(s"""WITH r(lang, pm) AS (VALUES ('en', 900), ('de', 600), ('es', 400), ('fr', 300), ('zh', 200))
         SELECT d.lang, COUNT(*) AS n_kept, CAST(SUM(d.n_chars) AS BIGINT) AS chars_kept
         FROM documents d JOIN r ON d.lang = r.lang
         WHERE ${th("CAST(doc_id AS VARCHAR)")} % 1000 < r.pm
         GROUP BY 1 ORDER BY 1""")),

    // Fixed-k deterministic per-group sample: row_number over the md5-hex
    // key order inside each source — a reproducible "k exemplars per
    // source" pull (eyeball sets, eval slices) that no seed-based sample
    // gives under AQE/retries.  One shuffle on the group key; k rows kept
    // per group at the window, so nothing downstream sees the full corpus.
    QueryDef("q_sample_fixed_k",
      (s, dir) => {
        val h = Text.hashOrderKey(col("doc_id"))
        t(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            row_number().over(Window.partitionBy("source").orderBy(h, col("doc_id"))).as("rn"))
          .filter(col("rn") <= 3)
          .orderBy("source", "rn")
      },
      Some("""WITH r AS (SELECT source, doc_id,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 15), doc_id) AS INT) AS rn
           FROM documents)
         SELECT source, doc_id, rn FROM r WHERE rn <= 3 ORDER BY source, rn""")),

    // Weighted sample without replacement (A-ES): top-k by u^(1/w) with a
    // multiplicative-hash uniform — pure BIGINT arithmetic both engines
    // compute identically, ranked by ln(u)/w.  Selection is one
    // TakeOrderedAndProject (per-partition heap, k rows to the driver);
    // longer docs (w = n_chars) are proportionally likelier.  The rank key
    // itself is never emitted: ln differs across engines in the last ulp,
    // comparisons don't care but hashes would.
    QueryDef("q_sample_weighted",
      (s, dir) => Text.sampleWeighted(
          t(s, dir, "documents").select("doc_id", "n_chars"),
          "doc_id", col("n_chars"), 25)
        .orderBy("doc_id"),
      Some("""WITH u AS (SELECT doc_id, n_chars,
             ((doc_id % 2654435761) * 2654435761 % 4294967296 + 0.5) / 4294967296.0 AS uu
           FROM documents),
         s AS (SELECT doc_id, n_chars FROM u
           ORDER BY ln(uu) / n_chars DESC, doc_id LIMIT 25)
         SELECT doc_id, n_chars FROM s ORDER BY doc_id""")),

    // Sliding-window chunking with overlap (window 32, stride 24 → 8-token
    // overlap): the RAG/context-window layout.  Shuffle-free — one Generate
    // per doc, chunk spans from per-row arithmetic alone.
    QueryDef("q_chunk_overlap",
      (s, dir) => Text.chunkOverlap(t(s, dir, "documents"), "text", "doc_id",
          window = 32, stride = 24)
        .orderBy("doc_id", "chunk_id"),
      Some(s"""WITH d AS (SELECT doc_id, $toks AS t FROM documents),
         k AS (SELECT doc_id, t,
             1 + (GREATEST(len(t) - 32, 0) + 23) // 24 AS k FROM d),
         c AS (SELECT doc_id, t, unnest(range(0, k)) AS chunk_id FROM k)
         SELECT doc_id, chunk_id, CAST(chunk_id * 24 AS BIGINT) AS start_tok,
           CAST(len(list_slice(t, chunk_id * 24 + 1, chunk_id * 24 + 32)) AS BIGINT) AS n_tok,
           md5(array_to_string(list_slice(t, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ')) AS chunk_hash
         FROM c ORDER BY doc_id, chunk_id""")),

    // Leakage-safe train/val/test split: the split unit is the near-dup
    // CLUSTER, not the document — near-duplicates land in the SAME split by
    // construction, so eval can't score memorized training text.  Docs in no
    // cluster split by their own id (the degenerate singleton cluster).
    QueryDef("q_split_leakage_safe",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val lab = nearDupComponents(d).withColumnRenamed("id", "doc_id")
        d.join(lab, Seq("doc_id"), "left")
          .select(col("doc_id"), col("label").isNotNull.as("in_cluster"),
            Text.splitLabel(coalesce(col("label"), col("doc_id"))).as("split"))
          .groupBy("split", "in_cluster").agg(count(lit(1)).as("n_docs"))
          .orderBy("split", "in_cluster")
      },
      Some(s"""WITH RECURSIVE $componentsSql,
         u AS (SELECT d.doc_id, lab.label IS NOT NULL AS in_cluster,
             ${th("CAST(COALESCE(lab.label, d.doc_id) AS VARCHAR)")} % 1000 AS h
           FROM documents d LEFT JOIN lab ON lab.id = d.doc_id)
         SELECT CASE WHEN h < 800 THEN 'train' WHEN h < 900 THEN 'val' ELSE 'test' END AS split,
           in_cluster, COUNT(*) AS n_docs
         FROM u GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Deterministic global training order (the corpus "shuffle"): hash-shard
    // then order within shards by the padded (hash, id) key; global position
    // via two-stage offsets — per-shard row_number + broadcast shard offsets,
    // NEVER a partition-less window.  Key-stable: a document keeps its
    // position across reruns, and the order is as good as random for
    // curriculum purposes (md5 is uncorrelated with content).
    QueryDef("q_shuffle_order",
      (s, dir) => {
        val h = Text.tokenHash(col("doc_id").cast("string"))
        val keyed = t(s, dir, "documents").select(col("doc_id"),
          pmod(h, lit(8)).cast("int").as("shard"),
          concat(lpad(conv(h, 10, 16), 16, "0"), lit("-"),
            lpad(col("doc_id").cast("string"), 12, "0")).as("__k"))
        Relational.withGlobalRowOffsets(keyed, "shard", "__k")
          .select(col("doc_id"), col("shard"), col("global_row"))
          .orderBy("global_row")
      },
      Some(s"""WITH h AS (SELECT doc_id, ${th("CAST(doc_id AS VARCHAR)")} AS hv FROM documents)
         SELECT doc_id, CAST(hv % 8 AS INT) AS shard,
           row_number() OVER (ORDER BY hv % 8, hv, doc_id) AS global_row
         FROM h ORDER BY global_row""")),

    // Stride-scheduled epoch order: every source spread EXACTLY evenly
    // across the epoch (key (2r-1)/2n), the deterministic upgrade over the
    // statistical mixing of q_shuffle_order.
    QueryDef("q_stride_interleave",
      (s, dir) => Text.strideInterleave(t(s, dir, "documents"), "doc_id", "source")
        .orderBy("stride_key", "source"),
      Some("""WITH h AS (SELECT doc_id, source,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS hv FROM documents),
         r AS (SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rank_in_source,
             COUNT(*) OVER (PARTITION BY source) AS sz
           FROM h)
         SELECT doc_id, source, rank_in_source,
           (2.0 * rank_in_source - 1.0) / (2.0 * sz) AS stride_key
         FROM r ORDER BY stride_key, source""")),

    // Incremental dedup: a NEW batch (doc_id ≡ 0 mod 3) deduped against the
    // EXISTING corpus (the rest) — the production shape for growing corpora:
    // exact drop via anti-join on the text hash, near-dup drop via the
    // batch-side×index-side band equi-join + Jaccard verify.  No batch×batch
    // comparison (in-batch dups are the separate q_dedup_* path).
    QueryDef("q_dedup_incremental",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val isBatch = pmod(col("doc_id"), lit(3)) === 0
        val batch = d.filter(isBatch)
        val indexKeys = d.filter(!isBatch)
          .select(Text.exactKey(col("text")).as("__xk")).distinct()
        val exactKept = batch.withColumn("__xk", Text.exactKey(col("text")))
          .join(indexKeys, Seq("__xk"), "left_anti")
        val bands = Text.minhashBands(d, "text", "doc_id")
        val cand = bands.filter(pmod(col("doc"), lit(3)) === 0)
          .select(col("doc").as("doc_a"), col("band"), col("band_key"))
          .join(bands.filter(pmod(col("doc"), lit(3)) =!= 0)
            .select(col("doc").as("doc_b"), col("band"), col("band_key")),
            Seq("band", "band_key"))
          .select("doc_a", "doc_b").distinct()
        val nearDup = Text.verifiedPairs(d, "text", "doc_id", cand, 0.2)
          .select(col("doc_a").as("doc_id")).distinct()
        exactKept.join(nearDup, Seq("doc_id"), "left_anti")
          .groupBy("lang").agg(count(lit(1)).as("n_new"))
          .orderBy("lang")
      },
      Some(s"""WITH $bandsSql,
         bidx AS (SELECT DISTINCT md5(lower(trim(text))) AS k FROM documents WHERE doc_id % 3 <> 0),
         ex AS (SELECT d.doc_id, d.lang FROM documents d
           WHERE d.doc_id % 3 = 0
             AND md5(lower(trim(d.text))) NOT IN (SELECT k FROM bidx)),
         cand AS (SELECT DISTINCT a.doc AS doc_a, b2.doc AS doc_b
           FROM bk a JOIN bk b2 ON a.band = b2.band AND a.band_key = b2.band_key
           WHERE a.doc % 3 = 0 AND b2.doc % 3 <> 0),
         tk AS (SELECT doc, list_distinct(sh) AS tk FROM shd),
         nd AS (SELECT DISTINCT c.doc_a
           FROM cand c JOIN tk ta ON ta.doc = c.doc_a JOIN tk tb ON tb.doc = c.doc_b
           WHERE round(CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
               / (len(ta.tk) + len(tb.tk) - len(list_intersect(ta.tk, tb.tk))), 6) >= 0.2)
         SELECT lang, COUNT(*) AS n_new FROM ex
         WHERE doc_id NOT IN (SELECT doc_a FROM nd)
         GROUP BY 1 ORDER BY 1""")),

    // Cross-source vocabulary overlap matrix: Jaccard of the distinct-token
    // sets of every source pair.  The (source, token) relation has at most
    // ONE row per source per token, so the token self-join fans out to at
    // most |sources| rows per key — bounded, never quadratic in the corpus.
    // The mix-design diagnostic (how much does source B add over A?).
    QueryDef("q_vocab_overlap",
      (s, dir) => {
        val vt = t(s, dir, "documents")
          .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
          .distinct()
        val sizes = vt.groupBy("source").agg(count(lit(1)).as("n"))
        val ov = vt.select(col("source").as("source_a"), col("tok"))
          .join(vt.select(col("source").as("source_b"), col("tok")), Seq("tok"))
          .filter(col("source_a") < col("source_b"))
          .groupBy("source_a", "source_b").agg(count(lit(1)).as("inter"))
        ov.join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("__na"))), Seq("source_a"))
          .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("__nb"))), Seq("source_b"))
          .select(col("source_a"), col("source_b"), col("inter"),
            round(col("inter").cast("double") / (col("__na") + col("__nb") - col("inter")), 6).as("jaccard"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""WITH vt AS (SELECT DISTINCT source, tok FROM
             (SELECT source, unnest($toks) AS tok FROM documents)),
         sz AS (SELECT source, COUNT(*) AS n FROM vt GROUP BY 1),
         ov AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS inter
           FROM vt a JOIN vt b ON a.tok = b.tok AND a.source < b.source GROUP BY 1, 2)
         SELECT ov.source_a, ov.source_b, ov.inter,
           round(CAST(ov.inter AS DOUBLE) / (sa.n + sb.n - ov.inter), 6) AS jaccard
         FROM ov JOIN sz sa ON sa.source = ov.source_a
                 JOIN sz sb ON sb.source = ov.source_b
         ORDER BY 1, 2""")),

    // Robust per-source length outliers (median/MAD): the heavy-tail-proof
    // quality gate.  Exact percentiles here; percentile_approx at corpus
    // scale (same plan shape, sketch aggregation).
    QueryDef("q_outlier_mad",
      (s, dir) => Quality.robustOutliers(t(s, dir, "documents"), "source", "n_chars")
        .select(col("source"), round(col("med"), 6).as("med"),
          round(col("mad"), 6).as("mad"), col("n"), col("n_outliers"))
        .orderBy("source"),
      Some("""WITH m AS (SELECT source, quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med
           FROM documents GROUP BY 1),
         d2 AS (SELECT d.source, CAST(d.n_chars AS DOUBLE) AS v, m.med
           FROM documents d JOIN m USING (source)),
         md AS (SELECT source, quantile_cont(abs(v - med), 0.5) AS mad FROM d2 GROUP BY 1),
         j AS (SELECT d2.source, d2.v, d2.med, md.mad FROM d2 JOIN md USING (source))
         SELECT source, round(med, 6) AS med, round(mad, 6) AS mad,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN abs(v - med) > 3 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM j GROUP BY source, med, mad ORDER BY source""")),

    // Per-source token BUDGET cut (absolute counts, vs q_mixture_sample's
    // proportional rates): docs taken in hash order until the source's
    // 2000-token budget fills — the way pretraining mixes are specified.
    QueryDef("q_token_budget",
      (s, dir) => Text.takeTokenBudget(t(s, dir, "documents"), "source", "doc_id",
          size(Text.tokens(col("text"))), budget = 2000)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), lsum(col("n_tokens")).as("n_tokens"))
        .orderBy("source"),
      Some(s"""WITH tk AS (SELECT source, doc_id,
             CAST(len($toks) AS BIGINT) AS nt,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS hk
           FROM documents),
         r AS (SELECT source, nt,
             SUM(nt) OVER (PARTITION BY source ORDER BY hk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM tk)
         SELECT source, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens
         FROM r WHERE cum <= 2000 GROUP BY 1 ORDER BY 1""")),

    // Snapshot diff between two lake generations (regression gate between
    // pipeline runs): old = docs with id%7≠0, new = docs with id%11≠0 and
    // text revised for id%5=0 — classify every key, count per status.
    QueryDef("q_snapshot_diff",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val oldSnap = d.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        val newSnap = d.filter(pmod(col("doc_id"), lit(11)) =!= 0)
          .withColumn("text", when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
        Relational.snapshotDiff(oldSnap, newSnap, Seq("doc_id"), Seq("text", "lang"))
          .groupBy("status").agg(count(lit(1)).as("n"))
          .orderBy("status")
      },
      Some("""WITH o AS (SELECT doc_id, md5(concat_ws(chr(1), text, lang)) AS sig
           FROM documents WHERE doc_id % 7 <> 0),
         nw AS (SELECT doc_id, md5(concat_ws(chr(1),
             CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END, lang)) AS sig
           FROM documents WHERE doc_id % 11 <> 0),
         j AS (SELECT o.sig AS osig, nw.sig AS nsig
           FROM o FULL OUTER JOIN nw ON o.doc_id = nw.doc_id)
         SELECT CASE WHEN osig IS NULL THEN 'added'
             WHEN nsig IS NULL THEN 'removed'
             WHEN osig <> nsig THEN 'changed'
             ELSE 'unchanged' END AS status, COUNT(*) AS n
         FROM j GROUP BY 1 ORDER BY 1""")),

    // Cluster-separation audit: per label, members' mean cosine to their
    // OWN centroid vs the best foreign centroid — the margin that says
    // when an embedding clustering (or IVF coarse quantizer) went stale.
    QueryDef("q_cluster_separation",
      (s, dir) => {
        graft.functions.GraftFunctions.ensureRegistered(s)
        Vector.clusterSeparation(t(s, dir, "embeddings"),
          "vec_id", "label", "embedding")
      },
      Some(s"""WITH ex AS (SELECT label AS grp, i - 1 AS dim,
             CAST(embedding[i] AS DOUBLE) AS v
           FROM embeddings, unnest(range(1, 65)) AS t(i)),
         c AS (SELECT grp, dim,
             CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS v
           FROM ex GROUP BY 1, 2),
         ca AS (SELECT grp, array_agg(v ORDER BY dim) AS cv FROM c GROUP BY 1),
         m AS (SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS mv
           FROM embeddings),
         p AS (SELECT m.vec_id, m.label, ca.grp,
             ${cosSql("mv", "cv", 64)} AS cos FROM m, ca),
         s AS (SELECT vec_id, label,
             MAX(CASE WHEN grp = label THEN cos END) AS self_cos,
             MAX(CASE WHEN grp <> label THEN cos END) AS best_other
           FROM p GROUP BY 1, 2),
         g AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(self_cos AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
               AS mean_self,
             CAST(SUM(CAST(best_other AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
               AS mean_other
           FROM s GROUP BY 1)
         SELECT label, n, mean_self, mean_other,
           mean_self - mean_other AS margin
         FROM g ORDER BY label""")),

    // Label-centroid pairwise cosines (embedding-space drift/coverage
    // diagnostic).  Decimal-quantized sums make the statistic independent
    // of accumulation order — bit-reproducible across engines and runs.
    QueryDef("q_centroid_dist",
      (s, dir) => Vector.centroidCosines(
          Vector.centroidRelation(t(s, dir, "embeddings"), "label", "embedding"))
        .select(col("grp_a").as("label_a"), col("grp_b").as("label_b"), col("cos_sim"))
        .orderBy("label_a", "label_b"),
      Some("""WITH ex AS (SELECT label AS grp, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
             FROM embeddings, unnest(range(1, 65)) AS t(i)),
         c AS (SELECT grp, dim,
             CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS v
           FROM ex GROUP BY 1, 2),
         p AS (SELECT a.grp AS grp_a, b.grp AS grp_b,
             CAST(SUM(CAST(a.v * b.v AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(a.v * a.v AS DECIMAL(38,6))) AS DOUBLE) AS sx2,
             CAST(SUM(CAST(b.v * b.v AS DECIMAL(38,6))) AS DOUBLE) AS sy2
           FROM c a JOIN c b ON a.dim = b.dim AND a.grp < b.grp GROUP BY 1, 2)
         SELECT grp_a AS label_a, grp_b AS label_b,
           round(sxy / sqrt(sx2 * sy2), 6) AS cos_sim
         FROM p ORDER BY 1, 2""")),

    // END-TO-END corpus pipeline (the LLM-side flagship): quality gate →
    // exact-dedup survivors → mixture re-weight → sequence packing, one
    // lazy plan.  Composition is the point: every stage is an engine op
    // proven green on its own query; the whole chain still pushes the
    // 2-column projection to the scan and shuffles only where a stage
    // semantically must (dedup groupBy, packing window).  n_sequences per
    // source = final chunk index + 1 (the packing window's running sum),
    // ≡ ceil(total_tokens / 64) — the oracle states it arithmetically.
    QueryDef("q_corpus_pipeline",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val q = d.filter(size(Text.tokens(col("text"))) >= 5)
        val keep = Text.dedupExact(q, "text", "doc_id")
          .select(col("keep_id").as("doc_id"))
        val rates = s.createDataFrame(Seq(
          ("en", 900), ("de", 600), ("es", 400), ("fr", 300), ("zh", 200)))
          .toDF("lang", "pm")
        val m = q.join(keep, Seq("doc_id"), "left_semi")
          .join(broadcast(rates), Seq("lang"))
          .filter(Text.mixtureKeep(col("doc_id"), col("pm")))
        Text.packChunks(m, "source", "doc_id",
            size(Text.tokens(col("text"))), budget = 64)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), lsum(col("n_tokens")).as("n_tokens"),
            (max("last_chunk") + 1).cast(LongType).as("n_sequences"))
          .orderBy("source")
      },
      Some(s"""WITH base AS (SELECT doc_id, source, lang, text,
             CAST(len($toks) AS BIGINT) AS nt FROM documents),
         q AS (SELECT * FROM base WHERE nt >= 5),
         k AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5(lower(trim(text)))),
         r(lang, pm) AS (VALUES ('en', 900), ('de', 600), ('es', 400), ('fr', 300), ('zh', 200)),
         m AS (SELECT q.* FROM q JOIN r ON q.lang = r.lang
           WHERE q.doc_id IN (SELECT doc_id FROM k)
             AND ${th("CAST(doc_id AS VARCHAR)")} % 1000 < r.pm)
         SELECT source, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens,
           CAST((SUM(nt) - 1) // 64 + 1 AS BIGINT) AS n_sequences
         FROM m GROUP BY 1 ORDER BY 1"""))
  )

  val all: Seq[QueryDef] =
    textAnalysis ++ dedup ++ similarity ++ ivf ++ multimodal ++ segments ++ corpus
}
