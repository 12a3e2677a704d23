package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Lake
import graft.ops.{Classifier, Dedup, Index, LanguageModel, Layout, Linkage, Multimodal, Packing, Ranks, Sampling, Similarity, Snapshot, TextAnalysis, WebGraph}

/** Training-data pipeline operators over the `documents` and `embeddings`
  * tables: deduplication (exact / n-gram Jaccard / MinHash+LSH / SimHash /
  * embedding-cosine), similarity search (brute-force + IVF + LSH), text analysis
  * (language-ID, quality, tokens, fingerprints), and the multimodal decode
  * plumbing. See the ops objects for the scale rationale of each.
  */
object PipelineQueries {

  /** Shared oracle expression: the DuckDB mirror of
    * [[graft.ops.TextAnalysis.qualityScore]]. ONE copy feeding every
    * oracle that scores quality (q38/q45/q74) — a weight or stopword
    * change in the Scala side has exactly one SQL twin to update, so
    * the gates cannot silently diverge query-by-query. */
  private val QualitySqlExpr = """
        least(length(text) / 500.0, 1.0) * 0.5
          + CAST(len(list_filter(string_split(text, ' '),
              t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
            / greatest(len(string_split(text, ' ')), 1) * 2.0
          - CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
            / greatest(length(text), 1) * 1.0"""

  /** Shared fixture: deterministically derive PII-bearing text from
    * doc_id (emails for id%3, phones for id%5, IPv4 for id%7 — the
    * q08/q21 literal-fixture convention; the corpus itself is synthetic
    * and PII-free). Spark and SQL twins of the same construction, used
    * by q58 (scrub in isolation) and q79 (scrub inside the composed
    * pipeline). */
  private def piiTextCol: org.apache.spark.sql.Column =
    concat(
      col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" call 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), (col("doc_id") % 100).cast("string")))
        .otherwise(lit("")))

  private val PiiTextSqlExpr = """text ||
        CASE WHEN doc_id % 3 = 0
             THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
        CASE WHEN doc_id % 5 = 0
             THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             ELSE '' END ||
        CASE WHEN doc_id % 7 = 0
             THEN ' from 10.0.' || (doc_id % 256) || '.' || (doc_id % 100)
             ELSE '' END"""

  /** md5-nibble SQL helpers (the DuckDB hex→int idiom, q29 precedent) —
    * ONE copy feeding every oracle that rebuilds hash arithmetic
    * (q68/q73/q79), so a nibble-order change cannot drift per query. */
  private def nibSql(e: String, j: Int): String =
    s"(strpos('0123456789abcdef', substr($e, $j, 1)) - 1)"

  private[queries] def hexSql(e: String, digits: Int): String =
    (1 to digits).map(j => s"${nibSql(e, j)} * ${1L << (4 * (digits - j))}")
      .mkString("(", " + ", ")")

  /** Shared classifier-margin CTE chain — the SQL twin of
    * [[graft.ops.Classifier.marginTenths]], used by q68 (stage in
    * isolation) and q79 (inside the composed pipeline): tokens of
    * `textCol` in `srcCte` → hash bucket → integer-tenths weight →
    * per-doc margin `m` (bias included). */
  private def classifierMarginCtes(
      srcCte: String, textCol: String, dim: Int, biasTenths: Int,
      prefix: String = ""): String = s"""
      ${prefix}tok AS (SELECT doc_id, unnest(string_split($textCol, ' ')) AS tk
              FROM $srcCte),
      ${prefix}bkt AS (SELECT doc_id, ${hexSql("md5(tk)", 4)} % $dim AS bucket
              FROM ${prefix}tok),
      ${prefix}wt AS (SELECT doc_id,
               ${hexSql("md5('w' || CAST(bucket AS VARCHAR))", 2)} % 21 - 10
                 AS wgt
             FROM ${prefix}bkt),
      ${prefix}mg AS (SELECT doc_id, SUM(wgt) + $biasTenths AS m
             FROM ${prefix}wt GROUP BY doc_id)"""

  /** Shared oracle CTE: distinct 3-gram word shingles per document. */
  private val ShinglesCte = """
    w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM w, unnest(generate_series(1, len(ws) - 2)) AS t(i))"""

  /** Shared oracle CTE: embeddings as double vectors with L2 norms.
    * list_reduce folds left-to-right exactly like Spark's `aggregate`,
    * so the doubles are bit-identical across the two engines. */
  private val NormedCte = """
    e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    m AS (SELECT vec_id, label, v,
                 sqrt(list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b)) AS nrm
          FROM e)"""

  private def sqlDot(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), x -> x[1]*x[2]), (p,q) -> p+q)"

  // ---------------------------------------------------------------- q29
  /** 64-bit SimHash banded near-dup pairs. The Spark side runs the scale
    * path (16-bit band buckets → candidates → Hamming verify, never all
    * pairs); the oracle states the mathematical spec (all pairs with
    * Hamming ≤ 3). They are provably equal: 4 bands / ≤3 differing bits
    * leaves one clean band by pigeonhole — the hash gate checks that
    * equality on real data. 64-bit fingerprints with 16-bit bands are
    * deliberate: a 16-bit fingerprint saturates its buckets at a few
    * thousand docs, and 8-bit bands admit 27× the candidate pairs
    * (measured at sf0.1 — see Dedup.simhashPairs). */
  private val q29 = {
    val nibCols = (1 to 16).map(j =>
      s"strpos('0123456789abcdef', substr(hh, $j, 1)) - 1 AS n$j")
      .mkString(",\n        ")
    val sumCols = (0 until 64).map { i =>
      val nib = s"n${i / 4 + 1}"
      val shift = 3 - i % 4
      s"SUM(CASE WHEN (($nib >> $shift) & 1) = 1 THEN 1 ELSE -1 END) AS s$i"
    }.mkString(",\n        ")
    val bandCols = (0 until 4).map { b =>
      (0 until 16).map { k =>
        s"(CASE WHEN s${b * 16 + k} >= 0 THEN ${1 << (15 - k)} ELSE 0 END)"
      }.mkString(" + ") + s" AS b$b"
    }.mkString(",\n        ")
    val hamming = (0 until 4).map(b => s"bit_count(xor(a.b$b, b.b$b))").mkString(" + ")
    Q(
      "q29_dedup_simhash_pairs",
      (s, dir) => {
        val fp = Dedup.simhash64Bands(Lake(s, dir).documents, "doc_id", "text")
        Dedup.simhashPairs(fp, maxHamming = 3).orderBy("doc_a", "doc_b")
      },
      Some(s"""
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      h AS (SELECT doc_id, md5(word) AS hh FROM tok),
      nib AS (SELECT doc_id,
        $nibCols
        FROM h),
      s AS (SELECT doc_id,
        $sumCols
        FROM nib GROUP BY doc_id),
      fp AS (SELECT doc_id,
        $bandCols
        FROM s)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST($hamming AS INTEGER) AS hamming
      FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      WHERE $hamming <= 3
      ORDER BY doc_a, doc_b""")
    )
  }

  // ---------------------------------------------------------------- q30
  /** Exact dedup: hash-groupBy on content (one shuffle on the hash). */
  private val q30 = Q(
    "q30_dedup_exact",
    (s, dir) =>
      Dedup.exact(Lake(s, dir).documents, "doc_id", "text")
        .select("doc_id", "content_hash", "canonical_id")
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id, md5(text) AS content_hash,
        MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
      FROM documents ORDER BY doc_id""")
  )

  // ---------------------------------------------------------------- q31
  /** Near-dup detection by exact Jaccard over an inverted shingle index —
    * candidate pairs share >= 1 shingle; never an all-pairs join. */
  private val q31 = Q(
    "q31_dedup_ngram_jaccard",
    (s, dir) => {
      val sh = Dedup.shingles(Lake(s, dir).documents, "doc_id", "text", 3)
      Dedup.jaccardPairs(sh, 0.8).orderBy("doc_a", "doc_b")
    },
    Some(s"""
      WITH $ShinglesCte,
      cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, n_common, ca.n AS n_a, cb.n AS n_b,
        CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) AS jaccard
      FROM common
      JOIN cnt ca ON doc_a = ca.doc_id
      JOIN cnt cb ON doc_b = cb.doc_id
      WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.8
      ORDER BY doc_a, doc_b""")
  )

  /** Shared q32/q54 oracle fragments: 16 minhash signature columns and the
    * 4-band key selects over a `sig` CTE. */
  private val SigCols = (0 until 16)
    .map(i => s"min(md5('$i:' || shingle)) AS h$i").mkString(",\n        ")
  private val BandSelects = (0 until 4).map { b =>
    val hs = (0 until 4).map(r => s"h${b * 4 + r}").mkString(" || '|' || ")
    s"SELECT doc_id, $b AS band_idx, md5($hs) AS band_key FROM sig"
  }.mkString("\n        UNION ALL ")

  // ---------------------------------------------------------------- q32
  /** MinHash(16) + LSH(4 bands × 4 rows) with exact-Jaccard verification of
    * candidates only. Band keys are md5s — the candidate join cannot skew. */
  private val q32 = {
    val sigCols = SigCols
    val bandSelects = BandSelects
    Q(
      "q32_dedup_minhash_lsh",
      (s, dir) => {
        val sh = Dedup.shingles(Lake(s, dir).documents, "doc_id", "text", 3)
        Dedup.minhashDedup(sh, 0.8).orderBy("doc_a", "doc_b")
      },
      Some(s"""
      WITH $ShinglesCte,
      sig AS (SELECT doc_id,
        $sigCols
        FROM sh GROUP BY doc_id),
      bands AS (
        $bandSelects),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id),
      cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      common AS (
        SELECT doc_a, doc_b, COUNT(*) AS c
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.doc_a
        JOIN sh sb ON sb.doc_id = cand.doc_b AND sb.shingle = sa.shingle
        GROUP BY doc_a, doc_b)
      SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jaccard
      FROM common
      JOIN cnt ca ON doc_a = ca.doc_id
      JOIN cnt cb ON doc_b = cb.doc_id
      WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.8
      ORDER BY doc_a, doc_b""")
    )
  }

  // ---------------------------------------------------------------- q33
  /** 16-bit SimHash fingerprints + fingerprint-cluster sizes. */
  private val q33 = {
    val sumCols = (1 to 16).map(j =>
      s"SUM(CASE WHEN substr(hh, $j, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s$j")
      .mkString(",\n        ")
    val bitConcat = (1 to 16).map(j => s"(CASE WHEN s$j >= 0 THEN '1' ELSE '0' END)")
      .mkString(" || ")
    Q(
      "q33_dedup_simhash",
      (s, dir) => {
        val fp = Dedup.simhash16(Lake(s, dir).documents, "doc_id", "text")
        fp.withColumn("cluster_size",
            count(lit(1)).over(Window.partitionBy("simhash")))
          .orderBy("doc_id")
      },
      Some(s"""
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      h AS (SELECT doc_id, md5(word) AS hh FROM tok),
      s AS (SELECT doc_id,
        $sumCols
        FROM h GROUP BY doc_id)
      SELECT doc_id, $bitConcat AS simhash,
        COUNT(*) OVER (PARTITION BY $bitConcat) AS cluster_size
      FROM s ORDER BY doc_id""")
    )
  }

  // ---------------------------------------------------------------- q34
  /** Embedding near-dup pairs, blocked by label (the blocking key bounds the
    * pair join — an LSH bucket or IVF cluster id plays this role at scale). */
  private val q34 = Q(
    "q34_dedup_embedding_cosine",
    (s, dir) =>
      Similarity.blockedNearDupPairs(
        Lake(s, dir).embeddings, "vec_id", "embedding", "label", 0.35)
        .orderBy("id_a", "id_b"),
    Some(s"""
      WITH $NormedCte
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS block,
        ${sqlDot("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
      FROM m a JOIN m b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE ${sqlDot("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.35
      ORDER BY id_a, id_b""")
  )

  // ---------------------------------------------------------------- q35
  /** Brute-force exact top-5 cosine neighbors for queries vec_id < 8. */
  private val q35 = Q(
    "q35_ann_bruteforce",
    (s, dir) => {
      val corpus = Similarity.withNorm(Lake(s, dir).embeddings, "vec_id", "embedding")
      val queries = corpus.filter(col("vec_id") < 8)
      Similarity.bruteForceTopK(corpus, queries, 5)
        .select("query_id", "neighbor_id", "cos", "rank")
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH $NormedCte
      SELECT query_id, neighbor_id, cos, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          ${sqlDot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY ${sqlDot("q.v", "c.v")} / (q.nrm * c.nrm) DESC, c.vec_id) AS rank
        FROM m q JOIN m c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 8)
      WHERE rank <= 5
      ORDER BY query_id, rank""")
  )

  // --------------------------------------------------------------- q139
  /** Int8 scalar-quantized ANN ([[graft.ops.Similarity.quantizeInt8]] +
    * `quantizedTopK`): codes in [−127,127] with per-vector max-abs
    * scale, ranked by the EXACT integer code dot product
    * ([[graft.functions.LongDotProduct]], codegen'd) rescaled through
    * one fixed float chain. The oracle quantizes identically in SQL —
    * round() half-away ties match across engines on the shared binary
    * doubles — so the hash gate pins the full quantize→rank algebra,
    * not just the top-k ids. */
  private val q139 = Q(
    "q139_ann_quantized",
    (s, dir) => {
      val qz = Similarity.quantizeInt8(Lake(s, dir).embeddings, "vec_id", "embedding")
      Similarity.quantizedTopK(qz, qz.filter(col("vec_id") < 8), 5)
        .select("query_id", "neighbor_id", "qdot", "qcos", "rank")
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH e AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
      m AS (SELECT vec_id, v,
              sqrt(${sqlDot("v", "v")}) AS nrm,
              list_reduce(list_transform(v, x -> abs(x)),
                (a, b) -> greatest(a, b)) AS ma
            FROM e),
      qz AS (SELECT vec_id, nrm, ma,
              CASE WHEN ma = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                   ELSE list_transform(v,
                     x -> CAST(round((x * 127.0) / ma) AS BIGINT)) END AS code
            FROM m),
      pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          ${sqlDot("q.code", "c.code")} AS qdot,
          q.ma * c.ma AS ss, q.nrm * c.nrm AS nn
        FROM qz q JOIN qz c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 8),
      scored AS (
        SELECT query_id, neighbor_id, CAST(qdot AS BIGINT) AS qdot,
          (CAST(qdot AS DOUBLE) * ss) / (16129.0 * nn) AS qcos
        FROM pairs),
      ranked AS (
        SELECT query_id, neighbor_id, qdot, qcos,
          row_number() OVER (PARTITION BY query_id
            ORDER BY qcos DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, neighbor_id, qdot, qcos, rank
      FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank""")
  )

  // --------------------------------------------------------------- q143
  /** Product quantization end to end ([[graft.ops.Similarity.pqCodebooks]]
    * → `pqEncode` → `pqTopK`): 64-dim vectors → 4 subspaces × 16-entry
    * codebooks (seed-vector slices, the q36 deterministic-codebook
    * convention) → 4 one-byte codes per vector → ADC top-5 where each
    * candidate costs 4 table lookups and 3 adds, never vector math. The
    * oracle replays codebook build, argmin encode, distance table and
    * the fixed-order ADC sum — the strict-fold cell distances
    * ([[graft.functions.SquaredDistance]] ↔ list_reduce) keep every
    * float bit-equal. */
  private val q143 = Q(
    "q143_ann_pq",
    (s, dir) => {
      val corpus = Similarity.withNorm(Lake(s, dir).embeddings, "vec_id", "embedding")
      val cb = Similarity.pqCodebooks(corpus, m = 4, dsub = 16)
      val codes = Similarity.pqEncode(corpus, cb, m = 4, dsub = 16)
      val queries = corpus.filter(col("vec_id") < 8).select("vec_id", "v")
      Similarity.pqTopK(codes, queries, cb, k = 5, m = 4, dsub = 16)
        .select("query_id", "neighbor_id", "adist", "rank")
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH e AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
      cb AS MATERIALIZED (
        SELECT t.j AS sub, vec_id AS code,
          list_slice(v, t.j * 16 + 1, t.j * 16 + 16) AS cent
        FROM e, (VALUES (0), (1), (2), (3)) t(j)
        WHERE vec_id < 16),
      scored AS MATERIALIZED (
        SELECT e.vec_id, cb.sub, cb.code,
          list_reduce(list_transform(
            list_zip(list_slice(e.v, cb.sub * 16 + 1, cb.sub * 16 + 16),
              cb.cent),
            x -> (x[1] - x[2]) * (x[1] - x[2])), (p, q) -> p + q) AS d2
        FROM e CROSS JOIN cb),
      enc AS MATERIALIZED (
        SELECT vec_id,
          MAX(CASE WHEN sub = 0 THEN code END) AS code_0,
          MAX(CASE WHEN sub = 1 THEN code END) AS code_1,
          MAX(CASE WHEN sub = 2 THEN code END) AS code_2,
          MAX(CASE WHEN sub = 3 THEN code END) AS code_3
        FROM (SELECT vec_id, sub, code,
                row_number() OVER (PARTITION BY vec_id, sub
                  ORDER BY d2, code) AS rn
              FROM scored)
        WHERE rn = 1 GROUP BY vec_id),
      dt AS MATERIALIZED (
        SELECT vec_id AS query_id, sub, code, d2
        FROM scored WHERE vec_id < 8),
      pairs AS (
        SELECT t0.query_id, c.vec_id AS neighbor_id,
          ((t0.d2 + t1.d2) + t2.d2) + t3.d2 AS adist
        FROM enc c
        JOIN dt t0 ON t0.sub = 0 AND t0.code = c.code_0
        JOIN dt t1 ON t1.query_id = t0.query_id
          AND t1.sub = 1 AND t1.code = c.code_1
        JOIN dt t2 ON t2.query_id = t0.query_id
          AND t2.sub = 2 AND t2.code = c.code_2
        JOIN dt t3 ON t3.query_id = t0.query_id
          AND t3.sub = 3 AND t3.code = c.code_3
        WHERE t0.query_id <> c.vec_id),
      ranked AS (
        SELECT query_id, neighbor_id, adist,
          row_number() OVER (PARTITION BY query_id
            ORDER BY adist, neighbor_id) AS rank
        FROM pairs)
      SELECT query_id, neighbor_id, adist, rank
      FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank""")
  )

  // ---------------------------------------------------------------- q36
  /** IVF oracle SQL, shared by q36 (derive-from-scratch) and q98 (the
    * persisted-index serving path): the assignment is deterministic, so
    * both engines land on the same mathematical result regardless of
    * whether the Spark side round-tripped the index through parquet. */
  private val IvfTopkSql = s"""
      WITH $NormedCte,
      cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM m WHERE vec_id < 16),
      assigned AS (
        SELECT vec_id, v, nrm, cid AS cluster_id FROM (
          SELECT c.vec_id, c.v, c.nrm, cent.cid,
            row_number() OVER (PARTITION BY c.vec_id
              ORDER BY ${sqlDot("c.v", "cent.cv")} / (c.nrm * cent.cn) DESC, cent.cid) AS rn
          FROM m c CROSS JOIN cent)
        WHERE rn = 1),
      probes AS (
        SELECT vec_id AS query_id, v AS qv, nrm AS qn, cid AS cluster_id FROM (
          SELECT q.vec_id, q.v, q.nrm, cent.cid,
            row_number() OVER (PARTITION BY q.vec_id
              ORDER BY ${sqlDot("q.v", "cent.cv")} / (q.nrm * cent.cn) DESC, cent.cid) AS rn
          FROM m q CROSS JOIN cent WHERE q.vec_id < 8)
        WHERE rn <= 2)
      SELECT query_id, neighbor_id, cos, rank FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
          ${sqlDot("p.qv", "a.v")} / (p.qn * a.nrm) AS cos,
          row_number() OVER (PARTITION BY p.query_id
            ORDER BY ${sqlDot("p.qv", "a.v")} / (p.qn * a.nrm) DESC, a.vec_id) AS rank
        FROM probes p JOIN assigned a USING (cluster_id)
        WHERE p.query_id != a.vec_id)
      WHERE rank <= 5
      ORDER BY query_id, rank"""

  /** IVF approximate top-5: 16 deterministic centroids (lowest vec_ids, a
    * k-means pass would slot in), queries probe their 2 nearest clusters. */
  private val q36 = Q(
    "q36_ann_ivf",
    (s, dir) => {
      val corpus = Similarity.withNorm(Lake(s, dir).embeddings, "vec_id", "embedding")
      val centroids = corpus.filter(col("vec_id") < 16)
      val queries = corpus.filter(col("vec_id") < 8)
      Similarity.ivfTopK(corpus, centroids, queries, k = 5, nProbe = 2)
        .select("query_id", "neighbor_id", "cos", "rank")
        .orderBy("query_id", "rank")
    },
    Some(IvfTopkSql)
  )

  // ---------------------------------------------------------------- q42
  /** LSH-bucketed approximate top-5 — the second ANN scale path (no
    * centroid pass): sign-hyperplane buckets + ≤2-bit multiprobe (the
    * production default; RecallProbe measured the recall cliff between
    * 1-bit and 2-bit probing). The hyperplanes AND the probe mask list
    * are generated from ONE Scala source into both the Spark plan and
    * this SQL, so the sign bits — and hence the buckets probed — are
    * identical by construction, not by float luck. */
  private val q42 = {
    val nPlanes = 8
    val dim = 64
    def planeList(p: Int): String =
      Similarity.hyperplane(p, dim).map(d => s"$d").mkString("[", ", ", "]")
    val bucketExpr = (0 until nPlanes).map { p =>
      s"(CASE WHEN ${sqlDot("v", planeList(p))} >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")
    val masks = (0 until nPlanes).map(p => 1 << p) ++
      (for { p <- 0 until nPlanes; q <- (p + 1) until nPlanes } yield (1 << p) | (1 << q))
    val probeList = ("bucket" +: masks.map(m => s"xor(bucket, $m)"))
      .mkString("[", ", ", "]")
    Q(
      "q42_ann_lsh",
      (s, dir) => {
        val corpus = Similarity.withNorm(Lake(s, dir).embeddings, "vec_id", "embedding")
        val queries = corpus.filter(col("vec_id") < 8)
        Similarity.lshTopK(corpus, queries, k = 5, nPlanes = nPlanes, dim = dim)
          .select("query_id", "neighbor_id", "cos", "rank")
          .orderBy("query_id", "rank")
      },
      Some(s"""
      WITH $NormedCte,
      b AS (SELECT vec_id, v, nrm, $bucketExpr AS bucket FROM m),
      probes AS (
        SELECT vec_id AS query_id, v AS qv, nrm AS qn,
               unnest($probeList) AS probe_bucket
        FROM b WHERE vec_id < 8)
      SELECT query_id, neighbor_id, cos, rank FROM (
        SELECT p.query_id, c.vec_id AS neighbor_id,
          ${sqlDot("p.qv", "c.v")} / (p.qn * c.nrm) AS cos,
          row_number() OVER (PARTITION BY p.query_id
            ORDER BY ${sqlDot("p.qv", "c.v")} / (p.qn * c.nrm) DESC, c.vec_id) AS rank
        FROM probes p JOIN b c ON c.bucket = p.probe_bucket
        WHERE p.query_id != c.vec_id)
      WHERE rank <= 5
      ORDER BY query_id, rank""")
    )
  }

  // ---------------------------------------------------------------- q37
  /** Language-ID scaffold: marker-token votes via broadcast lookup; argmax
    * per doc with deterministic tiebreak; no-hit docs → 'unknown'. */
  /** The q37/q174 lang-ID marker lexicon — ONE copy so the classifier
    * and its evaluation can never disagree on the model. */
  private val LangMarkers = Seq(
    "en" -> "the", "en" -> "a", "en" -> "is",
    "de" -> "der", "de" -> "die", "de" -> "und",
    "es" -> "el", "es" -> "la", "es" -> "los",
    "fr" -> "le", "fr" -> "les", "fr" -> "et",
    "zh" -> "的", "zh" -> "是", "zh" -> "了")

  private val LangMarkersSql =
    LangMarkers.map { case (l, w) => s"('$l','$w')" }.mkString(",")

  /** Shared lang-ID SQL chain: per-doc (true_lang, pred_lang). */
  private val LangIdCtes = s"""
      markers(cand_lang, word) AS (VALUES $LangMarkersSql),
      ltok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
               FROM documents),
      lscores AS (
        SELECT doc_id, cand_lang, COUNT(*) AS score
        FROM ltok JOIN markers USING (word)
        GROUP BY doc_id, cand_lang),
      lbest AS (
        SELECT doc_id, cand_lang, score FROM lscores
        QUALIFY row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, cand_lang) = 1),
      lpred AS (
        SELECT d.doc_id, d.lang AS true_lang,
               COALESCE(b.cand_lang, 'unknown') AS pred_lang,
               COALESCE(b.score, 0) AS score
        FROM documents d LEFT JOIN lbest b ON d.doc_id = b.doc_id)"""

  /** Spark twin of [[LangIdCtes]]: (doc_id, true_lang, pred_lang, score). */
  private def langIdFrame(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val docs = Lake(s, dir).documents
    val m = s.createDataFrame(LangMarkers).toDF("cand_lang", "word")
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val scores = tok.join(broadcast(m), Seq("word"))
      .groupBy("doc_id", "cand_lang").agg(count(lit(1)).as("score"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("cand_lang"))
    val best = scores.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    docs.select(col("doc_id"), col("lang").as("true_lang"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("true_lang"),
        coalesce(col("cand_lang"), lit("unknown")).as("pred_lang"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  private val q37 = {
    val markers = LangMarkers
    val valuesSql = LangMarkersSql
    Q(
      "q37_text_langid",
      (s, dir) => {
        val docs = Lake(s, dir).documents
        val m = s.createDataFrame(markers).toDF("cand_lang", "word")
        val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        val scores = tok.join(broadcast(m), Seq("word"))
          .groupBy("doc_id", "cand_lang").agg(count(lit(1)).as("score"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("cand_lang"))
        val best = scores.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        docs.select(col("doc_id"), col("lang").as("true_lang"))
          .join(best, Seq("doc_id"), "left")
          .select(col("doc_id"), col("true_lang"),
            coalesce(col("cand_lang"), lit("unknown")).as("pred_lang"),
            coalesce(col("score"), lit(0L)).as("score"))
          .orderBy("doc_id")
      },
      Some(s"""
      WITH markers(cand_lang, word) AS (VALUES $valuesSql),
      tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      scores AS (
        SELECT doc_id, cand_lang, COUNT(*) AS score
        FROM tok JOIN markers USING (word)
        GROUP BY doc_id, cand_lang),
      best AS (
        SELECT doc_id, cand_lang, score FROM scores
        QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang) = 1)
      SELECT d.doc_id, d.lang AS true_lang,
        COALESCE(b.cand_lang, 'unknown') AS pred_lang,
        COALESCE(b.score, 0) AS score
      FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
      ORDER BY d.doc_id""")
    )
  }

  // ---------------------------------------------------------------- q38
  /** Per-document quality metrics + composite score — pure codegen'd
    * expressions, no shuffle at all (scoring is embarrassingly parallel). */
  private val q38 = Q(
    "q38_text_quality",
    (s, dir) =>
      Lake(s, dir).documents.select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        TextAnalysis.wsTokenCount(col("text")).as("n_words"),
        TextAnalysis.avgWordLen(col("text")).as("avg_word_len"),
        TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality")
      ).orderBy("doc_id"),
    Some(s"""
      SELECT doc_id, length(text) AS n_chars,
        len(string_split(text, ' ')) AS n_words,
        CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
          / greatest(len(string_split(text, ' ')), 1) AS avg_word_len,
        CAST(len(list_filter(string_split(text, ' '),
            t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
          / greatest(len(string_split(text, ' ')), 1) AS stopword_ratio,
        CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
          / greatest(length(text), 1) AS punct_ratio,
        $QualitySqlExpr AS quality
      FROM documents ORDER BY doc_id""")
  )

  // ---------------------------------------------------------------- q44
  /** Corpus composition report — the "dataset card" aggregation every
    * training-data pipeline ends with: per (source, language) document
    * counts, volume, and exact-dedup uniqueness ratio. One shuffle on the
    * group key; the distinct-hash count is the per-stratum dedup rate. */
  private val q44 = Q(
    "q44_corpus_stats",
    (s, dir) =>
      Lake(s, dir).documents
        .groupBy("source", "lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(md5(col("text"))).as("n_unique"),
          (countDistinct(md5(col("text"))).cast("double") / count(lit(1)))
            .as("unique_ratio"))
        .orderBy("source", "lang"),
    Some("""
      SELECT source, lang, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        COUNT(DISTINCT md5(text)) AS n_unique,
        CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*) AS unique_ratio
      FROM documents GROUP BY source, lang ORDER BY source, lang""")
  )

  // ---------------------------------------------------------------- q45
  /** End-to-end curation decision — the operators composed the way a real
    * pipeline runs them: exact-dedup canonicality, quality threshold,
    * language allowlist, folded into one keep/drop verdict with the first
    * failing reason. Per-doc and shuffle-light (one window on the content
    * hash); the quality doubles are bit-identical across engines (q38), so
    * the threshold comparison cannot flake. */
  private val q45 = Q(
    "q45_curation_decision",
    (s, dir) => {
      val allow = Seq("en", "de", "es", "fr")
      val quality = TextAnalysis.qualityScore(col("text"))
      Lake(s, dir).documents
        .withColumn("canonical_id",
          min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
        .select(
          col("doc_id"),
          quality.as("quality"),
          when(col("doc_id") =!= col("canonical_id"), "duplicate")
            .when(quality < 0.5, "low_quality")
            .when(!col("lang").isInCollection(allow), "lang")
            .otherwise("keep").as("decision"))
        .withColumn("keep", (col("decision") === "keep").cast("int"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH scored AS (
        SELECT doc_id, lang,
          MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
          $QualitySqlExpr AS quality
        FROM documents)
      SELECT doc_id, quality,
        CASE WHEN doc_id <> canonical_id THEN 'duplicate'
             WHEN quality < 0.5 THEN 'low_quality'
             WHEN lang NOT IN ('en','de','es','fr') THEN 'lang'
             ELSE 'keep' END AS decision,
        CAST(CASE WHEN doc_id = canonical_id AND quality >= 0.5
                   AND lang IN ('en','de','es','fr')
             THEN 1 ELSE 0 END AS INTEGER) AS keep
      FROM scored ORDER BY doc_id""")
  )

  // ---------------------------------------------------------------- q39
  /** Token counting: whitespace tokens, BPE-ish pre-tokens, distinct words. */
  private val q39 = Q(
    "q39_text_tokens",
    (s, dir) =>
      Lake(s, dir).documents.select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        TextAnalysis.wsTokenCount(col("text")).as("n_ws_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish_tokens"),
        size(array_distinct(split(col("text"), " "))).as("n_distinct_words")
      ).orderBy("doc_id"),
    Some("""
      SELECT doc_id, length(text) AS n_chars,
        len(string_split(text, ' ')) AS n_ws_tokens,
        len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish_tokens,
        len(list_distinct(string_split(text, ' '))) AS n_distinct_words
      FROM documents ORDER BY doc_id""")
  )

  // ---------------------------------------------------------------- q40
  /** Document fingerprints: normalized-content md5 + order-insensitive
    * bag-of-words md5, with cluster sizes per content fingerprint. */
  private val q40 = Q(
    "q40_text_fingerprint",
    (s, dir) =>
      Lake(s, dir).documents.select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("content_fp"),
        TextAnalysis.bagFingerprint(col("text")).as("bag_fp"))
        .withColumn("bag_cluster_size",
          count(lit(1)).over(Window.partitionBy("bag_fp")))
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
        md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                ' +', ' ', 'g'))) AS content_fp,
        md5(array_to_string(list_sort(list_distinct(string_split(
          trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                              ' +', ' ', 'g')), ' '))), ' ')) AS bag_fp,
        COUNT(*) OVER (PARTITION BY md5(array_to_string(list_sort(list_distinct(string_split(
          trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                              ' +', ' ', 'g')), ' '))), ' '))) AS bag_cluster_size
      FROM documents ORDER BY doc_id""")
  )

  // ---------------------------------------------------------------- q41
  /** Multimodal metadata extraction: binary column + partition-wise decode
    * (real PNG/JPEG header parse; text blobs — non-image by construction,
    * both magics are non-ASCII — take the documented stub fallback the
    * oracle mirrors). */
  private val q41 = Q(
    "q41_multimodal_meta",
    (s, dir) => {
      val docs = Multimodal.asBinary(Lake(s, dir).documents, "text")
      Multimodal.decodeMeta(docs, "doc_id", "media").toDF().orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
        CAST(length(text) AS BIGINT) AS n_bytes,
        CASE length(text) % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
        CAST(length(text) % 512 + 1 AS BIGINT) AS width,
        CAST((length(text) // 7) % 512 + 1 AS BIGINT) AS height,
        ascii(substr(text, 1, 1)) AS first_byte
      FROM documents ORDER BY doc_id""")
  )

  // ---------------------------------------------------------------- q50
  /** Duplicate clusters: the near-dup PAIRS of q31 resolved into components
    * with a canonical representative (min doc id) via iterative min-label
    * propagation — the step a curation pass consumes. The oracle states
    * the same fixpoint declaratively as a DuckDB recursive CTE (labels
    * propagate along symmetrized edges until closure; min per node), so
    * the hash gate proves the iterative Spark loop reaches exactly the
    * transitive closure the recursion defines. */
  private val q50 = Q(
    "q50_dedup_clusters",
    (s, dir) => {
      val docs = Lake(s, dir).documents
      val pairs = Dedup.jaccardPairs(Dedup.shingles(docs, "doc_id", "text", 3), 0.8)
      Dedup.dupClusters(docs.select("doc_id"), pairs).orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE $ShinglesCte,
      cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN cnt ca ON doc_a = ca.doc_id
        JOIN cnt cb ON doc_b = cb.doc_id
        WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.8),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs),
      reach AS (
        SELECT doc_id AS node, doc_id AS label FROM documents
        UNION
        SELECT e.dst AS node, r.label
        FROM reach r JOIN edges e ON r.node = e.src),
      cc AS (SELECT node AS doc_id, MIN(label) AS cluster_id
             FROM reach GROUP BY node)
      SELECT doc_id, cluster_id,
             COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM cc ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q120
  /** The corpus-dedup pipeline CLOSED end-to-end: near-dup pairs →
    * connected components → best-member survivor per cluster
    * ([[graft.ops.Dedup.keepCanonical]]: longest text wins, doc_id breaks
    * ties deterministically). One row per cluster — this is the frame a
    * curation pass writes as the deduplicated corpus. The oracle extends
    * q50's recursive-CC chain with a QUALIFY row_number survivor pick. */
  private val q120 = Q(
    "q120_dedup_survivors",
    (s, dir) => {
      val docs = Lake(s, dir).documents
      val pairs = Dedup.jaccardPairs(Dedup.shingles(docs, "doc_id", "text", 3), 0.8)
      val clusters = Dedup.dupClusters(docs.select("doc_id"), pairs)
      Dedup.keepCanonical(clusters, docs.select("doc_id", "n_chars"), "n_chars")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE $ShinglesCte,
      cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN cnt ca ON doc_a = ca.doc_id
        JOIN cnt cb ON doc_b = cb.doc_id
        WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.8),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs),
      reach AS (
        SELECT doc_id AS node, doc_id AS label FROM documents
        UNION
        SELECT e.dst AS node, r.label
        FROM reach r JOIN edges e ON r.node = e.src),
      cc AS (SELECT node AS doc_id, MIN(label) AS cluster_id
             FROM reach GROUP BY node),
      sized AS (
        SELECT doc_id, cluster_id,
               COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM cc)
      SELECT s.doc_id, s.cluster_id, s.cluster_size,
             CAST(s.cluster_size - 1 AS BIGINT) AS n_dropped
      FROM sized s JOIN documents d ON d.doc_id = s.doc_id
      QUALIFY row_number() OVER (
        PARTITION BY s.cluster_id ORDER BY d.n_chars DESC, s.doc_id) = 1
      ORDER BY s.doc_id""")
  )

  // ---------------------------------------------------------------- q51
  /** Deterministic stratified sampling — the training-mix knob ("keep all
    * of src0, half of src1, a quarter of the rest") as a pure hash
    * predicate: a row's fate depends only on (doc_id, salt), so the sample
    * is reproducible across runs, engines and partitionings. The oracle
    * mirrors the exact md5-prefix string compare, proving the two engines
    * select the identical row set — the property that makes the split
    * auditable. */
  private val q51 = Q(
    "q51_sampling_stratified",
    (s, dir) =>
      Sampling.stratifiedSample(
        Lake(s, dir).documents.select("doc_id", "source", "lang"),
        keyCol = "doc_id", stratumCol = "source",
        rates = Map("src0" -> 1.0, "src1" -> 0.5), defaultRate = 0.25,
        salt = "mix1")
        .select("doc_id", "source", "lang")
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id, source, lang
      FROM documents
      WHERE substring(md5(CAST(doc_id AS VARCHAR) || 'mix1'), 1, 3) <
        CASE source WHEN 'src0' THEN 'g00' WHEN 'src1' THEN '800'
                    ELSE '400' END
      ORDER BY doc_id""")
  )

  // ---------------------------------------------------------------- q54
  /** Incremental dedup: docs ≥ 250 are the "new batch", deduped against
    * the persisted band index of docs < 250 via `Dedup.incrementalMinhash`
    * — only the batch is signed, corpus work is candidate-restricted. The
    * oracle states the equivalence that makes the increment correct: the
    * result must equal the FULL corpus MinHash answer (q32's SQL)
    * restricted to pairs touching the new batch. */
  private val q54 = Q(
    "q54_dedup_incremental",
    (s, dir) => {
      val docs = Lake(s, dir).documents
      // in production the corpus shingles/bands are parquet on disk; here
      // they are derived, so persist stands in for the storage layer
      // (three consumers: the band index, the verify join, the counts)
      val corpusSh = Dedup.shingles(docs.filter(col("doc_id") < 250), "doc_id", "text", 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val index = Dedup.lshBands(Dedup.minhashSignatures(corpusSh, 16), 4, 4)
      val newSh = Dedup.shingles(docs.filter(col("doc_id") >= 250), "doc_id", "text", 3)
      Dedup.incrementalMinhash(index, corpusSh, newSh, 0.8)
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""
      WITH $ShinglesCte,
      sig AS (SELECT doc_id,
        $SigCols
        FROM sh GROUP BY doc_id),
      bands AS (
        $BandSelects),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id),
      cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      common AS (
        SELECT doc_a, doc_b, COUNT(*) AS c
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.doc_a
        JOIN sh sb ON sb.doc_id = cand.doc_b AND sb.shingle = sa.shingle
        GROUP BY doc_a, doc_b)
      SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jaccard
      FROM common
      JOIN cnt ca ON doc_a = ca.doc_id
      JOIN cnt cb ON doc_b = cb.doc_id
      WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.8
        AND (doc_a >= 250 OR doc_b >= 250)
      ORDER BY doc_a, doc_b""")
  )

  // --------------------------------------------------------------- q333
  /** EXCHANGE-FREE incremental text dedup — q54's production loop with
    * the corpus re-shuffle deleted (the q327 mechanism, text twin):
    * the LSH band index persists BUCKETED on its band key
    * ([[graft.ops.Dedup.writeMinhashIndexBucketed]]) and the corpus
    * shingle store bucketed on doc_id
    * ([[graft.ops.Dedup.writeShingleStoreBucketed]]); the batch's bands
    * pay one AQE-reused repartition to the index's bucket spec and the
    * verify reaches corpus shingles through a broadcast semi-join on the
    * tiny candidate list — no corpus-sized exchange anywhere (PlanSpec
    * pins the shape). Same fixture split and ORACLE as q54: the bucketed
    * round trip must land on exactly the full-recompute answer
    * restricted to new-involving pairs. The gate's timed cost INCLUDES
    * the two compaction writes (bucketed index + shingle store, a
    * metastore commit each) that production pays once and amortizes —
    * the serving-time advantage of the exchange-free shape is what
    * BucketedDedupProbe measures. */
  private val q333 = Q(
    "q333_dedup_incremental_bucketed",
    (s, dir) => {
      val docs = Lake(s, dir).documents
      val tmp = java.nio.file.Files.createTempDirectory("graft-q333").toString
      graft.core.SilverWriter.deleteOnExit(tmp)
      val corpusSh = Dedup.shingles(
        docs.filter(col("doc_id") < 250), "doc_id", "text", 3)
      Dedup.writeMinhashIndexBucketed(
        Dedup.lshBands(Dedup.minhashSignatures(corpusSh, 16), 4, 4),
        "q333_b_index", s"$tmp/i", 8)
      Dedup.writeShingleStoreBucketed(corpusSh, "q333_b_sh", s"$tmp/s", 8)
      val newSh = Dedup.shingles(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", 3)
      Dedup.incrementalMinhashBucketed(
        s, "q333_b_index", "q333_b_sh", newSh, 0.8)
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""
      WITH $ShinglesCte,
      sig AS (SELECT doc_id,
        $SigCols
        FROM sh GROUP BY doc_id),
      bands AS (
        $BandSelects),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id),
      cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      common AS (
        SELECT doc_a, doc_b, COUNT(*) AS c
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.doc_a
        JOIN sh sb ON sb.doc_id = cand.doc_b AND sb.shingle = sa.shingle
        GROUP BY doc_a, doc_b)
      SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (ca.n + cb.n - c) AS jaccard
      FROM common
      JOIN cnt ca ON doc_a = ca.doc_id
      JOIN cnt cb ON doc_b = cb.doc_id
      WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.8
        AND (doc_a >= 250 OR doc_b >= 250)
      ORDER BY doc_a, doc_b""")
  )

  // ---------------------------------------------------------------- q55
  /** Benchmark decontamination: docs < 20 stand in for an eval suite;
    * corpus docs (≥ 20) sharing ≥ 2 distinct trigram shingles with it are
    * flagged with their overlap count. The benchmark shingle set is
    * broadcast — one corpus pass, no pair joins. */
  private val q55 = Q(
    "q55_decontamination",
    (s, dir) => {
      val docs = Lake(s, dir).documents
      val corpusSh = Dedup.shingles(docs.filter(col("doc_id") >= 20), "doc_id", "text", 3)
      val benchSh = Dedup.shingles(docs.filter(col("doc_id") < 20), "doc_id", "text", 3)
      Dedup.contamination(corpusSh, benchSh, minOverlap = 2).orderBy("doc_id")
    },
    Some(s"""
      WITH $ShinglesCte,
      bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20)
      SELECT s.doc_id, COUNT(*) AS n_overlap
      FROM sh s JOIN bench b ON s.shingle = b.shingle
      WHERE s.doc_id >= 20
      GROUP BY s.doc_id
      HAVING COUNT(*) >= 2
      ORDER BY doc_id""")
  )

  // ---------------------------------------------------------------- q56
  /** Sequence packing: documents chunked into 512-token training
    * sequences across 16 parallel bucket streams (concat-then-split
    * convention; the bucketed window is the scale path — no global
    * sort). Token counts are whitespace tokens, the q39 operator. */
  private val q56 = Q(
    "q56_sequence_packing",
    (s, dir) => {
      val docs = Lake(s, dir).documents
        .select(col("doc_id"), TextAnalysis.wsTokenCount(col("text")).as("n_tokens"))
      graft.ops.Packing.packSequences(docs, "doc_id", "n_tokens",
        budget = 512, buckets = 16)
        .select("doc_id", "n_tokens", "bucket", "tok_offset", "seq_id")
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               doc_id % 16 AS bucket
        FROM documents),
      o AS (
        SELECT doc_id, n_tokens, bucket,
               CAST(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id)
                    AS BIGINT) - n_tokens AS tok_offset
        FROM t)
      SELECT doc_id, n_tokens, bucket, tok_offset,
             CAST(bucket AS VARCHAR) || '-' ||
               CAST(CAST(floor(tok_offset / 512.0) AS BIGINT) AS VARCHAR) AS seq_id
      FROM o ORDER BY doc_id""")
  )

  // ---------------------------------------------------------------- q57
  /** Repetition metrics (Gopher-style quality rules): duplicate-word
    * fraction (pure expression) and most-frequent-bigram share (one
    * shuffle on (doc, bigram), doc-keyed max, total over the corpus). */
  private val q57 = Q(
    "q57_text_repetition",
    (s, dir) =>
      TextAnalysis.repetitionMetrics(Lake(s, dir).documents, "doc_id", "text")
        .orderBy("doc_id"),
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      base AS (
        SELECT doc_id, len(ws) AS n_words,
               1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) /
                     CAST(len(ws) AS DOUBLE) AS dup_word_frac,
               ws
        FROM w),
      bg AS (
        SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bigram
        FROM base, unnest(generate_series(1, len(ws) - 1)) AS t(i)),
      bc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
      tb AS (SELECT doc_id, MAX(c) AS top_c FROM bc GROUP BY 1)
      SELECT b.doc_id, CAST(b.n_words AS INTEGER) AS n_words, b.dup_word_frac,
             COALESCE(CAST(top_c AS DOUBLE) / (b.n_words - 1), 0.0)
               AS top_bigram_frac
      FROM base b LEFT JOIN tb USING (doc_id)
      ORDER BY doc_id""")
  )

  // ---------------------------------------------------------------- q58
  /** PII detection + redaction — the scrub pass every pretraining corpus
    * runs before anything else sees the text. The corpus is synthetic
    * (no real PII), so both engines derive the SAME pii-bearing text
    * deterministically from doc_id (emails for id%3, phones for id%5,
    * IPv4 for id%7 — the q08/q21 literal-fixture convention), then count
    * and redact with the shared patterns from [[TextAnalysis]] — ONE
    * Scala constant feeds the Spark plan and this SQL, so the regexes
    * cannot drift apart. Zero shuffle: scan → regex → project. */
  private val q58 = {
    import TextAnalysis.{EmailPattern, Ipv4Pattern, PhonePattern}
    val derivedSql = s"""
      p AS (SELECT doc_id, $PiiTextSqlExpr AS text
      FROM documents)"""
    Q(
      "q58_pii_redaction",
      (s, dir) => {
        val withPii = Lake(s, dir).documents.select(
          col("doc_id"), piiTextCol.as("text"))
        withPii.select(
          col("doc_id"),
          TextAnalysis.countMatches(col("text"), EmailPattern).as("n_emails"),
          TextAnalysis.countMatches(col("text"), PhonePattern).as("n_phones"),
          TextAnalysis.countMatches(col("text"), Ipv4Pattern).as("n_ips"),
          TextAnalysis.redactPii(col("text")).as("redacted"))
          .orderBy("doc_id")
      },
      Some(s"""
      WITH $derivedSql
      SELECT doc_id,
        len(regexp_extract_all(text, '$EmailPattern')) AS n_emails,
        len(regexp_extract_all(text, '$PhonePattern')) AS n_phones,
        len(regexp_extract_all(text, '$Ipv4Pattern')) AS n_ips,
        regexp_replace(regexp_replace(regexp_replace(text,
          '$EmailPattern', '<EMAIL>', 'g'),
          '$Ipv4Pattern', '<IP>', 'g'),
          '$PhonePattern', '<PHONE>', 'g') AS redacted
      FROM p ORDER BY doc_id""")
    )
  }

  // ---------------------------------------------------------------- q59
  /** Semantic dedup (SemDeDup): IVF-cluster the embedding space, find
    * ≥-threshold cosine pairs WITHIN clusters only, drop every vector
    * with a smaller-id near-duplicate (the paper's upper-triangular keep
    * rule; canonical_id is the audit attribution — see the semanticDedup
    * scaladoc for the chain-regime contract). Centroids are the q36
    * deterministic lowest-16 so the oracle can state the same
    * clustering; production swaps in kMeansCentroids without changing
    * the shape. The 0.35 threshold matches q34's (this corpus' vectors
    * are well spread); a real run at SemDeDup's tighter thresholds only
    * shrinks the pair set. */
  private val q59 = Q(
    "q59_semantic_dedup",
    (s, dir) => {
      val corpus = Similarity.withNorm(Lake(s, dir).embeddings, "vec_id", "embedding")
      val centroids = corpus.filter(col("vec_id") < 16)
      Similarity.semanticDedup(corpus, centroids, threshold = 0.35)
        .orderBy("vec_id")
    },
    Some(s"""
      WITH $NormedCte,
      cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM m WHERE vec_id < 16),
      assigned AS (
        SELECT vec_id, v, nrm, cid AS cluster_id FROM (
          SELECT c.vec_id, c.v, c.nrm, cent.cid,
            row_number() OVER (PARTITION BY c.vec_id
              ORDER BY ${sqlDot("c.v", "cent.cv")} / (c.nrm * cent.cn) DESC, cent.cid) AS rn
          FROM m c CROSS JOIN cent)
        WHERE rn = 1),
      pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM assigned a JOIN assigned b
          ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
        WHERE ${sqlDot("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.35),
      canon AS (SELECT id_b AS vec_id, MIN(id_a) AS min_nb FROM pairs GROUP BY id_b)
      SELECT a.vec_id, a.cluster_id,
        COALESCE(c.min_nb, a.vec_id) AS canonical_id,
        a.vec_id = COALESCE(c.min_nb, a.vec_id) AS is_kept
      FROM assigned a LEFT JOIN canon c ON a.vec_id = c.vec_id
      ORDER BY a.vec_id""")
  )

  // ---------------------------------------------------------------- q60
  /** Domain-mix planning: the largest corpus drawable at a target mix
    * without upsampling, per-stratum keep rates included (feeds q51's
    * stratified sampler). Targets are integer relative weights — their
    * sums stay exact in doubles, so every derived share is bit-identical
    * across engines. The weight table is generated from ONE Scala map
    * into both the Spark plan and this SQL. */
  private val q60 = {
    val weights = Map("src0" -> 6.0, "src1" -> 4.0)
    val defaultW = 1.0
    val caseSql = weights.toSeq.sortBy(_._1)
      .map { case (s, w) => s"WHEN '$s' THEN $w" }
      .mkString("CASE source ", " ", s" ELSE $defaultW END")
    Q(
      "q60_mix_weights",
      (s, dir) =>
        Sampling.mixWeights(Lake(s, dir).documents, "source", weights, defaultW)
          .orderBy("source"),
      Some(s"""
      WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      w AS (SELECT source, n_docs, CAST($caseSql AS DOUBLE) AS wt FROM c),
      t AS (SELECT SUM(n_docs) AS nn, SUM(wt) AS ww FROM w),
      s AS (SELECT source, n_docs, wt,
              CAST(n_docs AS DOUBLE) / CAST(nn AS DOUBLE) AS actual_share,
              wt / ww AS target_share
            FROM w, t),
      sc AS (SELECT MIN(CAST(n_docs AS DOUBLE) / target_share) AS scale FROM s)
      SELECT source, n_docs, actual_share, target_share,
        least(1.0, target_share * scale / CAST(n_docs AS DOUBLE)) AS keep_rate,
        least(CAST(n_docs AS DOUBLE), target_share * scale) AS n_keep
      FROM s, sc ORDER BY source""")
    )
  }

  // ---------------------------------------------------------------- q61
  /** Sliding-window document chunking (RAG indexing / long-doc
    * pretraining): 40-word chunks, 8-word overlap → stride 32. Chunk
    * starts are the stride multiples inside the doc, so chunk_idx =
    * start / stride — the oracle derives the identical windows from
    * `generate_series` + list slicing. Zero shuffle on the Spark side
    * (posexplode fan-out inside the stage). */
  private val q61 = {
    val chunkTokens = 40
    val overlap = 8
    val stride = chunkTokens - overlap
    Q(
      "q61_doc_chunking",
      (s, dir) =>
        graft.ops.Packing.chunkDocuments(
          Lake(s, dir).documents, "doc_id", "text", chunkTokens, overlap)
          .orderBy("doc_id", "chunk_idx"),
      Some(s"""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      c AS (SELECT doc_id, ws, len(ws) AS n,
              unnest(generate_series(0, greatest(len(ws) - 1 - $overlap, 0), $stride)) AS s
            FROM w)
      SELECT doc_id, CAST(s // $stride AS BIGINT) AS chunk_idx,
        CAST(least($chunkTokens, n - s) AS BIGINT) AS n_tokens,
        array_to_string(ws[s + 1 : s + $chunkTokens], ' ') AS chunk_text
      FROM c ORDER BY doc_id, chunk_idx""")
    )
  }

  // ---------------------------------------------------------------- q62
  /** Deterministic exact-n-per-stratum sampling — the eval/holdout-set
    * builder: exactly 5 documents from every source, chosen by hash
    * rank so the set is reproducible across engines and partitionings
    * (q51's rate-based form draws a binomial-SIZED sample; eval sets
    * need exact size). The rank window compiles to WindowGroupLimit —
    * per-group top-n heaps, no stratum ever fully sorted. */
  private val q62 = Q(
    "q62_sampling_exact_n",
    (s, dir) =>
      Sampling.exactStratifiedSample(
        Lake(s, dir).documents.select("doc_id", "source", "lang"),
        keyCol = "doc_id", stratumCol = "source", nPerStratum = 5,
        salt = "eval1")
        .select("doc_id", "source", "lang")
        .orderBy("source", "doc_id"),
    Some("""
      SELECT doc_id, source, lang FROM (
        SELECT doc_id, source, lang,
          row_number() OVER (PARTITION BY source
            ORDER BY md5(CAST(doc_id AS VARCHAR) || 'eval1'), doc_id) AS r
        FROM documents)
      WHERE r <= 5 ORDER BY source, doc_id""")
  )

  // ---------------------------------------------------------------- q65
  /** Token-budget-capped mix fill: each source contributes its
    * highest-quality documents (n_chars-ranked here; any total order
    * works) until an 800-token budget fills — the budget-based third leg
    * of the sampling family (q51 rate, q62 exact count, q65 token
    * budget). Training mixes are specified in tokens, so this is the
    * form a mix executor actually runs. One shuffle on the stratum, O(1)
    * running-sum window state (Sampling.budgetCappedSelect). */
  private val q65 = Q(
    "q65_budget_capped_mix",
    (s, dir) => {
      val docs = Lake(s, dir).documents
        .withColumn("n_tokens",
          graft.ops.TextAnalysis.wsTokenCount(col("text")).cast("long"))
      graft.ops.Sampling.budgetCappedSelect(
        docs, "source", "n_tokens", budget = 800L,
        rankBy = Seq(col("n_chars").desc, col("doc_id")))
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .orderBy("source", "cum_tokens")
    },
    Some("""
      WITH d AS (SELECT doc_id, source, n_chars,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (SELECT doc_id, source, n_tokens,
          CAST(SUM(n_tokens) OVER (PARTITION BY source
            ORDER BY n_chars DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_tokens
        FROM d)
      SELECT doc_id, source, n_tokens, cum_tokens
      FROM c WHERE cum_tokens <= 800 ORDER BY source, cum_tokens""")
  )

  // ---------------------------------------------------------------- q66
  /** Corpus head-vocabulary + per-document OOV rate: build the top-20
    * vocabulary by corpus frequency, score every document by the
    * fraction of its tokens outside it (the junk/encoding filter). The
    * Spark side folds the vocabulary to one broadcast array so the
    * scoring pass is map-side (Vocabulary.oovStats); the oracle
    * recomputes it as an anti-join count over exploded tokens. */
  private val q66 = Q(
    "q66_vocab_oov",
    (s, dir) =>
      graft.ops.Vocabulary.oovStats(Lake(s, dir).documents, "text", 20)
        .select("doc_id", "n_tokens", "n_oov", "oov_rate")
        .orderBy("doc_id"),
    Some("""
      WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                     FROM documents),
      cnt AS (SELECT word, COUNT(*) AS freq FROM words GROUP BY word),
      v AS (SELECT word FROM cnt ORDER BY freq DESC, word LIMIT 20),
      agg AS (SELECT w.doc_id, COUNT(*) AS n_tokens,
                SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS n_oov
              FROM words w LEFT JOIN v ON w.word = v.word
              GROUP BY w.doc_id)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(n_oov AS BIGINT) AS n_oov,
        CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_rate
      FROM agg ORDER BY doc_id""")
  )

  // ---------------------------------------------------------------- q67
  /** Inverted-index build (retrieval/BM25/RAG candidate layer): per-term
    * document frequency, collection frequency, and top-3 posting heads by
    * (tf DESC, doc ASC). One token shuffle to (term, doc) counts, then a
    * single repartition(term) feeds BOTH the stats aggregate and the
    * WindowGroupLimit top-k — a stopword's postings are heap-pruned to 3
    * rows, never sorted or collected (ops.Index scaladoc). */
  private val q67 = Q(
    "q67_inverted_index",
    (s, dir) =>
      Index.invertedIndex(Lake(s, dir).documents, "doc_id", "text", k = 3)
        .orderBy("term"),
    Some("""
      WITH tok AS (SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term
                   FROM documents),
      p AS (SELECT term, doc, COUNT(*) AS tf FROM tok GROUP BY term, doc),
      stats AS (SELECT term, COUNT(*) AS df, SUM(tf) AS cf FROM p GROUP BY term),
      r AS (SELECT term, doc,
              row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc) AS rn
            FROM p),
      heads AS (SELECT term,
                  string_agg(CAST(doc AS VARCHAR), ',' ORDER BY rn) AS top_docs
                FROM r WHERE rn <= 3 GROUP BY term)
      SELECT term, CAST(df AS BIGINT) AS df, CAST(cf AS BIGINT) AS cf, top_docs
      FROM stats JOIN heads USING (term) ORDER BY term""")
  )

  // ---------------------------------------------------------------- q68
  /** Hashed-feature linear classifier scoring — the fastText-shaped
    * quality gate (CCNet/FineWeb style). Bucket = md5(token) mod dim,
    * integer-tenth weights derived from md5(bucket), so the model is a
    * pure zero-shuffle expression and the margin sum is exact integer
    * arithmetic (no float-order hazard; ops.Classifier scaladoc). The
    * oracle rebuilds the same hash arithmetic nibble-by-nibble. */
  private val q68 = {
    val dim = 64
    val biasTenths = 5
    Q(
      "q68_classifier_score",
      (s, dir) =>
        Classifier.hashedLinearScore(
          Lake(s, dir).documents, "text", dim = dim, biasTenths = biasTenths)
          .select("doc_id", "n_tokens", "score", "keep")
          .orderBy("doc_id"),
      Some(s"""
      WITH ${classifierMarginCtes("documents", "text", dim, biasTenths)}
      SELECT d.doc_id,
        CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        CAST(mg.m AS DOUBLE) / 10.0 AS score,
        mg.m >= 0 AS keep
      FROM documents d JOIN mg USING (doc_id) ORDER BY doc_id""")
    )
  }

  // ---------------------------------------------------------------- q69
  /** Unicode NFC normalization (codegen'd custom Expression) + mojibake
    * probe. Composed vs decomposed forms of the same visible text hash
    * differently and silently break exact dedup / fingerprints / vocab
    * counts, so normalization runs ahead of every hash-keyed operator.
    * The corpus text is ASCII, so the query decorates each doc with a
    * constant mixed-form suffix (decomposed e+combining-acute, A+ring,
    * and a double-encoded 'Ã©' mojibake marker) — the oracle applies
    * DuckDB's nfc_normalize to the identical construction. */
  private val q69 = {
    // " cafe" + U+0301, " A" + U+030A, mojibake marker "Ã©"
    val suffix = " café Å Ã©"
    val sqlSuffix = s"' cafe' || chr(769) || ' A' || chr(778) || ' ' || chr(195) || chr(169)"
    Q(
      "q69_unicode_nfc",
      (s, dir) => {
        import graft.functions.TextFunctions
        val deco = concat(substring(col("text"), 1, 24), lit(suffix))
        Lake(s, dir).documents
          .withColumn("raw", deco)
          .withColumn("nfc_text", TextFunctions.nfc(col("raw")))
          .withColumn("len_raw", length(col("raw")).cast("long"))
          .withColumn("len_nfc", length(col("nfc_text")).cast("long"))
          .withColumn("changed", col("nfc_text") =!= col("raw"))
          .withColumn("mojibake_hits",
            size(regexp_extract_all(col("raw"), lit("Ã[ -¿]"), lit(0)))
              .cast("long"))
          .select("doc_id", "len_raw", "len_nfc", "changed", "mojibake_hits",
            "nfc_text")
          .orderBy("doc_id")
      },
      Some(s"""
      WITH d AS (SELECT doc_id, substr(text, 1, 24) || $sqlSuffix AS raw
                 FROM documents)
      SELECT doc_id,
        CAST(length(raw) AS BIGINT) AS len_raw,
        CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc,
        nfc_normalize(raw) != raw AS changed,
        CAST(len(regexp_extract_all(raw, chr(195) || '[' || chr(32) || '-' || chr(191) || ']')) AS BIGINT)
          AS mojibake_hits,
        nfc_normalize(raw) AS nfc_text
      FROM d ORDER BY doc_id""")
    )
  }

  // ---------------------------------------------------------------- q70
  /** Corpus bigram-LM predictability scoring — the KenLM-shaped quality
    * filter (CCNet drops perplexity outliers). Mean add-one-smoothed
    * conditional probability per document; probability domain instead of
    * log so every step is exact-int division + sorted-fold summation —
    * bit-identical across engines (ops.LanguageModel scaladoc on why
    * log's libm ulp makes it un-oracle-able). */
  private val q70 = Q(
    "q70_bigram_lm_score",
    (s, dir) =>
      LanguageModel.bigramScore(Lake(s, dir).documents, "doc_id", "text")
        .select("doc_id", "n_bigrams", "mean_condp")
        .orderBy("doc_id"),
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      bg AS (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i + 1])) AS bigram
             FROM w),
      c12 AS (SELECT bigram, COUNT(*) AS c12 FROM bg GROUP BY bigram),
      c1t AS (SELECT string_split(bigram, ' ')[1] AS w1, SUM(c12) AS c1
              FROM c12 GROUP BY 1),
      lm AS (SELECT bigram, c12.c12 AS c12, c1t.c1 AS c1
             FROM c12 JOIN c1t ON string_split(c12.bigram, ' ')[1] = c1t.w1),
      v AS (SELECT COUNT(DISTINCT word) AS v FROM
              (SELECT unnest(string_split(text, ' ')) AS word FROM documents)),
      p AS (SELECT doc_id,
              CAST(COALESCE(lm.c12, 0) + 1 AS DOUBLE)
                / (COALESCE(lm.c1, 0) + v.v) AS p
            FROM bg LEFT JOIN lm USING (bigram) CROSS JOIN v),
      s AS (SELECT doc_id, COUNT(*) AS n_bigrams,
              list_reduce(list(p ORDER BY p), (a, b) -> a + b) AS sp
            FROM p GROUP BY doc_id)
      SELECT d.doc_id, CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        s.sp / s.n_bigrams AS mean_condp
      FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
      ORDER BY d.doc_id""")
  )

  // ---------------------------------------------------------------- q71
  /** BM25 top-k retrieval over the corpus — the serving face of the q67
    * inverted index. Log-free BM25 (rational idf, k1=1.2 / b=0.75
    * saturation multiplied through to exact-long divisions) so every
    * double is bit-identical across engines — ops.Index.bm25TopK
    * scaladoc has the determinism proof. One query carries a term absent
    * from the corpus (contributes nothing) and one a rare term ('dup',
    * df 26) whose idf dominates — the ranking must surface rare-term
    * docs over common-term frequency. */
  /** Shared BM25 ranked-CTE chain (expects a `q(query_id, term)` CTE in
    * scope; ends at `r` = per-query ranked scores). q71 serves top-5
    * from it; q264 takes top-20 candidates into the rerank stage. */
  private val Bm25ChainSql = """tok AS (SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term
              FROM documents),
      p AS (SELECT term, doc, COUNT(*) AS tf FROM tok GROUP BY term, doc),
      rel AS (SELECT p.* FROM p WHERE term IN (SELECT DISTINCT term FROM q)),
      dfv AS (SELECT term, COUNT(*) AS df FROM rel GROUP BY term),
      dl AS (SELECT doc_id AS doc,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
             FROM documents),
      tot AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS t_tokens FROM dl),
      sc AS (SELECT q.query_id, rel.doc,
               CAST(22 * tot.t_tokens * LEAST(rel.tf, 10000) AS DOUBLE)
                 / (10 * tot.t_tokens * LEAST(rel.tf, 10000)
                    + 3 * tot.t_tokens
                    + 9 * dl.dl * tot.n_docs)
               * (CAST(2 * (tot.n_docs - dfv.df) + 1 AS DOUBLE)
                  / (2 * dfv.df + 1)) AS contrib
             FROM q JOIN rel ON q.term = rel.term
             JOIN dfv ON rel.term = dfv.term
             JOIN dl ON rel.doc = dl.doc
             CROSS JOIN tot),
      agg AS (SELECT query_id, doc, COUNT(*) AS n_terms,
                list_reduce(list(contrib ORDER BY contrib), (a, b) -> a + b)
                  AS score
              FROM sc GROUP BY query_id, doc),
      r AS (SELECT query_id, doc, n_terms, score,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, doc) AS rank
            FROM agg)"""

  /** Shared BM25 fixture (q71 serves top-5; q264 reranks top-20). */
  private val Bm25Fixture = Seq(
    ("search_dup", "dup"), ("search_dup", "scan"),
    ("search_join", "join"), ("search_join", "hash"), ("search_join", "merge"),
    ("search_missing", "nonexistent"), ("search_missing", "spark"),
    ("search_stream", "stream"), ("search_stream", "window"),
    ("search_stream", "batch"))

  private val q71 = {
    val fixture = Bm25Fixture
    val valuesSql = fixture
      .map { case (q, t) => s"('$q', '$t')" }.mkString(", ")
    Q(
      "q71_bm25_topk",
      (s, dir) => {
        import s.implicits._
        val queries = fixture.toDF("query_id", "term")
        Index.bm25TopK(Lake(s, dir).documents, "doc_id", "text", queries, k = 5)
          .select("query_id", "doc", "n_terms", "score", "rank")
          .orderBy("query_id", "rank")
      },
      Some(s"""
      WITH q(query_id, term) AS (VALUES $valuesSql),
      $Bm25ChainSql
      SELECT query_id, doc, CAST(n_terms AS BIGINT) AS n_terms, score,
        CAST(rank AS BIGINT) AS rank
      FROM r WHERE rank <= 5 ORDER BY query_id, rank""")
    )
  }

  // ---------------------------------------------------------------- q72
  /** Sub-document span dedup — the C4 boilerplate rule at 3-word-span
    * granularity (this corpus has no sentence marks): spans appearing in
    * ≥ 2 distinct documents are removed from all of them and documents
    * re-assemble from their surviving spans in order
    * (ops.Dedup.spanDedup scaladoc for the one-span-shuffle shape). */
  private val q72 = Q(
    "q72_span_dedup",
    (s, dir) =>
      Dedup.spanDedup(Lake(s, dir).documents, "doc_id", "text",
        span = 3, minDocs = 2)
        .select("doc_id", "n_spans", "n_dropped", "clean_text")
        .orderBy("doc_id"),
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      sp AS (SELECT doc_id, CAST(i // 3 AS BIGINT) AS span_idx,
               array_to_string(ws[(i + 1):(i + 3)], ' ') AS span_text
             FROM w, unnest(generate_series(0, len(ws) - 1, 3)) AS t(i)),
      shared AS (SELECT span_text FROM sp GROUP BY span_text
                 HAVING COUNT(DISTINCT doc_id) >= 2),
      m AS (SELECT sp.doc_id, sp.span_idx, sp.span_text,
              (shared.span_text IS NOT NULL) AS dup
            FROM sp LEFT JOIN shared USING (span_text)),
      agg AS (SELECT doc_id, COUNT(*) AS n_spans,
                SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS n_dropped,
                COALESCE(string_agg(CASE WHEN NOT dup THEN span_text END,
                  ' ' ORDER BY span_idx), '') AS clean_text
              FROM m GROUP BY doc_id)
      SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
        CAST(n_dropped AS BIGINT) AS n_dropped, clean_text
      FROM agg ORDER BY doc_id""")
  )

  // ---------------------------------------------------------------- q73
  /** Deterministic training-shard export: reproducible epoch shuffle
    * into 8 shards with within-shard order, no global sort anywhere
    * (ops.Packing.shardExport scaladoc). Shard and order come from two
    * independent md5 keys, so the permutation is salt-reproducible on
    * any engine — the oracle rebuilds both hashes nibble-for-nibble. */
  private val q73 = {
    // 12-nibble (48-bit) hash, mirroring Packing.shardExport's width
    def hex12(e: String) = hexSql(e, 12)
    val salt = "ep1"
    Q(
      "q73_shard_export",
      (s, dir) =>
        Packing.shardExport(Lake(s, dir).documents, "doc_id",
          nShards = 8, salt = salt)
          .select("doc_id", "shard", "shard_pos")
          .orderBy("shard", "shard_pos"),
      Some(s"""
      WITH h AS (SELECT doc_id,
                   ${hex12(s"md5('$salt' || CAST(doc_id AS VARCHAR))")} % 8
                     AS shard,
                   md5('o$salt' || CAST(doc_id AS VARCHAR)) AS ok
                 FROM documents)
      SELECT doc_id, CAST(shard AS BIGINT) AS shard,
        CAST(row_number() OVER (PARTITION BY shard ORDER BY ok, doc_id) - 1
          AS BIGINT) AS shard_pos
      FROM h ORDER BY shard, shard_pos""")
    )
  }

  // ---------------------------------------------------------------- q74
  /** Per-language percentile quality gate (the CCNet/FineWeb filter
    * shape): keep a document iff its quality score clears the 10th
    * percentile WITHIN its language — absolute thresholds misfire
    * across languages because the score distributions differ.
    * percent_rank is exact-int arithmetic with an id tiebreak, so the
    * gate is engine-deterministic (ops.Sampling.percentileGate scaladoc,
    * including the two-pass broadcast-threshold form for a dominant
    * stratum at crawl scale). */
  private val q74 = {
    val qualitySql = QualitySqlExpr
    Q(
      "q74_quality_percentile_gate",
      (s, dir) =>
        Sampling.percentileGate(
          Lake(s, dir).documents
            .withColumn("quality", TextAnalysis.qualityScore(col("text"))),
          "doc_id", "lang", "quality", minPct = 0.1)
          .select("doc_id", "lang", "quality", "pct_rank", "keep")
          .orderBy("doc_id"),
      Some(s"""
      WITH s AS (SELECT doc_id, lang, $qualitySql AS quality FROM documents),
      r AS (SELECT doc_id, lang, quality,
              percent_rank() OVER (PARTITION BY lang
                                   ORDER BY quality, doc_id) AS pct_rank
            FROM s)
      SELECT doc_id, lang, quality, pct_rank, pct_rank >= 0.1 AS keep
      FROM r ORDER BY doc_id""")
    )
  }

  // ---------------------------------------------------------------- q75
  /** Audio (WAV) metadata decode — the audio face of q41: each doc gets
    * a REAL 44-byte RIFF/WAVE header built from per-doc parameters
    * (rate/channels/bit-depth/sample-count derived from doc_id and text
    * length), and ops.Multimodal.parseWavHeader reads them back through
    * genuine container bytes inside the partition-wise decode. The
    * oracle recomputes the same parameters arithmetically — the parse
    * must round-trip exactly, including the integer-exact duration. */
  private val q75 = Q(
    "q75_audio_meta",
    (s, dir) => {
      import s.implicits._
      val wavs = Lake(s, dir).documents
        .select(col("doc_id"), length(col("text")).cast("long").as("__n"))
        .as[(Long, Long)]
        .mapPartitions(_.map { case (id, n) =>
          (id, Multimodal.wavHeader(
            sampleRate = 8000L + (id % 5) * 4000L,
            channels = id % 2 + 1,
            bitsPerSample = if (id % 3 == 0) 8L else 16L,
            nSamples = n))
        })
        .toDF("doc_id", "media")
      Multimodal.decodeAudioMeta(wavs, "doc_id", "media")
        .toDF().orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
        CAST(8000 + (doc_id % 5) * 4000 AS BIGINT) AS sample_rate,
        CAST(doc_id % 2 + 1 AS BIGINT) AS channels,
        CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS BIGINT)
          AS bits_per_sample,
        CAST(length(text) AS BIGINT) AS n_samples,
        CAST(length(text) * 1000 // (8000 + (doc_id % 5) * 4000) AS BIGINT)
          AS duration_ms
      FROM documents ORDER BY doc_id""")
  )

  // ---------------------------------------------------------------- q76
  /** Salted skew-proof join under the hash gate: ops.Joins.saltedJoin
    * must equal the plain equi-join EXACTLY (the oracle is that plain
    * join, aggregated). The salt spreads each part key across 8 shuffle
    * partitions — the manual lever for hot keys AQE can't split; the
    * sum is decimal-exact so the equality is bitwise. */
  private val q76 = Q(
    "q76_salted_join",
    (s, dir) => {
      val lake = Lake(s, dir)
      val li = lake.lineitem.select(
        col("l_partkey").as("partkey"),
        col("l_quantity").cast("decimal(18,2)").as("qty"))
      val parts = lake.part.select(
        col("p_partkey").as("partkey"), col("p_brand"))
      graft.ops.Joins.saltedJoin(li, parts, Seq("partkey"), saltFactor = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          sum(col("qty")).cast("double").as("total_qty"))
        .orderBy("p_brand")
    },
    Some("""
      SELECT p.p_brand,
        CAST(COUNT(*) AS BIGINT) AS n_items,
        CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand ORDER BY p.p_brand""")
  )

  // ---------------------------------------------------------------- q77
  /** Snapshot diff (CDC for the lake): yesterday's corpus vs today's,
    * every key classified added/removed/changed by content hash, the
    * unchanged bulk dropped before anything materializes — the primitive
    * that lets a daily refresh re-dedup/re-score only the delta
    * (ops.Snapshot scaladoc). Both snapshots derive deterministically
    * from `documents` (drop multiples of 7 from prev, multiples of 13
    * from curr, uppercase multiples of 11 in prev), so the oracle can
    * rebuild the exact same diff. */
  private val q77 = Q(
    "q77_snapshot_diff",
    (s, dir) => {
      val docs = Lake(s, dir).documents
      val prev = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 11 === 0, upper(col("text")))
            .otherwise(col("text")))
      val curr = docs.filter(col("doc_id") % 13 =!= 0)
      graft.ops.Snapshot.diff(prev, curr, "doc_id", Seq("text"))
        .select("doc_id", "change_type")
        .orderBy("doc_id")
    },
    Some("""
      WITH prev AS (SELECT doc_id,
                      CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END
                        AS text
                    FROM documents WHERE doc_id % 7 <> 0),
      curr AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 0),
      j AS (SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
              CASE WHEN p.doc_id IS NULL THEN 'added'
                   WHEN c.doc_id IS NULL THEN 'removed'
                   WHEN md5(p.text) <> md5(c.text) THEN 'changed'
                   ELSE 'unchanged' END AS change_type
            FROM prev p FULL OUTER JOIN curr c ON p.doc_id = c.doc_id)
      SELECT doc_id, change_type FROM j
      WHERE change_type <> 'unchanged' ORDER BY doc_id""")
  )

  // ---------------------------------------------------------------- q79
  /** The COMPOSED curation pipeline end-to-end under the hash gate:
    * PII scrub → exact-dedup canonicality (on the scrubbed form) →
    * classifier gate → language allowlist → deterministic sampling, one
    * first-failing decision per document (ops.Curation scaladoc — one
    * shuffle total). Every stage is gated in isolation (q58/q30/q68/
    * q45/q51); this gates their composition, so the pipeline can never
    * drift from its parts. The oracle chains the same five stages as
    * CTEs. */
  private val q79 = {
    import TextAnalysis.{EmailPattern, Ipv4Pattern, PhonePattern}
    val dim = 64
    val bias = 5
    Q(
      "q79_curation_pipeline",
      (s, dir) => {
        val withPii = Lake(s, dir).documents.select(
          col("doc_id"), col("lang"), piiTextCol.as("text"))
        graft.ops.Curation.curate(withPii, "doc_id", "text", "lang",
          graft.ops.Curation.Config(
            langs = Seq("en", "de", "es", "fr"),
            classifierDim = dim, classifierBiasTenths = bias,
            sampleRate = 0.5, salt = "cur"))
          .select("doc_id", "lang", "fp", "score", "n_tokens",
            "decision", "kept")
          .orderBy("doc_id")
      },
      Some(s"""
      WITH p AS (SELECT doc_id, lang, $PiiTextSqlExpr AS text
                 FROM documents),
      sc AS (SELECT doc_id, lang,
               regexp_replace(regexp_replace(regexp_replace(text,
                 '$EmailPattern', '<EMAIL>', 'g'),
                 '$Ipv4Pattern', '<IP>', 'g'),
                 '$PhonePattern', '<PHONE>', 'g') AS t
             FROM p),
      c AS (SELECT doc_id, lang, t, md5(t) AS fp,
              MIN(doc_id) OVER (PARTITION BY md5(t)) AS canonical
            FROM sc),
      ${classifierMarginCtes("sc", "t", dim, bias)},
      d AS (SELECT c.doc_id, c.lang, c.fp,
              CAST(mg.m AS DOUBLE) / 10.0 AS score,
              CAST(len(string_split(c.t, ' ')) AS BIGINT) AS n_tokens,
              CASE WHEN c.doc_id <> c.canonical THEN 'duplicate'
                   WHEN mg.m < 0 THEN 'classifier'
                   WHEN c.lang IS NULL
                        OR c.lang NOT IN ('en','de','es','fr') THEN 'lang'
                   WHEN NOT (substr(md5(CAST(c.doc_id AS VARCHAR) || 'cur'),
                             1, 3) < '800') THEN 'sampled_out'
                   ELSE 'keep' END AS decision
            FROM c JOIN mg ON c.doc_id = mg.doc_id)
      SELECT doc_id, lang, fp, score, n_tokens, decision,
        decision = 'keep' AS kept
      FROM d ORDER BY doc_id""")
    )
  }

  // ---------------------------------------------------------------- q80
  /** Weighted (importance) sampling — keep each document with
    * probability equal to its own quality-derived weight, no hard
    * threshold: the soft-selection knob FineWeb-style pipelines use
    * between "keep all" and a cliff-edge filter. Deterministic and
    * row-monotone (ops.Sampling.weightedKeeps); the oracle rebuilds the
    * 24-bit uniform draw nibble-for-nibble and the shared quality
    * expression supplies the weight on both sides. */
  private val q80 = {
    val salt = "imp"
    Q(
      "q80_weighted_sampling",
      (s, dir) => {
        val weighted = Lake(s, dir).documents
          .withColumn("weight",
            least(greatest(
              TextAnalysis.qualityScore(col("text")) / 3.0, lit(0.0)), lit(1.0)))
        Sampling.weightedSample(weighted, "doc_id", "weight", salt)
          .select("doc_id", "weight")
          .orderBy("doc_id")
      },
      Some(s"""
      WITH s AS (SELECT doc_id,
                   LEAST(GREATEST(($QualitySqlExpr) / 3.0, 0.0), 1.0)
                     AS weight
                 FROM documents)
      SELECT doc_id, weight FROM s
      WHERE CAST(${hexSql(s"md5(CAST(doc_id AS VARCHAR) || '$salt')", 6)}
              AS DOUBLE) / 16777216.0 < weight
      ORDER BY doc_id""")
    )
  }

  // ---------------------------------------------------------------- q81
  /** HTML → text extraction — the first stage of every web-crawl
    * pipeline, gated end-to-end: each document is wrapped in a
    * deterministic HTML page exercising the crawl-HTML hazards the
    * patterns defend against (UPPERCASE `SCRIPT`/`STYLE` blocks, a
    * spec-legal spaced `</SCRIPT >` close, an HTML comment containing
    * `>`, entities incl. a double-encoded `&amp;amp;`), then
    * ops.TextAnalysis.extractText recovers the text — script/style/
    * comment content gone, tags to spaces, core entities decoded AFTER
    * tag stripping (so decoded `&lt;b&gt;` survives as literal text)
    * and `&amp;` decoded last (so the double-encoding yields `&amp;`,
    * not `&`). The oracle rebuilds the identical page and chain from
    * the same shared patterns. */
  private val q81 = {
    import TextAnalysis.{CommentBlockPattern, ScriptBlockPattern, StyleBlockPattern, TagPattern, WhitespaceRunPattern}
    val pre = "<html><head><title>Doc "
    val mid1 = "</title><STYLE>p { color: red }</STYLE></head><body><h1>&quot;Doc&quot; &#39;"
    val mid2 = "&#39;</h1><!-- nav > menu --><p>"
    val mid3 = " &amp;amp; tail &lt;b&gt;</p><SCRIPT type=\"text/javascript\">var x = "
    val post = "; if (x &lt; 2) {}</SCRIPT ></body></html>"
    Q(
      "q81_html_extraction",
      (s, dir) => {
        val html = concat(
          lit(pre), col("doc_id"), lit(mid1), col("doc_id"), lit(mid2),
          col("text"), lit(mid3), col("doc_id"), lit(post))
        Lake(s, dir).documents
          .select(col("doc_id"), html.as("html"))
          .select(
            col("doc_id"),
            TextAnalysis.extractText(col("html")).as("clean_text"))
          .withColumn("n_chars", length(col("clean_text")).cast("long"))
          .orderBy("doc_id")
      },
      Some(s"""
      WITH h AS (SELECT doc_id,
          '$pre' || doc_id || '$mid1' || doc_id || '$mid2' || text
            || '$mid3' || doc_id || '$post' AS html
        FROM documents),
      e AS (SELECT doc_id,
          trim(regexp_replace(
            replace(replace(replace(replace(replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(html, '$ScriptBlockPattern', ' ', 'g'),
                    '$StyleBlockPattern', ' ', 'g'),
                  '$CommentBlockPattern', ' ', 'g'),
                '$TagPattern', ' ', 'g'),
              '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
              '&amp;', '&'),
            '$WhitespaceRunPattern', ' ', 'g')) AS clean_text
        FROM h)
      SELECT doc_id, clean_text, CAST(length(clean_text) AS BIGINT) AS n_chars
      FROM e ORDER BY doc_id""")
    )
  }

  // ------------------------------------------------------- q82/q83 fixture
  /** Shared link fixture for the crawl-graph queries: each document
    * becomes a page on host `h(doc_id % 17).example` carrying two
    * absolute links whose targets are modular functions of doc_id (a
    * deterministic 17-host web both engines rebuild exactly), plus the
    * hazards [[graft.ops.WebGraph.HrefPattern]] defends against — an
    * UPPERCASE `HREF="HTTPS://…"` (casing), a relative href and a
    * `mailto:` (both must NOT extract into a HOST graph). */
  private val linkPre = "<html><body><a href=\"http://h"
  private val linkMid1 = ".example/p"
  private val linkMid2 = "\">a</a><A HREF=\"HTTPS://H"
  private val linkMid3 = ".EXAMPLE/q"
  private val linkMid4 = "?x=1\">b</A><a href=\"/nav/p"
  private val linkMid5 = "\">n</a><a href=\"mailto:x@h0.example\">m</a></body></html>"

  private def linkPagesSpark(s: org.apache.spark.sql.SparkSession, dir: String) =
    Lake(s, dir).documents.select(
      concat(lit("h"), pmod(col("doc_id"), lit(17)), lit(".example")).as("src_host"),
      concat(
        lit(linkPre), pmod(col("doc_id") * 3 + 1, lit(17)), lit(linkMid1), col("doc_id"),
        lit(linkMid2), pmod(col("doc_id") * 5 + 2, lit(17)), lit(linkMid3), col("doc_id"),
        lit(linkMid4), col("doc_id"), lit(linkMid5)).as("html"))

  /** SQL twin of [[linkPagesSpark]] + [[graft.ops.WebGraph.hostEdges]]'s
    * ungrouped link rows, shared by the q82 and q83 oracles. */
  private val linkHostsSql = {
    val esc = (s: String) => s.replace("'", "''")
    s"""pages AS (SELECT
          'h' || CAST(doc_id % 17 AS VARCHAR) || '.example' AS src_host,
          '${esc(linkPre)}' || CAST((doc_id * 3 + 1) % 17 AS VARCHAR)
            || '${esc(linkMid1)}' || CAST(doc_id AS VARCHAR)
            || '${esc(linkMid2)}' || CAST((doc_id * 5 + 2) % 17 AS VARCHAR)
            || '${esc(linkMid3)}' || CAST(doc_id AS VARCHAR)
            || '${esc(linkMid4)}' || CAST(doc_id AS VARCHAR)
            || '${esc(linkMid5)}' AS html
        FROM documents),
      stripped AS (SELECT src_host,
          regexp_replace(
            regexp_replace(
              regexp_replace(html,
                '${TextAnalysis.ScriptBlockPattern}', ' ', 'g'),
              '${TextAnalysis.StyleBlockPattern}', ' ', 'g'),
            '${TextAnalysis.CommentBlockPattern}', ' ', 'g') AS html
        FROM pages),
      links AS (SELECT src_host,
          unnest(regexp_extract_all(html, '${WebGraph.HrefPattern}', 1)) AS url
        FROM stripped),
      lhosts AS (SELECT src_host,
          lower(regexp_extract(url, '${WebGraph.HostPattern}', 1)) AS dst_host
        FROM links)"""
  }

  // ---------------------------------------------------------------- q82
  /** Host-level link graph from crawl HTML — href extraction (casing-
    * tolerant, absolute-http(s)-only) exploded to (src_host, dst_host)
    * edges with link counts. The zero-shuffle extraction plus ONE
    * groupBy shuffle; at 100 TB the aggregate output is |hosts|²-sparse,
    * tiny next to the input. */
  private val q82 = Q(
    "q82_link_graph",
    (s, dir) => {
      val pages = linkPagesSpark(s, dir)
      WebGraph.hostEdges(pages, col("src_host"), col("html"))
        .orderBy("src_host", "dst_host")
    },
    Some(s"""
      WITH $linkHostsSql
      SELECT src_host, dst_host, COUNT(*) AS n_links
      FROM lhosts WHERE dst_host <> ''
      GROUP BY src_host, dst_host
      ORDER BY src_host, dst_host""")
  )

  // ---------------------------------------------------------------- q83
  /** Host PageRank in integer fixed-point — an ITERATIVE graph algorithm
    * under the exact-hash oracle gate, possible because every step is
    * BIGINT add/multiply/truncating-div ([[graft.ops.WebGraph.hostRank]]):
    * no float summation order, no decimal division scale rules. The
    * oracle unrolls the same five rounds as chained CTEs (DuckDB `//` =
    * Spark `div` on non-negative values); the scalar `base = unit // n`
    * is computed inside each engine from its own host count. */
  /** One unrolled PageRank round as a DuckDB CTE — the SQL twin of the
    * [[graft.ops.WebGraph.hostRank]] loop body, shared by the q83 and
    * q87 oracles. Expects CTEs `e(src, dst)`, `h(host)`, `p(base, …)`,
    * `outd(src, outdeg)` and the previous round as `r{k-1}`. */
  private def pagerankStepSql(k: Int): String = s"""
      r$k AS (SELECT h.host,
          (15 * p.base) // 100 + (85 * COALESCE(s.in_sum, 0)) // 100 AS rank
        FROM h CROSS JOIN p LEFT JOIN (
          SELECT e.dst AS host, SUM(r.rank // o.outdeg) AS in_sum
          FROM e JOIN r${k - 1} r ON r.host = e.src
          JOIN outd o ON o.src = e.src
          GROUP BY e.dst) s ON s.host = h.host)"""

  private val q83 = {
    val unit = 1000000000000L
    val iters = 5
    val step = pagerankStepSql _
    Q(
      "q83_host_pagerank",
      (s, dir) => {
        val pages = linkPagesSpark(s, dir)
        val edges = WebGraph.hostEdges(pages, col("src_host"), col("html"))
        WebGraph.hostRank(edges, iterations = iters, unit = unit)
          .orderBy("host")
      },
      Some(s"""
      WITH $linkHostsSql,
      eall AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM lhosts
               WHERE dst_host <> ''),
      e AS (SELECT * FROM eall WHERE src <> dst),
      h AS (SELECT src AS host FROM eall UNION SELECT dst FROM eall),
      p AS (SELECT CAST($unit // COUNT(*) AS BIGINT) AS base FROM h),
      outd AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
      r0 AS (SELECT host, base AS rank FROM h CROSS JOIN p),
      ${(1 to iters).map(step).mkString(",")}
      SELECT host, CAST(rank AS BIGINT) AS rank_units FROM r$iters
      ORDER BY host""")
    )
  }

  // --------------------------------------------------------------- q273
  /** Crawl-budget apportionment — turning q83's rank into an actionable
    * integer fetch plan: 10,000 fetches split across hosts PROPORTIONAL
    * to their PageRank by the largest-remainder (Hamilton) method. Floor
    * quotas first, then the leftover fetches go to the largest
    * remainders (host tiebreak) — the budgets sum to EXACTLY the budget
    * (floats would drift; the gate would catch a single lost fetch) and
    * every step is long arithmetic: quota = rank·B, base = quota div R,
    * remainder rank via [[graft.ops.Ranks.globalRowNumber]] — the host
    * frame is web-scale-unbounded, so it never rides a single-partition
    * window. This is the standard apportionment algorithm (parliamentary
    * seats, shard quotas, crawl budgets); the oracle replays the full
    * rank chain and the same remainder ranking. */
  private val q273 = {
    val unit = 1000000000000L
    val iters = 5
    val budget = 10000L
    val step = pagerankStepSql _
    Q(
      "q273_crawl_budget",
      (s, dir) => {
        val pages = linkPagesSpark(s, dir)
        val edges = WebGraph.hostEdges(pages, col("src_host"), col("html"))
        val ranks = WebGraph.hostRank(edges, iterations = iters, unit = unit)
        val tot = ranks.agg(sum(col("rank_units")).as("rtot"))
        val q = ranks.crossJoin(broadcast(tot))
          .withColumn("quota", col("rank_units") * budget)
          .withColumn("base", expr("quota div rtot"))
          .withColumn("rem", col("quota") % col("rtot"))
        val leftover = q.agg((lit(budget) - sum(col("base"))).as("leftover"))
        Ranks.globalRowNumber(q, Seq(col("rem").desc, col("host")), "rn")
          .crossJoin(broadcast(leftover))
          .select(col("host"), col("rank_units"),
            (col("base") +
              when(col("rn") <= col("leftover"), 1L).otherwise(0L))
              .as("budget"))
          .orderBy("host")
      },
      Some(s"""
      WITH $linkHostsSql,
      eall AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM lhosts
               WHERE dst_host <> ''),
      e AS (SELECT * FROM eall WHERE src <> dst),
      h AS (SELECT src AS host FROM eall UNION SELECT dst FROM eall),
      p AS (SELECT CAST($unit // COUNT(*) AS BIGINT) AS base FROM h),
      outd AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
      r0 AS (SELECT host, base AS rank FROM h CROSS JOIN p),
      ${(1 to iters).map(step).mkString(",")},
      rk AS (SELECT host, CAST(rank AS BIGINT) AS rank_units FROM r$iters),
      t AS (SELECT CAST(SUM(rank_units) AS BIGINT) AS rtot FROM rk),
      qq AS (SELECT host, rank_units,
               (rank_units * $budget) // rtot AS base,
               (rank_units * $budget) % rtot AS rem
             FROM rk CROSS JOIN t),
      lo AS (SELECT $budget - CAST(SUM(base) AS BIGINT) AS leftover FROM qq),
      rn AS (SELECT *, row_number() OVER (ORDER BY rem DESC, host) AS rn
             FROM qq)
      SELECT host, rank_units,
             CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END
               AS BIGINT) AS budget
      FROM rn CROSS JOIN lo
      ORDER BY host""")
    )
  }

  // ---------------------------------------------------------------- q84
  /** URL canonicalization — the identity under which a crawl dedups
    * fetches: scheme/host case, default ports, fragments, and tracking
    * params collapse ([[graft.ops.WebGraph.canonicalizeUrl]], a pure
    * expression chain). The fixture spreads each resource across three
    * per-visit variants (port/case/utm/fragment noise keyed by
    * doc_id % 3) over doc_id % 50 resource paths, so canonical groups
    * cross document boundaries and an under-canonicalizing engine
    * fails on group COUNTS, not just strings. The `GCLid=` variant is
    * mixed-case on purpose: tracking-param names strip
    * case-insensitively (real crawl logs carry UTM_Source=/GCLID=),
    * so a case-sensitive strip fails this gate. */
  private val q84 = Q(
    "q84_url_canonical",
    (s, dir) => {
      val m = pmod(col("doc_id"), lit(50))
      val k = pmod(col("doc_id"), lit(5))
      val url = when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit("HTTP://WWW.Site"), k, lit(".COM:80/a/p"), m,
          lit("?id="), m, lit("&utm_source=feed#top")))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(lit("https://www.site"), k, lit(".com:8080/a/p"), m,
            lit("?GCLid=XYZ"), col("doc_id")))
        .otherwise(
          concat(lit("https://Site"), k, lit(".COM:443/a/p"), m,
            lit("?utm_campaign=c&ref=keep")))
      Lake(s, dir).documents
        .select(col("doc_id"), WebGraph.canonicalizeUrl(url).as("canonical_url"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_urls"), min("doc_id").as("first_doc"))
        .orderBy("canonical_url")
    },
    Some(s"""
      WITH u AS (SELECT doc_id,
          CASE doc_id % 3
            WHEN 0 THEN 'HTTP://WWW.Site' || CAST(doc_id % 5 AS VARCHAR)
              || '.COM:80/a/p' || CAST(doc_id % 50 AS VARCHAR)
              || '?id=' || CAST(doc_id % 50 AS VARCHAR) || '&utm_source=feed#top'
            WHEN 1 THEN 'https://www.site' || CAST(doc_id % 5 AS VARCHAR)
              || '.com:8080/a/p' || CAST(doc_id % 50 AS VARCHAR)
              || '?GCLid=XYZ' || CAST(doc_id AS VARCHAR)
            ELSE 'https://Site' || CAST(doc_id % 5 AS VARCHAR)
              || '.COM:443/a/p' || CAST(doc_id % 50 AS VARCHAR)
              || '?utm_campaign=c&ref=keep'
          END AS url
        FROM documents),
      ${canonicalizeSqlCtes("u", "doc_id")}
      SELECT canonical_url, COUNT(*) AS n_urls, MIN(doc_id) AS first_doc
      FROM canon GROUP BY canonical_url ORDER BY canonical_url""")
  )

  /** SQL twin of [[graft.ops.WebGraph.canonicalizeUrl]] as CTEs —
    * expects `srcCte($keep, url)`, yields `canon($keep,
    * canonical_url)`. ONE copy feeding q84 and q94 (the QualitySqlExpr
    * convention), so a canonicalization change has exactly one oracle
    * mirror to update. */
  private def canonicalizeSqlCtes(srcCte: String, keep: String): String = s"""
      parts AS (SELECT $keep,
          lower(regexp_extract(url, '(?i)^(https?)://', 1)) AS scheme,
          lower(regexp_extract(url, '${WebGraph.HostPattern}', 1)) AS host,
          regexp_extract(url, '(?i)^https?://[^/:?#]+:([0-9]+)', 1) AS port,
          regexp_extract(url, '(?i)^https?://[^/?#]+([^#]*)', 1) AS rest
        FROM $srcCte),
      canon AS (SELECT $keep,
          CASE WHEN scheme = '' OR host = '' THEN '' ELSE
            scheme || '://' || host ||
            CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
                  AND NOT (scheme = 'https' AND port = '443')
              THEN ':' || port ELSE '' END ||
            CASE WHEN pth = '' THEN '/' ELSE pth END ||
            CASE WHEN q4 = '' THEN '' ELSE '?' || q4 END
          END AS canonical_url
        FROM (SELECT $keep, scheme, host, port,
            regexp_extract(rest, '^([^?]*)', 1) AS pth,
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_extract(rest, '^[^?]*\\?(.*)$$', 1),
                    '&${WebGraph.TrackingParamPattern}', '', 'g'),
                  '^${WebGraph.TrackingParamPattern}&', ''),
                '^${WebGraph.TrackingParamPattern}$$', ''),
              '&+$$', '') AS q4
          FROM parts) q)"""

  // ---------------------------------------------------------------- q85
  /** Accent folding — the [[graft.functions.StripAccents]] codegen'd
    * Expression under the hash gate against DuckDB's `strip_accents`
    * (whose utf8proc semantics the Expression reproduces: NFD → drop
    * marks → NFC). The fixture injects BOTH composed accents (é, à:
    * one codepoint) and a decomposed one (o + U+0301 combining acute:
    * two codepoints) keyed by doc_id % 3, so the gate covers the
    * decomposition path, not just the lookup-table-friendly composed
    * forms; `accented` itself is also emitted, pinning the fixture
    * bytes codepoint-for-codepoint. */
  private val q85 = {
    val oAcute = "o\u0301" // decomposed: 'o' + combining acute
    val eAcute = "\u00e9"  // composed é
    val aGrave = "\u00e0"  // composed à
    Q(
      "q85_accent_fold",
      (s, dir) => {
        import graft.functions.TextFunctions
        val orig = substring(col("text"), 1, 80)
        val accented = when(pmod(col("doc_id"), lit(3)) === 0,
          regexp_replace(orig, "o", oAcute))
          .when(pmod(col("doc_id"), lit(3)) === 1,
            regexp_replace(orig, "e", eAcute))
          .otherwise(regexp_replace(orig, "a", aGrave))
        Lake(s, dir).documents
          .select(col("doc_id"), accented.as("accented"))
          .select(col("doc_id"), col("accented"),
            TextFunctions.stripAccents(col("accented")).as("folded"))
          .orderBy("doc_id")
      },
      Some(s"""
      WITH a AS (SELECT doc_id,
          CASE doc_id % 3
            WHEN 0 THEN replace(substr(text, 1, 80), 'o', '$oAcute')
            WHEN 1 THEN replace(substr(text, 1, 80), 'e', '$eAcute')
            ELSE replace(substr(text, 1, 80), 'a', '$aGrave')
          END AS accented
        FROM documents)
      SELECT doc_id, accented, strip_accents(accented) AS folded
      FROM a ORDER BY doc_id""")
    )
  }

  // ---------------------------------------------------------------- q86
  /** Word-concentration (Simpson) quality signal —
    * [[graft.ops.TextAnalysis.wordConcentration]] under the hash gate.
    * The sum of squared counts is exact integer arithmetic on both
    * engines (order-independent), so the single final double division
    * hash-matches bit-for-bit; the whole metric is a zero-shuffle
    * higher-order-function chain (no explode, no groupBy) that DuckDB
    * mirrors with list lambdas. */
  private val q86 = Q(
    "q86_word_concentration",
    (s, dir) => {
      Lake(s, dir).documents
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_words"),
          size(array_distinct(TextAnalysis.tokens(col("text"))))
            .cast("long").as("n_distinct"),
          TextAnalysis.wordConcentration(col("text")).as("simpson"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      c AS (SELECT doc_id, len(ws) AS n, len(list_distinct(ws)) AS nd,
          list_transform(list_distinct(ws),
            d -> CAST(len(list_filter(ws, w -> w = d)) AS BIGINT)) AS counts
        FROM t)
      SELECT doc_id, CAST(n AS BIGINT) AS n_words,
        CAST(nd AS BIGINT) AS n_distinct,
        CAST(list_aggregate(list_transform(counts, c -> c * c), 'sum') AS DOUBLE)
          / (CAST(n AS BIGINT) * CAST(n AS BIGINT)) AS simpson
      FROM c ORDER BY doc_id""")
  )

  // ---------------------------------------------------------------- q87
  /** The composed crawl pipeline — the round's flagship composition
    * gate (the q79 pattern applied to the crawl stack): each document
    * becomes an HTML page carrying its text AND two host links; ONE
    * query then runs extraction ([[TextAnalysis.extractText]]), the
    * link graph ([[WebGraph.hostEdges]]), integer PageRank
    * ([[WebGraph.hostRank]]), quality scoring, and the curation
    * decision — keep iff quality ≥ 0.3 AND the page's host carries at
    * least the uniform share of link authority (rank·n ≥ unit,
    * integer-exact). Every stage is individually gated (q81/q82/q83/
    * q38); this gates their COMPOSITION, host-prior join included.
    *
    * Scale shape: extraction+scoring ride the scan; the graph side
    * aggregates to |hosts|-sized frames; the rank join back to docs is
    * a broadcast (ranks are (host, long) rows at any corpus size). */
  private val q87 = {
    val unit = 1000000000000L
    val iters = 5
    val p1 = "<html><head><STYLE>p { x }</STYLE></head><body><a href=\"http://h"
    val p2 = ".example/p"
    val p3 = "\">a</a><A HREF=\"HTTPS://H"
    val p4 = ".EXAMPLE/q"
    val p5 = "?x=1\">b</A><p>"
    val p6 = "</p><a href=\"/nav\">n</a></body></html>"
    Q(
      "q87_crawl_pipeline",
      (s, dir) => {
        val pages = Lake(s, dir).documents.select(
          col("doc_id"),
          concat(lit("h"), pmod(col("doc_id"), lit(17)), lit(".example")).as("src_host"),
          concat(
            lit(p1), pmod(col("doc_id") * 3 + 1, lit(17)), lit(p2), col("doc_id"),
            lit(p3), pmod(col("doc_id") * 5 + 2, lit(17)), lit(p4), col("doc_id"),
            lit(p5), col("text"), lit(p6)).as("html"))
        val ranks = WebGraph.hostRank(
          WebGraph.hostEdges(pages, col("src_host"), col("html")),
          iterations = iters, unit = unit)
        val n = ranks.count() // host count: the oracle derives the same scalar
        val cleaned = pages.select(col("doc_id"), col("src_host"),
          TextAnalysis.extractText(col("html")).as("clean_text"))
        cleaned
          .join(broadcast(ranks), cleaned("src_host") === ranks("host"), "left")
          .select(col("doc_id"), col("src_host"),
            coalesce(col("rank_units"), lit(0L)).as("rank_units"),
            TextAnalysis.qualityScore(col("clean_text")).as("quality"))
          .withColumn("keep",
            col("quality") >= 0.3 && col("rank_units") * n >= unit)
          .orderBy("doc_id")
      },
      Some({
        import TextAnalysis.{CommentBlockPattern, ScriptBlockPattern, StyleBlockPattern, TagPattern, WhitespaceRunPattern}
        s"""
      WITH pages AS (SELECT doc_id,
          'h' || CAST(doc_id % 17 AS VARCHAR) || '.example' AS src_host,
          '$p1' || CAST((doc_id * 3 + 1) % 17 AS VARCHAR)
            || '$p2' || CAST(doc_id AS VARCHAR)
            || '$p3' || CAST((doc_id * 5 + 2) % 17 AS VARCHAR)
            || '$p4' || CAST(doc_id AS VARCHAR)
            || '$p5' || text || '$p6' AS html
        FROM documents),
      lstripped AS (SELECT src_host,
          regexp_replace(
            regexp_replace(
              regexp_replace(html, '$ScriptBlockPattern', ' ', 'g'),
              '$StyleBlockPattern', ' ', 'g'),
            '$CommentBlockPattern', ' ', 'g') AS html
        FROM pages),
      links AS (SELECT src_host,
          unnest(regexp_extract_all(html, '${WebGraph.HrefPattern}', 1)) AS url
        FROM lstripped),
      lh AS (SELECT src_host,
          lower(regexp_extract(url, '${WebGraph.HostPattern}', 1)) AS dst_host
        FROM links),
      eall AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM lh
               WHERE dst_host <> ''),
      e AS (SELECT * FROM eall WHERE src <> dst),
      h AS (SELECT src AS host FROM eall UNION SELECT dst FROM eall),
      p AS (SELECT CAST($unit // COUNT(*) AS BIGINT) AS base,
                   COUNT(*) AS n FROM h),
      outd AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
      r0 AS (SELECT host, base AS rank FROM h CROSS JOIN p),
      ${(1 to iters).map(pagerankStepSql).mkString(",")},
      ext AS (SELECT doc_id, src_host,
          trim(regexp_replace(
            replace(replace(replace(replace(replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(html, '$ScriptBlockPattern', ' ', 'g'),
                    '$StyleBlockPattern', ' ', 'g'),
                  '$CommentBlockPattern', ' ', 'g'),
                '$TagPattern', ' ', 'g'),
              '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
              '&amp;', '&'),
            '$WhitespaceRunPattern', ' ', 'g')) AS text
        FROM pages),
      sc AS (SELECT doc_id, src_host, $QualitySqlExpr AS quality FROM ext)
      SELECT sc.doc_id, sc.src_host,
        CAST(COALESCE(r.rank, 0) AS BIGINT) AS rank_units,
        sc.quality,
        (sc.quality >= 0.3 AND
         COALESCE(r.rank, 0) * (SELECT n FROM p) >= $unit) AS keep
      FROM sc LEFT JOIN r$iters r ON r.host = sc.src_host
      ORDER BY doc_id"""
      })
    )
  }

  // ---------------------------------------------------------------- q88
  /** Anchor-text index — [[graft.ops.WebGraph.extractAnchors]]/
    * `anchorIndex` under the hash gate: per destination host, the
    * incoming link count and the sorted distinct anchor digest ("what
    * the web calls this host" — the classic relevance signal). The
    * fixture varies anchor phrasing per link (`site k` / `page m`,
    * modular in doc_id) and nests a `<b>` tag inside one anchor so the
    * inner-tag strip is exercised; the relative link's anchor must NOT
    * appear. Per-element regex work runs inside a higher-order
    * `transform` (zero shuffle until the one groupBy). */
  private val q88 = {
    val a1 = "<html><body><a href=\"http://h"
    val a2 = ".example/p"
    val a3 = "\">site "
    val a4 = "</a><A HREF=\"HTTPS://H"
    val a5 = ".EXAMPLE/q\" class=\"z\">page <b>"
    val a6 = "</b></A><a href=\"/rel\">rel</a></body></html>"
    Q(
      "q88_anchor_text",
      (s, dir) => {
        val pages = Lake(s, dir).documents.select(
          col("doc_id"),
          concat(
            lit(a1), pmod(col("doc_id") * 3 + 1, lit(17)), lit(a2), col("doc_id"),
            lit(a3), pmod(col("doc_id"), lit(7)),
            lit(a4), pmod(col("doc_id") * 5 + 2, lit(17)), lit(a5),
            pmod(col("doc_id"), lit(3)), lit(a6)).as("html"))
        WebGraph.anchorIndex(pages, col("html")).orderBy("dst_host")
      },
      Some(s"""
      WITH pages AS (SELECT doc_id,
          '$a1' || CAST((doc_id * 3 + 1) % 17 AS VARCHAR)
            || '$a2' || CAST(doc_id AS VARCHAR)
            || '$a3' || CAST(doc_id % 7 AS VARCHAR)
            || '$a4' || CAST((doc_id * 5 + 2) % 17 AS VARCHAR)
            || '$a5' || CAST(doc_id % 3 AS VARCHAR)
            || '$a6' AS html
        FROM documents),
      astripped AS (SELECT doc_id,
          regexp_replace(
            regexp_replace(
              regexp_replace(html,
                '${TextAnalysis.ScriptBlockPattern}', ' ', 'g'),
              '${TextAnalysis.StyleBlockPattern}', ' ', 'g'),
            '${TextAnalysis.CommentBlockPattern}', ' ', 'g') AS html
        FROM pages),
      els AS (SELECT doc_id,
          unnest(regexp_extract_all(html, '${WebGraph.AnchorElemPattern}')) AS el
        FROM astripped),
      an AS (SELECT
          lower(regexp_extract(
            regexp_extract(el, '${WebGraph.HrefPattern}', 1),
            '${WebGraph.HostPattern}', 1)) AS dst_host,
          trim(regexp_replace(
            regexp_replace(
              regexp_extract(el, '${WebGraph.AnchorInnerPattern}', 1),
              '${TextAnalysis.TagPattern}', ' ', 'g'),
            '${TextAnalysis.WhitespaceRunPattern}', ' ', 'g')) AS anchor
        FROM els)
      SELECT dst_host, CAST(COUNT(*) AS BIGINT) AS n_links,
        CAST(len(list_distinct(list(anchor))) AS BIGINT) AS n_anchors,
        array_to_string(list_sort(list_distinct(list(anchor))), '|') AS anchors
      FROM an WHERE dst_host <> ''
      GROUP BY dst_host ORDER BY dst_host""")
    )
  }

  // ---------------------------------------------------------------- q89
  /** Crawl politeness schedule — [[graft.ops.WebGraph.fetchSchedule]]
    * under the hash gate: per host, deterministic (arrival, url)
    * ordering packs fetches into rate slots, all integer arithmetic
    * (row_number, truncating div), so the schedule hash-matches the
    * oracle's window exactly. One host-partitioned window — no global
    * sort; the fixture spreads ~30 requests per host with arrival-time
    * ties so the url tiebreak is exercised. */
  private val q89 = Q(
    "q89_fetch_schedule",
    (s, dir) => {
      val frontier = Lake(s, dir).documents.select(
        concat(lit("h"), pmod(col("doc_id"), lit(17)), lit(".example")).as("host"),
        concat(lit("http://h"), pmod(col("doc_id"), lit(17)),
          lit(".example/p"), col("doc_id")).as("url"),
        pmod(col("doc_id") * 37, lit(50)).as("ts_s"))
      WebGraph.fetchSchedule(frontier, "host", "ts_s", "url",
        perSlot = 4, slotSeconds = 10)
        .orderBy("host", "rn")
    },
    Some("""
      WITH f AS (SELECT
          'h' || CAST(doc_id % 17 AS VARCHAR) || '.example' AS host,
          'http://h' || CAST(doc_id % 17 AS VARCHAR) || '.example/p'
            || CAST(doc_id AS VARCHAR) AS url,
          (doc_id * 37) % 50 AS ts_s
        FROM documents),
      r AS (SELECT host, url, CAST(ts_s AS BIGINT) AS ts_s,
          CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY ts_s, url)
            AS BIGINT) AS rn
        FROM f)
      SELECT host, url, ts_s, rn,
        CAST((rn - 1) // 4 AS BIGINT) AS slot,
        CAST(((rn - 1) // 4) * 10 AS BIGINT) AS start_s
      FROM r ORDER BY host, rn""")
  )

  // ---------------------------------------------------------------- q90
  /** TrustRank — seed-restricted teleport over the q82 link graph
    * ([[graft.ops.WebGraph.trustRank]]): the crawl spam-control signal,
    * under the exact-hash gate via the same integer fixed-point
    * arithmetic as q83. Seeds are the three lowest host residues; the
    * oracle rebuilds the per-host teleport vector (uniform over seeds
    * present in the graph, zero elsewhere) and unrolls the same five
    * rounds. */
  private val q90 = {
    val unit = 1000000000000L
    val iters = 5
    val step = (k: Int) => s"""
      r$k AS (SELECT t.host,
          (15 * t.t) // 100 + (85 * COALESCE(s.in_sum, 0)) // 100 AS rank
        FROM tele t LEFT JOIN (
          SELECT e.dst AS host, SUM(r.rank // o.outdeg) AS in_sum
          FROM e JOIN r${k - 1} r ON r.host = e.src
          JOIN outd o ON o.src = e.src
          GROUP BY e.dst) s ON s.host = t.host)"""
    Q(
      "q90_trustrank",
      (s, dir) => {
        val pages = linkPagesSpark(s, dir)
        val edges = WebGraph.hostEdges(pages, col("src_host"), col("html"))
        val seeds = Lake(s, dir).documents
          .filter(pmod(col("doc_id"), lit(17)) < 3)
          .select(concat(lit("h"), pmod(col("doc_id"), lit(17)),
            lit(".example")).as("host"))
          .distinct()
        WebGraph.trustRank(edges, seeds, iterations = iters, unit = unit)
          .orderBy("host")
      },
      Some(s"""
      WITH $linkHostsSql,
      eall AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM lhosts
               WHERE dst_host <> ''),
      e AS (SELECT * FROM eall WHERE src <> dst),
      h AS (SELECT src AS host FROM eall UNION SELECT dst FROM eall),
      seeds AS (SELECT DISTINCT
          'h' || CAST(doc_id % 17 AS VARCHAR) || '.example' AS host
        FROM documents WHERE doc_id % 17 < 3),
      sin AS (SELECT h.host FROM h JOIN seeds s ON s.host = h.host),
      p AS (SELECT CAST($unit // COUNT(*) AS BIGINT) AS tbase FROM sin),
      tele AS (SELECT h.host,
          CASE WHEN s.host IS NOT NULL THEN p.tbase ELSE 0 END AS t
        FROM h LEFT JOIN sin s ON s.host = h.host CROSS JOIN p),
      outd AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
      r0 AS (SELECT host, t AS rank FROM tele),
      ${(1 to iters).map(step).mkString(",")}
      SELECT host, CAST(rank AS BIGINT) AS rank_units FROM r$iters
      ORDER BY host""")
    )
  }

  // ---------------------------------------------------------------- q91
  /** Co-citation similarity — [[graft.ops.WebGraph.coCitation]] under
    * the hash gate: hosts the same sources link to, the related-items
    * primitive of link analysis. The fixture's two modular link
    * families give every source exactly two outlinks, so each source
    * contributes one unordered pair and the counts aggregate across
    * the 17-host web; the oracle mirrors the capped self-join. */
  private val q91 = Q(
    "q91_co_citation",
    (s, dir) => {
      val pages = linkPagesSpark(s, dir)
      val edges = WebGraph.hostEdges(pages, col("src_host"), col("html"))
      WebGraph.coCitation(edges, maxOutDeg = 50, minCount = 1)
        .orderBy("host_a", "host_b")
    },
    Some(s"""
      WITH $linkHostsSql,
      e AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM lhosts
            WHERE dst_host <> '' AND src_host <> dst_host),
      capped AS (SELECT src, dst FROM (
          SELECT src, dst, COUNT(*) OVER (PARTITION BY src) AS od FROM e)
        WHERE od <= 50)
      SELECT a.dst AS host_a, b.dst AS host_b,
        CAST(COUNT(*) AS BIGINT) AS n_common_sources
      FROM capped a JOIN capped b ON a.src = b.src AND a.dst < b.dst
      GROUP BY a.dst, b.dst
      HAVING COUNT(*) >= 1
      ORDER BY host_a, host_b""")
  )

  // ---------------------------------------------------------------- q92
  /** HITS hubs & authorities — [[graft.ops.WebGraph.hits]] under the
    * hash gate: the third iterative graph algorithm made engine-exact
    * by integer arithmetic, this one with per-round renormalization
    * (`v div (max(v) div scale)`, floored at 1) because raw HITS
    * values grow geometrically. The oracle unrolls five rounds of the
    * auth/hub mutual recursion with a scalar-subquery normalizer per
    * half-round. */
  private val q92 = {
    val scale = 1000000000L
    val iters = 5
    // every round CTE is MATERIALIZED: each is referenced 2-3 times
    // (the raw frame by its normalizer AND its quotient; each score by
    // the next half-round), and DuckDB's default inlining re-expands
    // the whole upstream chain per reference — exponential in rounds
    // (the un-hinted form ran minutes; materialized, milliseconds)
    val step = (k: Int) => s"""
      a${k}raw AS MATERIALIZED (SELECT h.host, COALESCE(s.s, 0) AS v
        FROM h LEFT JOIN (
          SELECT e.dst AS host, SUM(p.v) AS s FROM e
          JOIN hb${k - 1} p ON p.host = e.src GROUP BY e.dst) s
        ON s.host = h.host),
      qa$k AS MATERIALIZED (
        SELECT GREATEST(MAX(v) // $scale, 1) AS q FROM a${k}raw),
      a$k AS MATERIALIZED (
        SELECT host, CAST(v // (SELECT q FROM qa$k) AS BIGINT) AS v
        FROM a${k}raw),
      hb${k}raw AS MATERIALIZED (SELECT h.host, COALESCE(s.s, 0) AS v
        FROM h LEFT JOIN (
          SELECT e.src AS host, SUM(p.v) AS s FROM e
          JOIN a$k p ON p.host = e.dst GROUP BY e.src) s
        ON s.host = h.host),
      qh$k AS MATERIALIZED (
        SELECT GREATEST(MAX(v) // $scale, 1) AS q FROM hb${k}raw),
      hb$k AS MATERIALIZED (
        SELECT host, CAST(v // (SELECT q FROM qh$k) AS BIGINT) AS v
        FROM hb${k}raw)"""
    Q(
      "q92_hits",
      (s, dir) => {
        val pages = linkPagesSpark(s, dir)
        val edges = WebGraph.hostEdges(pages, col("src_host"), col("html"))
        WebGraph.hits(edges, iterations = iters, scale = scale)
          .orderBy("host")
      },
      Some(s"""
      WITH $linkHostsSql,
      eall AS MATERIALIZED (SELECT DISTINCT src_host AS src, dst_host AS dst
            FROM lhosts WHERE dst_host <> ''),
      e AS MATERIALIZED (SELECT * FROM eall WHERE src <> dst),
      h AS MATERIALIZED (SELECT src AS host FROM eall
                         UNION SELECT dst FROM eall),
      hb0 AS (SELECT host, CAST($scale AS BIGINT) AS v FROM h),
      ${(1 to iters).map(step).mkString(",")}
      SELECT h.host, a.v AS auth_units, b.v AS hub_units
      FROM h JOIN a$iters a ON a.host = h.host
      JOIN hb$iters b ON b.host = h.host
      ORDER BY h.host""")
    )
  }

  // ---------------------------------------------------------------- q93
  /** Link-graph degree profile — [[graft.ops.WebGraph.degreeProfile]]
    * under the hash gate: per-host out/in degree and reciprocated
    * out-edges (the link-exchange screen a crawl runs before anything
    * iterative). Exact integer counts; the oracle mirrors the
    * reversed-key self-join. */
  private val q93 = Q(
    "q93_degree_profile",
    (s, dir) => {
      val pages = linkPagesSpark(s, dir)
      val edges = WebGraph.hostEdges(pages, col("src_host"), col("html"))
      WebGraph.degreeProfile(edges).orderBy("host")
    },
    Some(s"""
      WITH $linkHostsSql,
      eall AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM lhosts
               WHERE dst_host <> ''),
      e AS (SELECT * FROM eall WHERE src <> dst),
      h AS (SELECT src AS host FROM eall UNION SELECT dst FROM eall),
      outd AS (SELECT src AS host, COUNT(*) AS c FROM e GROUP BY src),
      ind AS (SELECT dst AS host, COUNT(*) AS c FROM e GROUP BY dst),
      rec AS (SELECT f.src AS host, COUNT(*) AS c
        FROM e f JOIN e r ON f.src = r.dst AND f.dst = r.src
        GROUP BY f.src)
      SELECT h.host,
        CAST(COALESCE(outd.c, 0) AS BIGINT) AS out_deg,
        CAST(COALESCE(ind.c, 0) AS BIGINT) AS in_deg,
        CAST(COALESCE(rec.c, 0) AS BIGINT) AS reciprocal_out
      FROM h LEFT JOIN outd ON outd.host = h.host
      LEFT JOIN ind ON ind.host = h.host
      LEFT JOIN rec ON rec.host = h.host
      ORDER BY h.host""")
  )

  // ---------------------------------------------------------------- q94
  /** Relative-URL resolution (RFC 3986 §5) —
    * [[graft.ops.WebGraph.resolveUrl]] under the hash gate: the step
    * that lets the crawl link graph see RELATIVE hrefs (the majority of
    * links in real HTML — the absolute-only extractor silently drops
    * them). The fixture routes each document through one of the seven
    * resolution branches (absolute, protocol-relative, root-relative,
    * parent-relative `../`, dot-relative `./` with a fragment,
    * query-only with a tracking param, and `mailto:`/`#frag`), against
    * a base URL that itself needs canonicalizing (uppercase scheme and
    * host, default port, tracking param) — so the gate covers the §5.3
    * merge, §5.2.4 dot removal, AND the canonical landing in one
    * query. The dot-segment patterns and pass counts are shared
    * verbatim with the oracle via
    * [[graft.ops.WebGraph.removeDotSegmentsSql]]. */
  private val q94 = Q(
    "q94_url_resolve",
    (s, dir) => {
      val m7 = pmod(col("doc_id"), lit(7))
      val base = concat(
        lit("HTTP://WWW.Base"), pmod(col("doc_id"), lit(5)),
        lit(".example:80/a/b/c"), pmod(col("doc_id"), lit(3)),
        lit("/page.html?keep=1&utm_source=x"))
      val href = when(m7 === 0,
        concat(lit("https://ext"), pmod(col("doc_id"), lit(5)),
          lit(".example/x"), pmod(col("doc_id"), lit(20))))
        .when(m7 === 1,
          concat(lit("//cdn"), pmod(col("doc_id"), lit(5)), lit(".example/lib.js")))
        .when(m7 === 2, concat(lit("/root/p"), pmod(col("doc_id"), lit(20))))
        .when(m7 === 3, concat(lit("../up/p"), pmod(col("doc_id"), lit(20))))
        .when(m7 === 4,
          concat(lit("./same/./p"), pmod(col("doc_id"), lit(20)), lit("#sec")))
        .when(m7 === 5,
          concat(lit("?page="), pmod(col("doc_id"), lit(10)), lit("&gclid=Z")))
        .otherwise(when(pmod(col("doc_id"), lit(2)) === 0,
          lit("mailto:a@b.example")).otherwise(lit("#top")))
      // staged, not composed: one withColumn per resolution stage so
      // CollapseProject keeps the projections separate and each stage
      // evaluates ONCE per row (the composed resolveUrl re-evaluates
      // the merge CASE ~20x per row via duplicated subtrees — measured
      // ~8x slower; output bit-identical)
      Lake(s, dir).documents
        .withColumn("__m", WebGraph.mergeRelative(base, href))
        .withColumn("__n", WebGraph.normalizeDotSegments(col("__m")))
        .select(col("doc_id"),
          WebGraph.canonicalizeUrl(col("__n")).as("resolved_url"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH f AS (SELECT doc_id,
          'HTTP://WWW.Base' || CAST(doc_id % 5 AS VARCHAR)
            || '.example:80/a/b/c' || CAST(doc_id % 3 AS VARCHAR)
            || '/page.html?keep=1&utm_source=x' AS base,
          CASE doc_id % 7
            WHEN 0 THEN 'https://ext' || CAST(doc_id % 5 AS VARCHAR)
              || '.example/x' || CAST(doc_id % 20 AS VARCHAR)
            WHEN 1 THEN '//cdn' || CAST(doc_id % 5 AS VARCHAR) || '.example/lib.js'
            WHEN 2 THEN '/root/p' || CAST(doc_id % 20 AS VARCHAR)
            WHEN 3 THEN '../up/p' || CAST(doc_id % 20 AS VARCHAR)
            WHEN 4 THEN './same/./p' || CAST(doc_id % 20 AS VARCHAR) || '#sec'
            WHEN 5 THEN '?page=' || CAST(doc_id % 10 AS VARCHAR) || '&gclid=Z'
            ELSE CASE WHEN doc_id % 2 = 0 THEN 'mailto:a@b.example' ELSE '#top' END
          END AS href
        FROM documents),
      b AS (SELECT doc_id, base, href,
          lower(regexp_extract(base, '(?i)^(https?)://', 1)) AS bscheme,
          regexp_extract(base, '(?i)^https?://([^/?#]+)', 1) AS bauth,
          regexp_extract(base, '(?i)^https?://[^/?#]+([^?#]*)', 1) AS bpath
        FROM f),
      m AS (SELECT doc_id,
          CASE
            WHEN regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN href
            WHEN bscheme = '' OR bauth = '' THEN ''
            WHEN href LIKE '//%' THEN bscheme || ':' || href
            WHEN href LIKE '/%' THEN bscheme || '://' || bauth || href
            WHEN href LIKE '?%' THEN bscheme || '://' || bauth ||
              (CASE WHEN bpath = '' THEN '/' ELSE bpath END) || href
            WHEN href LIKE '#%' OR href = '' THEN base
            ELSE bscheme || '://' || bauth ||
              (CASE WHEN regexp_extract(bpath, '^(.*/)', 1) = '' THEN '/'
                    ELSE regexp_extract(bpath, '^(.*/)', 1) END) || href
          END AS target
        FROM b),
      d AS (SELECT doc_id,
          CASE WHEN regexp_extract(target, '(?i)^(https?://[^/?#]*)', 1) = ''
               THEN target
               ELSE regexp_extract(target, '(?i)^(https?://[^/?#]*)', 1)
                 || ${WebGraph.removeDotSegmentsSql(
                      "regexp_extract(target, '(?i)^https?://[^/?#]*([^?#]*)', 1)")}
                 || regexp_extract(target, '(?i)^https?://[^/?#]*[^?#]*(.*)$$', 1)
          END AS url
        FROM m),
      ${canonicalizeSqlCtes("d", "doc_id")}
      SELECT doc_id, canonical_url AS resolved_url FROM canon
      ORDER BY doc_id""")
  )

  // ---------------------------------------------------------------- q95
  /** Per-host politeness — [[graft.ops.WebGraph.fetchSchedule]]'s
    * policied overload under the hash gate: robots-style inputs (per-
    * host crawl delay, disallowed path prefixes) drive the schedule
    * instead of one global rate. h0 carries a 30 s delay and an
    * /admin + /private disallow list (its doc_id%4==0 URLs vanish
    * before scheduling), h1 a NULL delay (falls back to the global
    * 10 s), every other host no policy row at all — so the gate covers
    * the delay override, the null fallback, the absent-host default
    * AND the disallow filter in one query. The policy table is the
    * q08/q21 literal-table convention, mirrored as VALUES. */
  private val q95 = Q(
    "q95_fetch_schedule_policies",
    (s, dir) => {
      import s.implicits._
      val frontier = Lake(s, dir).documents.select(
        concat(lit("h"), pmod(col("doc_id"), lit(17)), lit(".example")).as("host"),
        concat(lit("http://h"), pmod(col("doc_id"), lit(17)), lit(".example"),
          when(pmod(col("doc_id"), lit(4)) === 0, lit("/admin/p"))
            .otherwise(lit("/p")),
          col("doc_id")).as("url"),
        pmod(col("doc_id") * 37, lit(50)).as("ts_s"))
      val policies = Seq(
        ("h0.example", Some(30L), Seq("/admin", "/private")),
        ("h1.example", Option.empty[Long], Seq.empty[String])
      ).toDF("host", "crawl_delay_s", "disallow")
      WebGraph.fetchSchedule(frontier, "host", "ts_s", "url",
        perSlot = 4, slotSeconds = 10, hostPolicies = policies)
        .orderBy("host", "rn")
    },
    Some("""
      WITH f AS (SELECT
          'h' || CAST(doc_id % 17 AS VARCHAR) || '.example' AS host,
          'http://h' || CAST(doc_id % 17 AS VARCHAR) || '.example'
            || (CASE WHEN doc_id % 4 = 0 THEN '/admin/p' ELSE '/p' END)
            || CAST(doc_id AS VARCHAR) AS url,
          (doc_id * 37) % 50 AS ts_s
        FROM documents),
      pol AS (SELECT * FROM (VALUES
          ('h0.example', CAST(30 AS BIGINT), ['/admin', '/private']),
          ('h1.example', CAST(NULL AS BIGINT), CAST([] AS VARCHAR[]))
        ) AS t(host, crawl_delay_s, disallow)),
      j AS (SELECT f.host, f.url, f.ts_s,
          COALESCE(p.crawl_delay_s, 10) AS slot_s,
          COALESCE(p.disallow, CAST([] AS VARCHAR[])) AS dis,
          regexp_extract(f.url, '(?i)^https?://[^/?#]+([^?#]*)', 1) AS pth
        FROM f LEFT JOIN pol p ON p.host = f.host),
      a AS (SELECT * FROM j
        WHERE len(list_filter(dis, x -> starts_with(pth, x))) = 0),
      r AS (SELECT host, url, CAST(ts_s AS BIGINT) AS ts_s,
          CAST(slot_s AS BIGINT) AS slot_s,
          CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY ts_s, url)
            AS BIGINT) AS rn
        FROM a)
      SELECT host, url, ts_s, rn,
        CAST((rn - 1) // 4 AS BIGINT) AS slot,
        CAST(((rn - 1) // 4) * slot_s AS BIGINT) AS start_s
      FROM r ORDER BY host, rn""")
  )

  // ---------------------------------------------------------------- q96
  /** Spam mass — the [[graft.ops.WebGraph.spamMass]] composite of q83's
    * PageRank and q90's TrustRank (Gyöngyi et al., VLDB 2004 §6): the
    * ppm share of a host's rank that no trusted path explains, the
    * classic link-spam screen. Integer fixed point end-to-end, so the
    * two five-round chains AND the composite division sit under the
    * exact-hash gate; the oracle concatenates both unrolled chains
    * (PageRank rounds r1..r5, trust rounds t1..t5) and mirrors the
    * clamp-then-divide. */
  private val q96 = {
    val unit = 1000000000000L
    val iters = 5
    val tstep = (k: Int) => s"""
      t$k AS (SELECT tele.host,
          (15 * tele.t) // 100 + (85 * COALESCE(s.in_sum, 0)) // 100 AS rank
        FROM tele LEFT JOIN (
          SELECT e.dst AS host, SUM(r.rank // o.outdeg) AS in_sum
          FROM e JOIN t${k - 1} r ON r.host = e.src
          JOIN outd o ON o.src = e.src
          GROUP BY e.dst) s ON s.host = tele.host)"""
    Q(
      "q96_spam_mass",
      (s, dir) => {
        val pages = linkPagesSpark(s, dir)
        val edges = WebGraph.hostEdges(pages, col("src_host"), col("html"))
        val seeds = Lake(s, dir).documents
          .filter(pmod(col("doc_id"), lit(17)) < 3)
          .select(concat(lit("h"), pmod(col("doc_id"), lit(17)),
            lit(".example")).as("host"))
          .distinct()
        // ONE fused loop: both scores share the edge preamble and the
        // per-round join tree (WebGraph.rankAndTrust — bit-identical
        // to the separate hostRank/trustRank loops, ~half the jobs)
        WebGraph.spamMassFrom(
          WebGraph.rankAndTrust(edges, seeds, iterations = iters, unit = unit))
          .orderBy("host")
      },
      Some(s"""
      WITH $linkHostsSql,
      eall AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM lhosts
               WHERE dst_host <> ''),
      e AS (SELECT * FROM eall WHERE src <> dst),
      h AS (SELECT src AS host FROM eall UNION SELECT dst FROM eall),
      p AS (SELECT CAST($unit // COUNT(*) AS BIGINT) AS base FROM h),
      outd AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
      r0 AS (SELECT host, base AS rank FROM h CROSS JOIN p),
      ${(1 to iters).map(pagerankStepSql).mkString(",")},
      seeds AS (SELECT DISTINCT
          'h' || CAST(doc_id % 17 AS VARCHAR) || '.example' AS host
        FROM documents WHERE doc_id % 17 < 3),
      sin AS (SELECT h.host FROM h JOIN seeds sd ON sd.host = h.host),
      pt AS (SELECT CAST($unit // COUNT(*) AS BIGINT) AS tbase FROM sin),
      tele AS (SELECT h.host,
          CASE WHEN si.host IS NOT NULL THEN pt.tbase ELSE 0 END AS t
        FROM h LEFT JOIN sin si ON si.host = h.host CROSS JOIN pt),
      t0 AS (SELECT host, t AS rank FROM tele),
      ${(1 to iters).map(tstep).mkString(",")}
      SELECT h.host,
        CAST(r.rank AS BIGINT) AS rank_units,
        CAST(t.rank AS BIGINT) AS trust_units,
        CAST(CASE WHEN r.rank <= 0 THEN 0
             ELSE (GREATEST(r.rank - t.rank, 0) * 1000000) // r.rank
             END AS BIGINT) AS spam_mass_ppm
      FROM h JOIN r$iters r ON r.host = h.host
      JOIN t$iters t ON t.host = h.host
      ORDER BY h.host""")
    )
  }

  // ---------------------------------------------------------------- q97
  /** CDC delete application — [[graft.ops.Snapshot.applyDeletes]] under
    * the hash gate: the consumption step for the `/deletes` feed the
    * reference extracts but never applies (api/api.py:133-136). The
    * fixture derives a deterministic deletes batch (doc_id % 7 == 2),
    * applies it anti-join-style, and summarizes survivors per bucket so
    * an off-by-one in the anti join shifts counts, mins AND char sums.
    * The end-to-end wiring (stub ODS → silver `/deletes` twin → gold
    * reflects removals, diffSummary audit) runs in OpsSpec. */
  private val q97 = Q(
    "q97_cdc_deletes",
    (s, dir) => {
      val docs = Lake(s, dir).documents
      val deletes = docs.filter(pmod(col("doc_id"), lit(7)) === 2)
        .select("doc_id")
      graft.ops.Snapshot.applyDeletes(docs, deletes, "doc_id")
        .groupBy(pmod(col("doc_id"), lit(5)).as("bucket"))
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"),
          sum(length(col("text"))).as("n_chars"))
        .orderBy("bucket")
    },
    Some("""
      WITH surv AS (SELECT * FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 7 = 2))
      SELECT doc_id % 5 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
        MIN(doc_id) AS min_doc, CAST(SUM(length(text)) AS BIGINT) AS n_chars
      FROM surv GROUP BY doc_id % 5 ORDER BY bucket""")
  )

  // ---------------------------------------------------------------- q98
  /** IVF serving against a PERSISTED index —
    * [[graft.ops.Similarity.ivfTopKFromAssigned]] under the hash gate:
    * the assignment pass writes to parquet partitioned by cluster_id
    * (the incrementalMinhash persisted-index shape applied to ANN), the
    * query batch probes the read-back index. Shares q36's oracle SQL:
    * correctness here asserts the parquet round-trip preserves the
    * mathematical result exactly (doubles included), while the bench
    * override times the serving path with the index build split out as
    * setup. */
  private val q98 = Q(
    "q98_ann_ivf_served",
    (s, dir) => {
      val corpus = Similarity.withNorm(Lake(s, dir).embeddings, "vec_id", "embedding")
      val centroids = corpus.filter(col("vec_id") < 16)
      val queries = corpus.filter(col("vec_id") < 8)
      val tmp = java.nio.file.Files.createTempDirectory("graft-q98-index").toString
      Similarity.ivfAssign(corpus, centroids)
        .write.mode("overwrite").partitionBy("cluster_id").parquet(s"$tmp/index")
      val assigned = Lake.open(s, s"$tmp/index")
      graft.core.SilverWriter.deleteOnExit(tmp)
      Similarity.ivfTopKFromAssigned(assigned, centroids, queries, k = 5, nProbe = 2)
        .select("query_id", "neighbor_id", "cos", "rank")
        .orderBy("query_id", "rank")
    },
    Some(IvfTopkSql)
  )

  // --------------------------------------------------------------- q103
  /** BFS crawl depth — [[graft.ops.WebGraph.crawlDepth]] under the hash
    * gate: minimum hop count from the q90 seed set over the q82 link
    * graph, bounded at 3 hops. Min-hop is integer-exact and unique, so
    * an iterative frontier loop is hash-gateable the same way the rank
    * loops are; the oracle unrolls the same rounds as a min-fold
    * (round k = min(round k-1, 1 + depth of an in-neighbor at k-1)),
    * each round CTE MATERIALIZED (referenced twice — DuckDB's default
    * inlining would re-expand the chain exponentially, the q92
    * lesson). */
  private val q103 = {
    val maxDepth = 3
    val step = (k: Int) => s"""
      d$k AS MATERIALIZED (SELECT host, MIN(depth) AS depth FROM (
          SELECT host, depth FROM d${k - 1}
          UNION ALL
          SELECT e.dst AS host, $k AS depth
          FROM e JOIN d${k - 1} p ON p.host = e.src AND p.depth = ${k - 1})
        GROUP BY host)"""
    Q(
      "q103_crawl_depth",
      (s, dir) => {
        val pages = linkPagesSpark(s, dir)
        val edges = WebGraph.hostEdges(pages, col("src_host"), col("html"))
        val seeds = Lake(s, dir).documents
          .filter(pmod(col("doc_id"), lit(17)) < 3)
          .select(concat(lit("h"), pmod(col("doc_id"), lit(17)),
            lit(".example")).as("host"))
          .distinct()
        WebGraph.crawlDepth(edges, seeds, maxDepth).orderBy("host")
      },
      Some(s"""
      WITH $linkHostsSql,
      eall AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM lhosts
               WHERE dst_host <> ''),
      e AS MATERIALIZED (SELECT * FROM eall WHERE src <> dst),
      h AS (SELECT src AS host FROM eall UNION SELECT dst FROM eall),
      seeds AS (SELECT DISTINCT
          'h' || CAST(doc_id % 17 AS VARCHAR) || '.example' AS host
        FROM documents WHERE doc_id % 17 < 3),
      d0 AS MATERIALIZED (SELECT h.host, 0 AS depth
        FROM h JOIN seeds s ON s.host = h.host),
      ${(1 to maxDepth).map(step).mkString(",")}
      SELECT host, CAST(depth AS BIGINT) AS depth FROM d$maxDepth
      ORDER BY host""")
    )
  }

  // --------------------------------------------------------------- q104
  /** FLAC audio metadata — the q75 shape over the second audio
    * container: each doc gets a REAL 42-byte fLaC/STREAMINFO header
    * built from per-doc parameters, and
    * [[graft.ops.Multimodal.decodeAudioMeta]] (which now tries WAV then
    * FLAC) reads the packed 20/3/5/36-bit word back through genuine
    * container bytes. The oracle recomputes the parameters
    * arithmetically — the bit packing must round-trip exactly. */
  private val q104 = Q(
    "q104_flac_meta",
    (s, dir) => {
      import s.implicits._
      val flacs = Lake(s, dir).documents
        .select(col("doc_id"), length(col("text")).cast("long").as("__n"))
        .as[(Long, Long)]
        .mapPartitions(_.map { case (id, n) =>
          (id, Multimodal.flacHeader(
            sampleRate = 32000L + (id % 4) * 12000L,
            channels = id % 8 + 1,
            bitsPerSample = if (id % 2 == 0) 16L else 24L,
            nSamples = n))
        })
        .toDF("doc_id", "media")
      Multimodal.decodeAudioMeta(flacs, "doc_id", "media")
        .toDF().orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
        CAST(32000 + (doc_id % 4) * 12000 AS BIGINT) AS sample_rate,
        CAST(doc_id % 8 + 1 AS BIGINT) AS channels,
        CAST(CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 24 END AS BIGINT)
          AS bits_per_sample,
        CAST(length(text) AS BIGINT) AS n_samples,
        CAST(length(text) * 1000 // (32000 + (doc_id % 4) * 12000) AS BIGINT)
          AS duration_ms
      FROM documents ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q105
  /** MP4 (ISO BMFF) video metadata — each doc gets a real
    * ftyp + moov/mvhd prefix (mvhd version alternating v0/v1, so both
    * layouts are under the gate) and
    * [[graft.ops.Multimodal.decodeVideoMeta]]'s box walk reads brand,
    * timescale and duration back. The oracle recomputes the
    * parameters; duration_ms is exact integer arithmetic. */
  private val q105 = Q(
    "q105_video_meta",
    (s, dir) => {
      import s.implicits._
      val mp4s = Lake(s, dir).documents
        .select(col("doc_id"), length(col("text")).cast("long").as("__n"))
        .as[(Long, Long)]
        .mapPartitions(_.map { case (id, n) =>
          val brand = (id % 3) match {
            case 0 => "isom"
            case 1 => "mp42"
            case _ => "avc1"
          }
          (id, Multimodal.mp4Header(
            brand = brand,
            timescale = 600L * (id % 5 + 1),
            duration = n * (id % 7 + 1),
            version = (id % 2).toInt))
        })
        .toDF("doc_id", "media")
      Multimodal.decodeVideoMeta(mp4s, "doc_id", "media")
        .toDF().orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
        CASE doc_id % 3 WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42'
          ELSE 'avc1' END AS brand,
        CAST(600 * (doc_id % 5 + 1) AS BIGINT) AS timescale,
        CAST(length(text) * (doc_id % 7 + 1) AS BIGINT) AS duration_units,
        CAST(length(text) * (doc_id % 7 + 1) * 1000
             // (600 * (doc_id % 5 + 1)) AS BIGINT) AS duration_ms
      FROM documents ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q106
  /** Z-order key arithmetic — [[graft.ops.Layout.zorderKey]] +
    * [[graft.ops.Layout.scaleToBits]] under the hash gate: the Morton
    * interleave of (user_id, value rescaled onto the 16-bit grid) for
    * every event. Both engines compute the key from the SAME generated
    * term list ([[graft.ops.Layout.zorderKeySql]] splices the oracle),
    * so the bit math that drives the file-skipping layout (PlanSpec's
    * z-order pruning test) can never drift from what the lake would
    * actually write. */
  private val q106 = Q(
    "q106_zorder_key",
    (s, dir) =>
      Lake(s, dir).events
        .select(col("event_id"),
          Layout.zorderKey(Seq(
            col("user_id"),
            Layout.scaleToBits(col("value"), 0.0, 500.0))).as("z"))
        .orderBy("event_id"),
    Some(s"""
      SELECT event_id,
        ${Layout.zorderKeySql(Seq("user_id",
          Layout.scaleToBitsSql("value", 0.0, 500.0)))} AS z
      FROM events ORDER BY event_id""")
  )

  // --------------------------------------------------------------- q108
  /** Host-graph connected components —
    * [[graft.ops.WebGraph.hostComponents]] under the hash gate: the
    * q50 pointer-jump loop applied to the crawl domain, component id =
    * lexicographically smallest member host. The fixture's ×3+1 mod-7
    * orbit splits each of five site groups into one 6-host component
    * plus a self-loop-only singleton (h3 → h3), so the gate covers the
    * self-loop contract AND the min-label fixpoint; the oracle is the
    * same fixpoint as a recursive CTE. */
  private val q108 = Q(
    "q108_host_components",
    (s, dir) => {
      val edges = Lake(s, dir).documents.select(
        concat(lit("c"), pmod(col("doc_id"), lit(5)),
          lit("h"), pmod(col("doc_id"), lit(7))).as("src_host"),
        concat(lit("c"), pmod(col("doc_id"), lit(5)),
          lit("h"), pmod(col("doc_id") * 3 + 1, lit(7))).as("dst_host"))
      WebGraph.hostComponents(edges).orderBy("host")
    },
    Some("""
      WITH RECURSIVE f AS (SELECT
          'c' || CAST(doc_id % 5 AS VARCHAR) || 'h'
            || CAST(doc_id % 7 AS VARCHAR) AS src,
          'c' || CAST(doc_id % 5 AS VARCHAR) || 'h'
            || CAST((doc_id * 3 + 1) % 7 AS VARCHAR) AS dst
        FROM documents),
      eall AS (SELECT DISTINCT src, dst FROM f),
      hosts AS (SELECT src AS host FROM eall UNION SELECT dst FROM eall),
      e AS (SELECT * FROM eall WHERE src <> dst),
      edges AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
      reach AS (
        SELECT host AS node, host AS label FROM hosts
        UNION
        SELECT e.dst AS node, r.label
        FROM reach r JOIN edges e ON r.node = e.src),
      cc AS (SELECT node AS host, MIN(label) AS component
             FROM reach GROUP BY node)
      SELECT host, component FROM cc ORDER BY host""")
  )

  // --------------------------------------------------------------- q109
  /** robots.txt parsing — [[graft.ops.WebGraph.parseRobots]] under the
    * hash gate: per-doc robots bodies (every fifth file omits its
    * Crawl-delay, exercising the null fallback) parsed to the policy
    * shape q95's schedule consumes; disallow lists sort and digest to
    * a `|`-joined string so the array is hash-comparable. */
  private val q109 = Q(
    "q109_robots_parse",
    (s, dir) => {
      val body = concat(
        lit("User-agent: *\n"),
        when(pmod(col("doc_id"), lit(5)) === 0, lit(""))
          .otherwise(concat(lit("Crawl-delay: "),
            pmod(col("doc_id"), lit(7)), lit("\n"))),
        lit("Disallow: /p"), pmod(col("doc_id"), lit(3)), lit("\n"),
        lit("Disallow: /tmp"))
      val robots = Lake(s, dir).documents
        .select(concat(lit("h"), col("doc_id"), lit(".example")).as("host"),
          body.as("body"))
      WebGraph.parseRobots(robots, "host", "body")
        .select(col("host"), col("crawl_delay_s"),
          concat_ws("|", col("disallow")).as("disallow_digest"),
          size(col("disallow")).cast("long").as("n_rules"))
        .orderBy("host")
    },
    Some("""
      WITH r AS (SELECT
          'h' || CAST(doc_id AS VARCHAR) || '.example' AS host,
          'User-agent: *' || chr(10) ||
          CASE WHEN doc_id % 5 = 0 THEN '' ELSE
            'Crawl-delay: ' || CAST(doc_id % 7 AS VARCHAR) || chr(10) END ||
          'Disallow: /p' || CAST(doc_id % 3 AS VARCHAR) || chr(10) ||
          'Disallow: /tmp' AS body
        FROM documents),
      p AS (SELECT host,
          CASE WHEN regexp_extract(body, '(?i)crawl-delay:\s*([0-9]+)', 1) = ''
               THEN NULL
               ELSE CAST(regexp_extract(body,
                 '(?i)crawl-delay:\s*([0-9]+)', 1) AS BIGINT) END
            AS crawl_delay_s,
          list_sort(regexp_extract_all(body, '(?i)disallow:\s*(\S+)', 1))
            AS dis
        FROM r)
      SELECT host, crawl_delay_s,
        array_to_string(dis, '|') AS disallow_digest,
        CAST(len(dis) AS BIGINT) AS n_rules
      FROM p ORDER BY host""")
  )

  // --------------------------------------------------------------- q110
  /** MP3 frame-header metadata — the q75/q104 shape for MPEG audio:
    * real ID3v2-prefixed Layer-III headers (syncsafe tag skip
    * exercised by a per-doc tag size) parsed back by
    * [[graft.ops.Multimodal.parseMp3Header]]; the oracle recomputes
    * version and the bitrate/sample-rate TABLE lookups arithmetically,
    * so the gate covers the index decoding, not just the sync walk. */
  private val q110 = Q(
    "q110_mp3_meta",
    (s, dir) => {
      import s.implicits._
      val mp3s = Lake(s, dir).documents
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.mp3Header(
            mpeg1 = id % 2 == 0,
            bitrateIndex = (id % 14 + 1).toInt,
            sampleRateIndex = (id % 3).toInt,
            tagBytes = (id % 50).toInt))
        })
        .toDF("doc_id", "media")
      Multimodal.decodeMp3(mp3s, "doc_id", "media").toDF().orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
        CASE WHEN doc_id % 2 = 0 THEN 'mpeg1' ELSE 'mpeg2' END AS version,
        CAST(3 AS BIGINT) AS layer,
        CAST(CASE WHEN doc_id % 2 = 0
          THEN list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
                 CAST(doc_id % 14 + 1 AS INTEGER))
          ELSE list_extract([8,16,24,32,40,48,56,64,80,96,112,128,144,160],
                 CAST(doc_id % 14 + 1 AS INTEGER)) END AS BIGINT) AS bitrate_kbps,
        CAST(CASE WHEN doc_id % 2 = 0
          THEN list_extract([44100,48000,32000], CAST(doc_id % 3 + 1 AS INTEGER))
          ELSE list_extract([22050,24000,16000], CAST(doc_id % 3 + 1 AS INTEGER))
          END AS BIGINT) AS sample_rate
      FROM documents ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q111
  /** Ogg/Opus identification-header metadata: a genuine single-page
    * Ogg stream per doc, [[graft.ops.Multimodal.parseOpusHead]]'s
    * segment-table walk recovering channels / pre-skip / input rate. */
  private val q111 = Q(
    "q111_opus_meta",
    (s, dir) => {
      import s.implicits._
      val oggs = Lake(s, dir).documents
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.opusHeader(
            channels = id % 8 + 1,
            preSkip = id % 1000,
            sampleRate = 8000L + (id % 5) * 9600L))
        })
        .toDF("doc_id", "media")
      Multimodal.decodeOpus(oggs, "doc_id", "media").toDF().orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
        CAST(doc_id % 8 + 1 AS BIGINT) AS channels,
        CAST(doc_id % 1000 AS BIGINT) AS pre_skip,
        CAST(8000 + (doc_id % 5) * 9600 AS BIGINT) AS input_sample_rate
      FROM documents ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q125
  /** REAL image pixels under the hash gate: a genuine 24-bit BMP per doc
    * (dimensions and pixel values functions of doc_id), decoded by
    * [[graft.ops.Multimodal.decodeBmp]], nearest-neighbor resampled to
    * 8×8 and reduced to exact channel means — the full decode → resize →
    * feature-extract chain with zero stubs. The oracle recomputes the
    * identical integer sampling arithmetic ((x·W)/8 source coords, mod-256
    * pixel functions) without ever seeing a byte, so a hash match proves
    * the byte-level codec right. */
  private val q125 = Q(
    "q125_image_features",
    (s, dir) => {
      import s.implicits._
      val bmps = Lake(s, dir).documents
        .filter(col("doc_id") < 400)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = (8 + id % 9).toInt
          val h = (6 + id % 7).toInt
          val rgb = new Array[Byte](w * h * 3)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val i = (y * w + x) * 3
              rgb(i) = ((id + x + 2L * y) % 256).toByte
              rgb(i + 1) = ((2L * id + 3L * x + y) % 256).toByte
              rgb(i + 2) = ((id + 5L * x + 7L * y) % 256).toByte
              x += 1
            }
            y += 1
          }
          (id, Multimodal.encodeBmp(Multimodal.DecodedImage(w, h, rgb)))
        })
        .toDF("doc_id", "media")
      Multimodal.imageFeatures(bmps, "doc_id", "media", 8, 8)
        .toDF().orderBy("doc_id")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, 8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h
        FROM documents WHERE doc_id < 400),
      grid AS (
        SELECT doc_id, w, h, t1.x, t2.y
        FROM ids,
          unnest(generate_series(0, 7)) AS t1(x),
          unnest(generate_series(0, 7)) AS t2(y)),
      sampled AS (
        SELECT doc_id,
          (doc_id + (x * w) // 8 + 2 * ((y * h) // 8)) % 256 AS r,
          (2 * doc_id + 3 * ((x * w) // 8) + (y * h) // 8) % 256 AS g,
          (doc_id + 5 * ((x * w) // 8) + 7 * ((y * h) // 8)) % 256 AS b
        FROM grid)
      SELECT doc_id,
        CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        CAST(SUM(r) AS DOUBLE) / 64 AS mean_r,
        CAST(SUM(g) AS DOUBLE) / 64 AS mean_g,
        CAST(SUM(b) AS DOUBLE) / 64 AS mean_b
      FROM sampled GROUP BY doc_id ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q126
  /** Image near-dup fingerprinting on REAL pixels: 64-bit average-hash
    * (8×8 grayscale, integer mean threshold) per generated BMP, plus the
    * per-hash duplicate count. The fixture keys image content on
    * doc_id % 50, so each of the 50 content classes collapses to ONE
    * hash — the image-dedup story: pixel-identical deliveries collapse
    * regardless of doc identity, and near-identical ones land a Hamming
    * band-join away ([[graft.ops.Dedup.simhashPairs]] over this column).
    * The oracle restates the whole integer pipeline (sampling, ⌊/3⌋
    * grayscale, ⌊/64⌋ mean, threshold, ordered bit concat) in SQL. */
  private val q126 = Q(
    "q126_image_ahash",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val bmps = Lake(s, dir).documents
        .filter(col("doc_id") < 400)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val k = id % 50
          val w = (8 + k % 9).toInt
          val h = (6 + k % 7).toInt
          val rgb = new Array[Byte](w * h * 3)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val i = (y * w + x) * 3
              rgb(i) = ((k + x + 2L * y) % 256).toByte
              rgb(i + 1) = ((2L * k + 3L * x + y) % 256).toByte
              rgb(i + 2) = ((k + 5L * x + 7L * y) % 256).toByte
              x += 1
            }
            y += 1
          }
          (id, Multimodal.encodeBmp(Multimodal.DecodedImage(w, h, rgb)))
        })
        .toDF("doc_id", "media")
      Multimodal.imageAHash(bmps, "doc_id", "media").toDF()
        .withColumn("dup_count",
          count(lit(1)).over(Window.partitionBy("ahash")))
        .orderBy("doc_id")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, doc_id % 50 AS k,
          8 + (doc_id % 50) % 9 AS w, 6 + (doc_id % 50) % 7 AS h
        FROM documents WHERE doc_id < 400),
      grid AS (
        SELECT doc_id, k, w, h, t1.x, t2.y,
          (x * w) // 8 AS sx, (y * h) // 8 AS sy
        FROM ids,
          unnest(generate_series(0, 7)) AS t1(x),
          unnest(generate_series(0, 7)) AS t2(y)),
      gray AS (
        SELECT doc_id, x, y,
          ((k + sx + 2 * sy) % 256 + (2 * k + 3 * sx + sy) % 256
            + (k + 5 * sx + 7 * sy) % 256) // 3 AS g
        FROM grid),
      hashed AS (
        SELECT doc_id,
          string_agg(CASE WHEN g > m THEN '1' ELSE '0' END, ''
                     ORDER BY y, x) AS ahash
        FROM (SELECT doc_id, x, y, g,
                SUM(g) OVER (PARTITION BY doc_id) // 64 AS m
              FROM gray)
        GROUP BY doc_id)
      SELECT doc_id, ahash,
        COUNT(*) OVER (PARTITION BY ahash) AS dup_count
      FROM hashed ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q127
  /** REAL audio features under the hash gate: genuine 16-bit PCM WAV
    * payloads (samples a function of doc_id), walked sample-by-sample to
    * exact integer statistics — count, peak amplitude, Σ|s|, ⌊Σs²/n⌋.
    * The oracle regenerates the identical samples with generate_series
    * and aggregates them in SQL; a hash match proves the byte-level PCM
    * walk. Completes the audio arm: header parses were already real,
    * now the payload is too. */
  private val q127 = Q(
    "q127_audio_pcm_stats",
    (s, dir) => {
      import s.implicits._
      val wavs = Lake(s, dir).documents
        .filter(col("doc_id") < 400)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val n = (200 + id % 100).toInt
          val samples = Array.tabulate(n)(i =>
            (((id * 31 + i * 17) % 2048) - 1024).toShort)
          (id, Multimodal.pcm16Wav(16000L, samples))
        })
        .toDF("doc_id", "media")
      Multimodal.pcmStats(wavs, "doc_id", "media").toDF().orderBy("doc_id")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, 200 + doc_id % 100 AS n
        FROM documents WHERE doc_id < 400),
      samp AS (
        SELECT doc_id, n,
          (doc_id * 31 + t.i * 17) % 2048 - 1024 AS s
        FROM ids, unnest(generate_series(0, n - 1)) AS t(i))
      SELECT doc_id,
        COUNT(*) AS n_samples,
        CAST(MAX(ABS(s)) AS BIGINT) AS peak,
        CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
        CAST(SUM(s * s) // COUNT(*) AS BIGINT) AS mean_sq
      FROM samp GROUP BY doc_id ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q128
  /** REAL video frame sampling under the hash gate: genuine mono
    * YUV4MPEG2 streams (luma a function of doc_id, frame, x, y), walked
    * frame-by-frame at stride 2 by [[graft.ops.Multimodal.y4mFrameStats]]
    * to exact integer luma statistics per sampled frame. The oracle
    * regenerates the identical pixels with generate_series — a hash
    * match proves the container walk (header parse, FRAME markers,
    * geometry-derived frame boundaries). Completes the video arm: frame
    * boundaries now come from a real parsed container, not byte
    * slicing. */
  private val q128 = Q(
    "q128_video_frame_stats",
    (s, dir) => {
      import s.implicits._
      val vids = Lake(s, dir).documents
        .filter(col("doc_id") < 300)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = (8 + id % 5).toInt
          val h = (6 + id % 4).toInt
          val nFrames = (3 + id % 4).toInt
          val frames = (0 until nFrames).map { f =>
            Array.tabulate(w * h) { i =>
              val x = i % w; val y = i / w
              ((id + 11L * f + 3L * x + 5L * y) % 256).toByte
            }
          }
          (id, Multimodal.y4mMono(w, h, frames))
        })
        .toDF("doc_id", "media")
      Multimodal.y4mFrameStats(vids, "doc_id", "media", stride = 2)
        .toDF().orderBy("doc_id", "frame_idx")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h,
          3 + doc_id % 4 AS nf
        FROM documents WHERE doc_id < 300),
      frames AS (
        SELECT doc_id, w, h, t.f
        FROM ids, unnest(generate_series(0, nf - 1)) AS t(f)
        WHERE t.f % 2 = 0),
      px AS (
        SELECT doc_id, w, h, f,
          (doc_id + 11 * f + 3 * t1.x + 5 * t2.y) % 256 AS v
        FROM frames,
          unnest(generate_series(0, w - 1)) AS t1(x),
          unnest(generate_series(0, h - 1)) AS t2(y))
      SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
        CAST(SUM(v) // (w * h) AS BIGINT) AS mean_y,
        CAST(MAX(v) AS BIGINT) AS peak_y
      FROM px GROUP BY doc_id, f, w, h
      ORDER BY doc_id, frame_idx""")
  )

  // --------------------------------------------------------------- q132
  /** WebDataset-style shard ingestion under the hash gate: genuine POSIX
    * ustar archives (members, sizes and ASCII payloads all functions of
    * doc_id), walked by [[graft.ops.Multimodal.tarMembers]] with header
    * checksum verification, emitting each member's exact size and content
    * md5. The oracle rebuilds the identical payload STRINGS with repeat()
    * and hashes them in SQL — a hash match proves the 512-byte-block
    * archive walk byte-for-byte. */
  private val q132 = Q(
    "q132_tar_shard_members",
    (s, dir) => {
      import s.implicits._
      val tars = Lake(s, dir).documents
        .filter(col("doc_id") < 300)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val members = (0 until (2 + id % 3).toInt).map { i =>
            val reps = (10 + (id + i) % 5).toInt
            (s"doc$id/part$i.txt",
              (s"payload-$id-$i|" * reps).getBytes("US-ASCII"))
          }
          (id, Multimodal.tarArchive(members))
        })
        .toDF("doc_id", "media")
      Multimodal.tarMembers(tars, "doc_id", "media").toDF()
        .orderBy("doc_id", "member_name")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, 2 + doc_id % 3 AS nm
        FROM documents WHERE doc_id < 300),
      members AS (
        SELECT doc_id,
          'doc' || CAST(doc_id AS VARCHAR) || '/part'
            || CAST(t.i AS VARCHAR) || '.txt' AS member_name,
          repeat('payload-' || CAST(doc_id AS VARCHAR) || '-'
            || CAST(t.i AS VARCHAR) || '|',
            CAST(10 + (doc_id + t.i) % 5 AS INT)) AS payload
        FROM ids, unnest(generate_series(0, nm - 1)) AS t(i))
      SELECT doc_id, member_name,
        CAST(length(payload) AS BIGINT) AS n_bytes,
        md5(payload) AS content_md5
      FROM members ORDER BY doc_id, member_name""")
  )

  // --------------------------------------------------------------- q133
  /** Compressed shard ingestion (.tar.gz, WebDataset's wire form): the
    * q132 archives gzip-compressed with the JVM's own DEFLATE — a REAL
    * decompressor, not a stub — and walked through the same checksum-
    * verified member path. The oracle is identical to q132's (member
    * payloads rebuilt in SQL): a hash match proves gunzip ∘ tar-walk
    * recovers every byte. Fixture mirrors q132 with a doc_id offset so
    * both gates stay independently diagnosable. */
  private val q133 = Q(
    "q133_targz_shard_members",
    (s, dir) => {
      import s.implicits._
      val tars = Lake(s, dir).documents
        .filter(col("doc_id") >= 300 && col("doc_id") < 500)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val members = (0 until (2 + id % 3).toInt).map { i =>
            val reps = (10 + (id + i) % 5).toInt
            (s"doc$id/part$i.txt",
              (s"payload-$id-$i|" * reps).getBytes("US-ASCII"))
          }
          val gz = new java.io.ByteArrayOutputStream()
          val z = new java.util.zip.GZIPOutputStream(gz)
          z.write(Multimodal.tarArchive(members)); z.close()
          (id, gz.toByteArray)
        })
        .toDF("doc_id", "media")
      Multimodal.tarMembers(tars, "doc_id", "media").toDF()
        .orderBy("doc_id", "member_name")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, 2 + doc_id % 3 AS nm
        FROM documents WHERE doc_id >= 300 AND doc_id < 500),
      members AS (
        SELECT doc_id,
          'doc' || CAST(doc_id AS VARCHAR) || '/part'
            || CAST(t.i AS VARCHAR) || '.txt' AS member_name,
          repeat('payload-' || CAST(doc_id AS VARCHAR) || '-'
            || CAST(t.i AS VARCHAR) || '|',
            CAST(10 + (doc_id + t.i) % 5 AS INT)) AS payload
        FROM ids, unnest(generate_series(0, nm - 1)) AS t(i))
      SELECT doc_id, member_name,
        CAST(length(payload) AS BIGINT) AS n_bytes,
        md5(payload) AS content_md5
      FROM members ORDER BY doc_id, member_name""")
  )

  // --------------------------------------------------------------- q134
  /** ZIP shard ingestion — the third shard container, through the JVM's
    * real INFLATE ([[graft.ops.Multimodal.parseZipMembers]], zip-bomb
    * capped): same member fixture and oracle shape as q132/q133, so the
    * three container gates (ustar, tar.gz, zip) are mutually
    * diagnosable. `tarMembers` sniffs the PK magic and routes
    * automatically — one ingestion entry point for all shard forms. */
  private val q134 = Q(
    "q134_zip_shard_members",
    (s, dir) => {
      import s.implicits._
      val zips = Lake(s, dir).documents
        .filter(col("doc_id") >= 100 && col("doc_id") < 300)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val members = (0 until (2 + id % 3).toInt).map { i =>
            val reps = (10 + (id + i) % 5).toInt
            (s"doc$id/part$i.txt",
              (s"payload-$id-$i|" * reps).getBytes("US-ASCII"))
          }
          (id, Multimodal.zipArchive(members))
        })
        .toDF("doc_id", "media")
      Multimodal.tarMembers(zips, "doc_id", "media").toDF()
        .orderBy("doc_id", "member_name")
    },
    Some("""
      WITH ids AS (
        SELECT doc_id, 2 + doc_id % 3 AS nm
        FROM documents WHERE doc_id >= 100 AND doc_id < 300),
      members AS (
        SELECT doc_id,
          'doc' || CAST(doc_id AS VARCHAR) || '/part'
            || CAST(t.i AS VARCHAR) || '.txt' AS member_name,
          repeat('payload-' || CAST(doc_id AS VARCHAR) || '-'
            || CAST(t.i AS VARCHAR) || '|',
            CAST(10 + (doc_id + t.i) % 5 AS INT)) AS payload
        FROM ids, unnest(generate_series(0, nm - 1)) AS t(i))
      SELECT doc_id, member_name,
        CAST(length(payload) AS BIGINT) AS n_bytes,
        md5(payload) AS content_md5
      FROM members ORDER BY doc_id, member_name""")
  )

  // --------------------------------------------------------------- q112
  /** Log₂-bucketed length histogram per source —
    * [[graft.ops.Stats.logHistogram]] under the hash gate: the
    * dataset-card distribution with integer-exact bucket edges
    * (binary digit count, no floating log to disagree on). */
  private val q112 = Q(
    "q112_length_histogram",
    (s, dir) =>
      graft.ops.Stats.logHistogram(
        Lake(s, dir).documents, "n_chars", Seq("source"))
        .orderBy("source", "bucket"),
    Some("""
      SELECT source,
        CAST(CASE WHEN n_chars <= 0 THEN 0
             ELSE length(bin(n_chars)) END AS BIGINT) AS bucket,
        COUNT(*) AS n,
        MIN(n_chars) AS min_value,
        MAX(n_chars) AS max_value
      FROM documents GROUP BY 1, 2 ORDER BY source, bucket""")
  )

  // --------------------------------------------------------------- q138
  /** Exact heavy hitters with count-min-sketch candidate pruning
    * ([[graft.ops.Sketches.heavyHitters]]): words appearing ≥ N/200
    * times across the corpus (N = total tokens). The sketch pass
    * shuffles ≤ depth×width cells, the verify pass shuffles only
    * candidate-matching rows — but the OUTPUT is exact, which is why a
    * plain GROUP BY/HAVING oracle can gate an approximate data
    * structure: CMS's one-sided error (never undercounts) means the
    * candidate set provably contains every true heavy hitter, and the
    * exact verify kills the false positives. */
  private val q138 = Q(
    "q138_heavy_hitters",
    (s, dir) => {
      val words = Lake(s, dir).documents
        .select(explode(split(col("text"), " ")).as("word"))
      val threshold = words.count() / 200
      graft.ops.Sketches.heavyHitters(words, "word", threshold)
        .orderBy("word")
    },
    Some("""
      WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      tot AS (SELECT COUNT(*) AS n FROM words)
      SELECT word, COUNT(*) AS n
      FROM words
      GROUP BY word
      HAVING COUNT(*) >= (SELECT n // 200 FROM tot)
      ORDER BY word""")
  )

  // --------------------------------------------------------------- q146
  /** Per-document keyword extraction ([[graft.ops.Index.keywords]]):
    * top-3 terms by RATIONAL tf·idf (tf·N/df — same ordering signal as
    * the log form, zero transcendental rounding to disagree on), one
    * term exchange for tf/df and one hash(doc) window for the top-k. */
  private val q146 = Q(
    "q146_keywords",
    (s, dir) =>
      Index.keywords(Lake(s, dir).documents, "doc_id", "text", 3)
        .orderBy("doc_id", "rank"),
    Some("""
      WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
      p AS (SELECT term, doc_id AS doc, COUNT(*) AS tf
            FROM words GROUP BY 1, 2),
      dfreq AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term),
      nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
      scored AS (
        SELECT p.doc, p.term, p.tf, dfreq.df,
          CAST(p.tf * nn.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE) AS score
        FROM p JOIN dfreq USING (term) CROSS JOIN nn),
      r AS (SELECT doc, term, tf, df, score,
              row_number() OVER (PARTITION BY doc
                ORDER BY score DESC, term) AS rank
            FROM scored)
      SELECT doc AS doc_id, term, tf, df, score, rank
      FROM r WHERE rank <= 3 ORDER BY doc_id, rank""")
  )

  // --------------------------------------------------------------- q147
  /** Collocation mining ([[graft.ops.Index.collocations]]): adjacent
    * word pairs at support ≥ 5 ranked by rational lift
    * (n_ab·T / n_a·n_b) — the log-free PMI ordering. Pair explode rides
    * the scan; unigram joins stay word-keyed shuffles (a web-scale
    * vocabulary is not broadcast-sized). */
  private val q147 = Q(
    "q147_collocations",
    (s, dir) =>
      Index.collocations(Lake(s, dir).documents, "text",
        minCount = 5, topK = 25)
        .orderBy(col("lift").desc, col("w1"), col("w2")),
    Some("""
      WITH ws AS (
        SELECT list_filter(string_split(text, ' '),
          w -> length(w) > 0) AS ws
        FROM documents),
      uni AS (SELECT w, COUNT(*) AS n
              FROM (SELECT unnest(ws) AS w FROM ws) GROUP BY w),
      pairs AS (
        SELECT p[1] AS w1, p[2] AS w2, COUNT(*) AS n_ab
        FROM (SELECT unnest(list_zip(ws[1:len(ws) - 1], ws[2:len(ws)])) AS p
              FROM ws)
        GROUP BY 1, 2 HAVING COUNT(*) >= 5),
      tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS t FROM pairs)
      SELECT w1, w2, n_ab, u1.n AS n_a, u2.n AS n_b,
        CAST(n_ab * t AS DOUBLE) / CAST(u1.n * u2.n AS DOUBLE) AS lift
      FROM pairs
      JOIN uni u1 ON u1.w = pairs.w1
      JOIN uni u2 ON u2.w = pairs.w2
      CROSS JOIN tot
      ORDER BY lift DESC, w1, w2 LIMIT 25""")
  )

  // --------------------------------------------------------------- q145
  /** Leakage-proof train/val/test split of the event log by USER
    * ([[graft.ops.Sampling.groupSplit]] 80/10/10 + `splitLeakage`):
    * the label hashes the group key only, so a user's whole history
    * lands in one split — the audit column proves it (0 straddling
    * users, pinned by the gate; row-hash splitting is the classic
    * eval-leakage bug this makes unrepresentable). The oracle mirrors
    * the md5-prefix draw and cumulative thresholds exactly (q51's
    * engine-reproducibility contract applied to splits). */
  private val q145 = Q(
    "q145_group_split",
    (s, dir) => {
      val split = Sampling.groupSplit(
        Lake(s, dir).events, "user_id", 0.8, 0.1, salt = "split1")
      val per = split.groupBy("split").agg(
        count(lit(1)).as("n_rows"),
        count_distinct(col("user_id")).as("n_users"))
      per.crossJoin(Sampling.splitLeakage(split, "user_id", "split"))
        .orderBy("split")
    },
    Some(s"""
      WITH s AS (
        SELECT user_id,
          CASE WHEN substring(md5(CAST(user_id AS VARCHAR) || 'split1'), 1, 3)
                 < '${Sampling.thresholdHex(0.8)}' THEN 'train'
               WHEN substring(md5(CAST(user_id AS VARCHAR) || 'split1'), 1, 3)
                 < '${Sampling.thresholdHex(0.9)}' THEN 'val'
               ELSE 'test' END AS split
        FROM events),
      per AS (
        SELECT split, COUNT(*) AS n_rows,
          COUNT(DISTINCT user_id) AS n_users
        FROM s GROUP BY split),
      leak AS (
        SELECT COUNT(*) FILTER (WHERE ns > 1) AS n_leaky_groups
        FROM (SELECT user_id, COUNT(DISTINCT split) AS ns
              FROM s GROUP BY user_id))
      SELECT split, n_rows, n_users, n_leaky_groups
      FROM per CROSS JOIN leak ORDER BY split""")
  )

  // --------------------------------------------------------------- q141
  /** Record linkage over a deterministic dirty twin of `customer`
    * ([[graft.ops.Linkage.bestMatches]]): names perturbed at the tail
    * (truncate / append / substitute by custkey mod 3), blocked on
    * (nation, the perturbation-stable digit slice), scored with edit
    * distance, resolved per dirty record by (distance, id). The dirty
    * records' own keys never see the original name — block keys derive
    * from the dirty string, as production linkage must. `is_correct`
    * audits resolution against the known ground truth; near-miss
    * neighbors (same block, tail digits off by an edit) make the
    * ranking genuinely load-bearing. */
  private val q141 = Q(
    "q141_record_linkage",
    (s, dir) => {
      val c = Lake(s, dir).customer
      val clean = c.select(col("c_custkey").as("rid"),
        col("c_name").as("name"), col("c_nationkey").as("nk"),
        substring(col("c_name"), 10, 7).as("blk"))
      val dirtyName = when(pmod(col("c_custkey"), lit(3)) === 0,
          substring(col("c_name"), 1, 17))
        .when(pmod(col("c_custkey"), lit(3)) === 1,
          concat(col("c_name"), lit("x")))
        .otherwise(concat(substring(col("c_name"), 1, 17), lit("Z")))
      val dirty = c.select(col("c_custkey").as("rid"),
        dirtyName.as("name"), col("c_nationkey").as("nk"))
        .withColumn("blk", substring(col("name"), 10, 7))
      Linkage.bestMatches(dirty, clean, "rid", "name", Seq("nk", "blk"), 2)
        .withColumn("is_correct",
          (col("match_id") === col("dirty_id")).cast("int"))
        .orderBy("dirty_id")
    },
    Some("""
      WITH clean AS (
        SELECT c_custkey AS clean_id, c_name AS clean_name,
          c_nationkey AS nk, substr(c_name, 10, 7) AS blk
        FROM customer),
      dirty AS (
        SELECT c_custkey AS dirty_id,
          CASE c_custkey % 3
            WHEN 0 THEN substr(c_name, 1, 17)
            WHEN 1 THEN c_name || 'x'
            ELSE substr(c_name, 1, 17) || 'Z' END AS dirty_name,
          c_nationkey AS nk
        FROM customer),
      d2 AS (SELECT dirty_id, dirty_name, nk,
               substr(dirty_name, 10, 7) AS blk FROM dirty),
      cand AS (
        SELECT dirty_id, clean_id,
          levenshtein(dirty_name, clean_name) AS distance
        FROM d2 JOIN clean USING (nk, blk)
        WHERE levenshtein(dirty_name, clean_name) <= 2),
      best AS (
        SELECT dirty_id, clean_id AS match_id, distance,
          row_number() OVER (PARTITION BY dirty_id
            ORDER BY distance, clean_id) AS rn
        FROM cand)
      SELECT dirty_id, match_id, CAST(distance AS INT) AS distance,
        CAST(match_id = dirty_id AS INT) AS is_correct
      FROM best WHERE rn = 1 ORDER BY dirty_id""")
  )

  // --------------------------------------------------------------- q142
  /** One unrolled BPE round in DuckDB: count adjacent wrapped-symbol
    * pairs weighted by word frequency, pick the (count desc, pair asc)
    * top, apply it with the same boundary-wrapped literal replace the
    * Spark loop uses. MATERIALIZED for the q136/q103 reason — each
    * round references its predecessor several times. */
  private def bpeRound(k: Int): String = {
    val prev = s"s${k - 1}"
    s"""
      p$k AS MATERIALIZED (
        SELECT p[1] AS lhs, p[2] AS rhs, SUM(freq) AS cnt FROM (
          SELECT freq,
            unnest(list_zip(syms[1:len(syms) - 1], syms[2:len(syms)])) AS p
          FROM (SELECT freq,
                  string_split(trim(s, chr(1)), chr(1) || chr(1)) AS syms
                FROM $prev))
        GROUP BY 1, 2),
      t$k AS MATERIALIZED (
        SELECT lhs, rhs, cnt FROM p$k
        ORDER BY cnt DESC, lhs, rhs LIMIT 1),
      s$k AS MATERIALIZED (
        SELECT w, freq,
          replace(s, chr(1) || lhs || chr(1) || chr(1) || rhs || chr(1),
            chr(1) || lhs || rhs || chr(1)) AS s
        FROM $prev CROSS JOIN t$k)"""
  }

  private val BpeMergeCount = 12

  /** The shared learn-loop CTE chain (words → s0 → 12 unrolled merge
    * rounds); q142 reads the per-round winners t1..t12, q256 reads the
    * final corpus state s12. */
  private val bpeChain: String = {
    val rounds = (1 to BpeMergeCount).map(bpeRound).mkString(",")
    s"""words AS MATERIALIZED (
        SELECT w, COUNT(*) AS freq FROM (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE length(w) > 0 GROUP BY w),
      s0 AS MATERIALIZED (
        SELECT w, freq,
          chr(1) || array_to_string(
            list_transform(range(1, length(w) + 1),
              i -> substr(w, i, 1)), chr(1) || chr(1)) || chr(1) AS s
        FROM words),$rounds"""
  }

  private val bpeOracle: String = {
    val finals = (1 to BpeMergeCount)
      .map(k => s"SELECT CAST($k AS INT) AS rank, lhs, rhs, CAST(cnt AS BIGINT) AS n FROM t$k")
      .mkString("\n        UNION ALL ")
    s"""
      WITH $bpeChain
      $finals
      ORDER BY rank"""
  }

  /** REAL byte-pair-encoding learning under the hash gate
    * ([[graft.ops.Bpe.learn]]): 12 merges from the documents corpus,
    * each row one learned merge with its pair count at merge time. The
    * oracle replays the identical loop — wrapped-sentinel state, greedy
    * left-to-right replace, (count desc, pair asc) tiebreak — unrolled
    * round by round, so the gate pins the LOOP, not just the final
    * vocabulary. The Spark side's per-round driver traffic is one
    * 3-column row (the k-means discipline). */
  private val q142 = Q(
    "q142_bpe_merges",
    (s, dir) => {
      val merges = graft.ops.Bpe.learn(
        Lake(s, dir).documents, "text", BpeMergeCount)
      import s.implicits._
      merges.map(m => (m.rank, m.left, m.right, m.n))
        .toDF("rank", "lhs", "rhs", "n")
        .orderBy("rank")
    },
    Some(bpeOracle)
  )

  /** The q113/q114 fixture: documents with an escaping-hazard column —
    * embedded newline, double quote, and comma injected
    * deterministically, because the natural corpus contains none of
    * them and an un-exercised escape path is an untested one. */
  private def hazardDocs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Lake(s, dir).documents
      .filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id"),
        concat(col("text"), lit("\n\"x,"), col("lang")).as("text"),
        col("lang"), col("source"), col("n_chars"))

  private val hazardSql = """
      SELECT doc_id, text || chr(10) || '"x,' || lang AS text,
             lang, source, n_chars
      FROM documents WHERE doc_id % 3 = 0 ORDER BY doc_id"""

  // --------------------------------------------------------------- q113
  /** JSONL round trip under the hash gate — the training-data
    * interchange format (one JSON object per line, `spark.write.json`'s
    * native shape): write the hazard fixture, read it back with the
    * declared schema, and the result must hash-equal the oracle's
    * direct computation — which holds only if JSON string escaping
    * (embedded newline, quote, comma, unicode) is byte-faithful both
    * ways. */
  private val q113 = Q(
    "q113_jsonl_roundtrip",
    (s, dir) => {
      val docs = hazardDocs(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-q113").toString
      graft.core.SilverWriter.deleteOnExit(tmp)
      docs.coalesce(2).write.mode("overwrite").json(s"$tmp/jsonl")
      s.read.schema(docs.schema).json(s"$tmp/jsonl").orderBy("doc_id")
    },
    Some(hazardSql)
  )

  // --------------------------------------------------------------- q114
  /** CSV round trip under the hash gate — S8 promoted from
    * untested-by-oracle to gated: RFC 4180 quoting (escape = quote, so
    * embedded quotes double) with multiLine read for the embedded
    * newline. A wrong quote/escape/multiLine setting silently corrupts
    * text corpora; this gate pins the exact option set that survives. */
  private val q114 = Q(
    "q114_csv_roundtrip",
    (s, dir) => {
      val docs = hazardDocs(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-q114").toString
      graft.core.SilverWriter.deleteOnExit(tmp)
      docs.coalesce(2).write.mode("overwrite")
        .option("header", "true").option("escape", "\"")
        .csv(s"$tmp/csv")
      s.read.schema(docs.schema)
        .option("header", "true").option("escape", "\"")
        .option("multiLine", "true")
        .csv(s"$tmp/csv").orderBy("doc_id")
    },
    Some(hazardSql)
  )

  // --------------------------------------------------------------- q149
  /** ORC round trip under the hash gate — the third interchange format
    * next to q113 JSONL / q114 CSV, same hazard fixture: Spark's native
    * ORC writer/reader must return the corpus byte-faithfully (embedded
    * newline, quote, comma). Columnar like parquet, so this is also the
    * "can we land silver in ORC shops" compatibility gate. */
  private val q149 = Q(
    "q149_orc_roundtrip",
    (s, dir) => {
      val docs = hazardDocs(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-q149").toString
      graft.core.SilverWriter.deleteOnExit(tmp)
      docs.coalesce(2).write.mode("overwrite").orc(s"$tmp/orc")
      s.read.schema(docs.schema).orc(s"$tmp/orc").orderBy("doc_id")
    },
    Some(hazardSql)
  )

  /** The q150-q152 fixture: every document scored by the q68 hashed
    * linear classifier (margin in integer tenths — exact, zero-shuffle)
    * against the weak label `lang = 'en'`. The label is deliberately
    * cheap: the gates test the EVALUATION algebra (confusion counts,
    * rank AUC, calibration bins), not model quality. */
  private def scoredDocs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Lake(s, dir).documents.select(
      col("doc_id"),
      Classifier.marginTenths(col("text"), 64, 5).as("m"),
      (col("lang") === "en").as("label"))

  private val scoredSqlCtes = s"""
      ${classifierMarginCtes("documents", "text", 64, 5)},
      lab AS (SELECT d.doc_id, CAST(mg.m AS BIGINT) AS m, d.lang = 'en' AS label
              FROM documents d JOIN mg USING (doc_id))"""

  // --------------------------------------------------------------- q150
  /** Classifier evaluation, part 1: the confusion matrix and its derived
    * metrics in ONE aggregate pass (four conditional counts — map-side
    * combined, one single-row exchange). Accuracy/precision/recall/F1
    * are assembled from the exact counts with the identical +,−,×,÷ tree
    * in both engines (zero-denominator arms guarded the same way), so
    * the doubles hash-match. */
  private val q150 = Q(
    "q150_confusion_matrix",
    (s, dir) => {
      val c = scoredDocs(s, dir).agg(
        sum(when(col("label") && col("m") >= 0, 1L).otherwise(0L)).as("tp"),
        sum(when(!col("label") && col("m") >= 0, 1L).otherwise(0L)).as("fp"),
        sum(when(col("label") && col("m") < 0, 1L).otherwise(0L)).as("fn"),
        sum(when(!col("label") && col("m") < 0, 1L).otherwise(0L)).as("tn"))
      def d(c0: String) = col(c0).cast("double")
      val prec = when(col("tp") + col("fp") === 0L, lit(0.0d))
        .otherwise(d("tp") / (col("tp") + col("fp")).cast("double"))
      val rec = when(col("tp") + col("fn") === 0L, lit(0.0d))
        .otherwise(d("tp") / (col("tp") + col("fn")).cast("double"))
      c.select(col("tp"), col("fp"), col("fn"), col("tn"),
          ((d("tp") + d("tn")) /
            (d("tp") + d("fp") + d("fn") + d("tn"))).as("accuracy"),
          prec.as("precision"), rec.as("recall"))
        .withColumn("f1",
          when(col("precision") + col("recall") === 0.0d, lit(0.0d))
            .otherwise(lit(2.0d) * col("precision") * col("recall") /
              (col("precision") + col("recall"))))
    },
    Some(s"""
      WITH $scoredSqlCtes,
      c AS (SELECT
        CAST(COUNT(*) FILTER (WHERE label AND m >= 0) AS BIGINT) AS tp,
        CAST(COUNT(*) FILTER (WHERE NOT label AND m >= 0) AS BIGINT) AS fp,
        CAST(COUNT(*) FILTER (WHERE label AND m < 0) AS BIGINT) AS fn,
        CAST(COUNT(*) FILTER (WHERE NOT label AND m < 0) AS BIGINT) AS tn
        FROM lab),
      pr AS (SELECT tp, fp, fn, tn,
        (CAST(tp AS DOUBLE) + CAST(tn AS DOUBLE)) /
          (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)
            + CAST(fn AS DOUBLE) + CAST(tn AS DOUBLE)) AS accuracy,
        CASE WHEN tp + fp = 0 THEN 0.0
             ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
        CASE WHEN tp + fn = 0 THEN 0.0
             ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall
        FROM c)
      SELECT tp, fp, fn, tn, accuracy, precision, recall,
        CASE WHEN precision + recall = 0.0 THEN 0.0
             ELSE 2.0 * precision * recall / (precision + recall) END AS f1
      FROM pr""")
  )

  // --------------------------------------------------------------- q151
  /** Classifier evaluation, part 2: ROC-AUC as the Mann–Whitney rank
    * statistic with tie correction — `(Σ_pos avgrank − P(P+1)/2)/(P·N)`,
    * kept ALL-INTEGER until one final division: `2·avgrank = 2·rank +
    * ties − 1` is an integer, so the numerator `Σ2r − P² − P` is exact
    * and the AUC is a single double division (no per-row float sums to
    * order). The score rank is distributed: a
    * [[graft.ops.Ranks.globalRowNumber]] over the unique (m, doc_id)
    * order, then RANK falls out as min(row_number) over each score's
    * tie group — a score-partitioned window, never a single task. */
  private val q151 = Q(
    "q151_roc_auc",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byScore = Window.partitionBy("m")
      val r2 = Ranks
        .globalRowNumber(scoredDocs(s, dir), Seq(col("m"), col("doc_id")), "__rn")
        .withColumn("r", min(col("__rn")).over(byScore))
        .withColumn("c", count(lit(1)).over(byScore))
        .withColumn("r2", lit(2L) * col("r") + col("c") - 1L)
      r2.agg(
          sum(when(col("label"), col("r2")).otherwise(0L)).as("sum2r"),
          sum(when(col("label"), 1L).otherwise(0L)).as("p_count"),
          sum(when(!col("label"), 1L).otherwise(0L)).as("n_count"))
        .select(col("p_count"), col("n_count"),
          ((col("sum2r") - col("p_count") * (col("p_count") + 1L))
            .cast("double") /
            (lit(2.0d) * col("p_count").cast("double") *
              col("n_count").cast("double"))).as("auc"))
    },
    Some(s"""
      WITH $scoredSqlCtes,
      rk AS (SELECT label,
               2 * RANK() OVER (ORDER BY m)
                 + COUNT(*) OVER (PARTITION BY m) - 1 AS r2
             FROM lab),
      agg AS (SELECT
        CAST(COALESCE(SUM(r2) FILTER (WHERE label), 0) AS BIGINT) AS sum2r,
        CAST(COUNT(*) FILTER (WHERE label) AS BIGINT) AS p_count,
        CAST(COUNT(*) FILTER (WHERE NOT label) AS BIGINT) AS n_count
        FROM rk)
      SELECT p_count, n_count,
        CAST(sum2r - p_count * (p_count + 1) AS DOUBLE) /
          (2.0 * CAST(p_count AS DOUBLE) * CAST(n_count AS DOUBLE)) AS auc
      FROM agg""")
  )

  // --------------------------------------------------------------- q152
  /** Classifier evaluation, part 3: the calibration table — ten
    * equal-count score bins (NTILE over the unique total order
    * (score, doc_id), so both engines cut identical bins), each with its
    * mean score and observed positive rate. Mean score is an exact
    * integer-tenths sum divided once; a well-calibrated model shows
    * pos_rate tracking mean score across bins. The bins come from
    * [[graft.ops.Ranks.ntileFromRowNumber]] over a distributed
    * [[graft.ops.Ranks.globalRowNumber]] — the SQL-standard remainder
    * convention reconstructed arithmetically, so it still hash-matches
    * DuckDB's native NTILE without the single-partition window. */
  private val q152 = Q(
    "q152_calibration",
    (s, dir) => {
      val rn = Ranks.globalRowNumber(
        scoredDocs(s, dir), Seq(col("m"), col("doc_id")), "__rn")
      rn.crossJoin(broadcast(rn.agg(count(lit(1)).as("__n"))))
        .withColumn("bucket",
          Ranks.ntileFromRowNumber(col("__rn"), col("__n"), 10))
        .groupBy("bucket")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("label"), 1L).otherwise(0L)).as("positives"),
          sum(col("m")).as("__sum_m"))
        .select(col("bucket"), col("n"), col("positives"),
          (col("__sum_m").cast("double") / lit(10.0d) /
            col("n").cast("double")).as("mean_score"),
          (col("positives").cast("double") / col("n").cast("double"))
            .as("pos_rate"))
        .orderBy("bucket")
    },
    Some(s"""
      WITH $scoredSqlCtes,
      b AS (SELECT label, m,
              NTILE(10) OVER (ORDER BY m, doc_id) AS bucket
            FROM lab),
      g AS (SELECT bucket,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(COUNT(*) FILTER (WHERE label) AS BIGINT) AS positives,
              CAST(SUM(m) AS BIGINT) AS sum_m
            FROM b GROUP BY bucket)
      SELECT CAST(bucket AS BIGINT) AS bucket, n, positives,
             CAST(sum_m AS DOUBLE) / 10.0 / CAST(n AS DOUBLE) AS mean_score,
             CAST(positives AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate
      FROM g ORDER BY bucket""")
  )

  /** q157/q158 fixture: the corpus has no sentence punctuation, so (q69
    * precedent) terminators are injected at fixed character offsets —
    * identical substr/concat in both engines — giving every doc 1-4
    * sentences of varying length. */
  private def punctuatedDocs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Lake(s, dir).documents.select(
      col("doc_id"),
      concat(
        substring(col("text"), 1, 60), lit(". "),
        substring(col("text"), 61, 80), lit("! "),
        substring(col("text"), 141, 100), lit("? "),
        substring(col("text"), 241, 100000), lit(".")).as("ptext"))

  private val punctuatedCte = """
      p AS (SELECT doc_id,
        substr(text, 1, 60) || '. ' || substr(text, 61, 80) || '! ' ||
        substr(text, 141, 100) || '? ' || substr(text, 241, 100000) || '.'
          AS ptext
      FROM documents)"""

  // --------------------------------------------------------------- q157
  /** Sentence segmentation statistics — terminator-run splits with blank
    * filtering, per-sentence word counts, and the per-doc profile
    * (count, total words, longest sentence, mean length). Everything is
    * array expressions over one projection (zero shuffle); the single
    * double is one division of exact counts. */
  private val q157 = Q(
    "q157_sentence_stats",
    (s, dir) =>
      punctuatedDocs(s, dir)
        .withColumn("__sw", TextAnalysis.sentenceWordCounts(col("ptext")))
        .select(
          col("doc_id"),
          size(col("__sw")).cast("long").as("n_sentences"),
          aggregate(col("__sw"), lit(0), (a, x) => a + x).cast("long")
            .as("n_words"),
          array_max(col("__sw")).cast("long").as("max_sentence_words"))
        .withColumn("avg_sentence_words",
          col("n_words").cast("double") / col("n_sentences").cast("double"))
        .orderBy("doc_id"),
    Some(s"""
      WITH $punctuatedCte,
      sents AS (SELECT doc_id,
        list_filter(regexp_split_to_array(ptext, '[.!?]+\\s*'),
                    s -> length(trim(s)) > 0) AS ss
        FROM p),
      sw AS (SELECT doc_id,
        list_transform(ss, s -> len(string_split(trim(s), ' '))) AS w
        FROM sents)
      SELECT doc_id,
        CAST(len(w) AS BIGINT) AS n_sentences,
        CAST(list_reduce(list_prepend(0, w), (a, b) -> a + b) AS BIGINT)
          AS n_words,
        CAST(list_aggregate(w, 'max') AS BIGINT) AS max_sentence_words,
        CAST(list_reduce(list_prepend(0, w), (a, b) -> a + b) AS DOUBLE) /
          CAST(len(w) AS DOUBLE) AS avg_sentence_words
      FROM sw ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q158
  /** Flesch reading ease over the punctuated fixture: `206.835 −
    * 1.015·(words/sentences) − 84.6·(syllables/words)` with syllables
    * from the vowel-group heuristic. All three inputs are exact integer
    * counts; the formula is two divisions, two multiplications, two
    * subtractions in the identical order on both engines — readability
    * scoring with zero transcendentals, gate-safe by construction. */
  private val q158 = Q(
    "q158_readability",
    (s, dir) =>
      punctuatedDocs(s, dir)
        .withColumn("__sw", TextAnalysis.sentenceWordCounts(col("ptext")))
        .select(
          col("doc_id"),
          size(col("__sw")).cast("long").as("n_sentences"),
          aggregate(col("__sw"), lit(0), (a, x) => a + x).cast("long")
            .as("n_words"),
          TextAnalysis.vowelGroups(col("ptext")).as("n_syllables"))
        .withColumn("flesch",
          lit(206.835d) -
            lit(1.015d) * (col("n_words").cast("double") /
              col("n_sentences").cast("double")) -
            lit(84.6d) * (col("n_syllables").cast("double") /
              col("n_words").cast("double")))
        .orderBy("doc_id"),
    Some(s"""
      WITH $punctuatedCte,
      sw AS (SELECT doc_id,
        list_transform(
          list_filter(regexp_split_to_array(ptext, '[.!?]+\\s*'),
                      s -> length(trim(s)) > 0),
          s -> len(string_split(trim(s), ' '))) AS w,
        CAST(len(regexp_extract_all(ptext, '[aeiouy]+')) AS BIGINT)
          AS n_syllables
        FROM p),
      c AS (SELECT doc_id,
        CAST(len(w) AS BIGINT) AS n_sentences,
        CAST(list_reduce(list_prepend(0, w), (a, b) -> a + b) AS BIGINT)
          AS n_words,
        n_syllables
        FROM sw)
      SELECT doc_id, n_sentences, n_words, n_syllables,
        206.835 -
          1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) -
          84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
          AS flesch
      FROM c ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q159
  /** Gopher-style structural quality rules ([[graft.ops.Curation
    * .gopherRules]]): word-count bounds, mean-word-length bounds,
    * stop-word presence, symbol-ratio cap — per-doc booleans plus the
    * conjunction, fully auditable. minWords and the stop-word list are
    * adapted to the synthetic corpus (10-99-word docs whose only
    * stop-shaped tokens are 'a'/'the') so every rule has both passing
    * AND failing docs — a rule nothing fails is untested. */
  private val q159 = Q(
    "q159_gopher_rules",
    (s, dir) =>
      graft.ops.Curation.gopherRules(
        Lake(s, dir).documents.select("doc_id", "text"), "text",
        graft.ops.Curation.GopherConfig(
          minWords = 30,
          stopwords = Seq("a", "the"),
          minStopHits = 2))
        .select("doc_id", "n_words", "mean_word_len", "stop_hits",
          "symbol_ratio", "g_word_count", "g_mean_word_len", "g_stopwords",
          "g_symbols", "keep")
        .orderBy("doc_id"),
    Some("""
      WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws
                 FROM documents),
      m AS (SELECT doc_id,
        CAST(len(ws) AS BIGINT) AS n_words,
        CAST(length(replace(text, ' ', '')) AS DOUBLE) /
          CAST(len(ws) AS DOUBLE) AS mean_word_len,
        CAST(len(list_filter(ws, x -> x IN ('a', 'the'))) AS BIGINT)
          AS stop_hits,
        CAST(len(list_filter(ws, x -> x IN ('#', '…'))) AS DOUBLE) /
          CAST(len(ws) AS DOUBLE) AS symbol_ratio
        FROM w)
      SELECT doc_id, n_words, mean_word_len, stop_hits, symbol_ratio,
        n_words >= 30 AND n_words <= 100000 AS g_word_count,
        mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS g_mean_word_len,
        stop_hits >= 2 AS g_stopwords,
        symbol_ratio <= 0.1 AS g_symbols,
        (n_words >= 30 AND n_words <= 100000)
          AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
          AND stop_hits >= 2 AND symbol_ratio <= 0.1 AS keep
      FROM m ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q160
  /** Deterministic uniform negative sampling over the dense embedding id
    * space ([[graft.ops.Sampling.negativeSamples]]): 4 md5-prefix draws
    * per anchor, self-draws dropped — the word2vec/contrastive negatives
    * edge list, engine-reproducible (the oracle rebuilds the same 32-bit
    * hex prefix nibble-by-nibble, q51/q68 idiom). */
  private val q160 = Q(
    "q160_negative_sampling",
    (s, dir) =>
      Sampling.negativeSamples(Lake(s, dir).embeddings, "vec_id", k = 4)
        .orderBy("vec_id", "draw"),
    Some(s"""
      WITH n1 AS (SELECT COUNT(*) AS n FROM embeddings),
      d AS (SELECT e.vec_id, j.draw,
              ${hexSql("md5(CAST(e.vec_id AS VARCHAR) || '#' || CAST(j.draw AS VARCHAR))", 8)}
                % n1.n AS neg_id
            FROM embeddings e
            CROSS JOIN n1
            CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS draw) j)
      SELECT vec_id, CAST(draw AS BIGINT) AS draw, CAST(neg_id AS BIGINT) AS neg_id
      FROM d WHERE neg_id != vec_id ORDER BY vec_id, draw""")
  )

  // --------------------------------------------------------------- q161
  /** Hard-negative mining ([[graft.ops.Similarity.hardNegatives]]): for
    * each query vector, the top-5 most-similar corpus vectors with a
    * DIFFERENT label — the near-miss set a contrastive loss learns from.
    * Same broadcast/window shape as q35 with the label-mismatch
    * predicate in the join; the oracle is q35's window statement plus
    * the label filter, strict-fold dot products as always. */
  private val q161 = Q(
    "q161_hard_negatives",
    (s, dir) => {
      val emb = Lake(s, dir).embeddings
      val corpus = Similarity.withNorm(emb, "vec_id", "embedding")
        .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      val queries = corpus.filter(col("vec_id") < 8)
      Similarity.hardNegatives(corpus, queries, 5)
        .select("query_id", "query_label", "neighbor_id", "neighbor_label",
          "cos", "rank")
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH $NormedCte
      SELECT query_id, query_label, neighbor_id, neighbor_label, cos, rank
      FROM (
        SELECT q.vec_id AS query_id, q.label AS query_label,
          c.vec_id AS neighbor_id, c.label AS neighbor_label,
          ${sqlDot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY ${sqlDot("q.v", "c.v")} / (q.nrm * c.nrm) DESC, c.vec_id)
            AS rank
        FROM m q JOIN m c ON q.vec_id != c.vec_id AND q.label != c.label
        WHERE q.vec_id < 8)
      WHERE rank <= 5
      ORDER BY query_id, rank""")
  )

  // --------------------------------------------------------------- q167
  /** Length-bucketed batching audit — the padding-efficiency report for
    * fixed-shape training batches: docs binned to 16-token capacity
    * boundaries (⌈n/16⌉·16 — division by a power of two is FP-exact, so
    * the ceil cannot straddle across engines), each bucket reporting its
    * token mass and the padding waste a batch padded to the bucket
    * capacity would carry. The complement of q56's sequence PACKING:
    * packing eliminates padding by concatenation; bucketing keeps
    * documents intact and measures what that choice costs. One map-side
    * projection + one bucket aggregate. */
  private val q167 = Q(
    "q167_length_batching",
    (s, dir) =>
      Lake(s, dir).documents
        .select(col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_tok"))
        .withColumn("bucket",
          (ceil(col("n_tok").cast("double") / lit(16.0d)) * 16).cast("long"))
        .groupBy("bucket")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("sum_tokens"),
          max(col("n_tok")).as("max_tokens"))
        .select(col("bucket"), col("n_docs"), col("sum_tokens"),
          col("max_tokens"),
          (col("bucket") * col("n_docs") - col("sum_tokens"))
            .as("waste_tokens"),
          ((col("bucket") * col("n_docs") - col("sum_tokens")).cast("double") /
            (col("bucket") * col("n_docs")).cast("double")).as("waste_frac"))
        .orderBy("bucket"),
    Some("""
      WITH t AS (SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
      b AS (SELECT CAST(CEIL(CAST(n_tok AS DOUBLE) / 16.0) * 16 AS BIGINT)
              AS bucket, n_tok
            FROM t),
      g AS (SELECT bucket,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
              CAST(MAX(n_tok) AS BIGINT) AS max_tokens
            FROM b GROUP BY bucket)
      SELECT bucket, n_docs, sum_tokens, max_tokens,
             bucket * n_docs - sum_tokens AS waste_tokens,
             CAST(bucket * n_docs - sum_tokens AS DOUBLE) /
               CAST(bucket * n_docs AS DOUBLE) AS waste_frac
      FROM g ORDER BY bucket""")
  )

  // --------------------------------------------------------------- q168
  /** Permissive corrupt-record ingestion — the JSONL robustness gate a
    * real crawl feed needs: each doc serialized to a JSON line, every
    * 7th line deterministically truncated mid-object (always invalid —
    * the closing brace is gone), then parsed with `from_json` +
    * `columnNameOfCorruptRecord`. The gate proves three behaviors at
    * once: corrupt lines are FLAGGED (not dropped, not crashed), their
    * typed fields come back null, and a regex salvage still recovers the
    * id from the intact prefix. The oracle states ground truth by
    * construction — if Spark's permissive parser ever "recovered" a
    * truncated object or dropped a good one, the hash would catch it. */
  private val q168 = Q(
    "q168_corrupt_json",
    (s, dir) => {
      val line = concat(
        lit("""{"id": """), col("doc_id"),
        lit(""", "lang": """"), col("lang"),
        lit("""", "nc": """), col("n_chars"), lit("}"))
      val corrupted = when(pmod(col("doc_id"), lit(7)) === 0,
        substring(line, lit(1), length(line) - 10)).otherwise(line)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "id LONG, lang STRING, nc LONG, _corrupt_record STRING")
      Lake(s, dir).documents
        .select(col("doc_id"), corrupted.as("__line"))
        .withColumn("__j", from_json(col("__line"), schema,
          Map("columnNameOfCorruptRecord" -> "_corrupt_record")))
        .select(
          col("doc_id"),
          col("__j._corrupt_record").isNotNull.as("is_corrupt"),
          col("__j.lang").as("parsed_lang"),
          regexp_extract(col("__line"), """"id": ([0-9]+)""", 1)
            .cast("long").as("salvaged_id"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
        doc_id % 7 = 0 AS is_corrupt,
        CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS parsed_lang,
        doc_id AS salvaged_id
      FROM documents ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q169
  /** Duplicated-span localization ([[graft.ops.Dedup.sharedSpans]]):
    * doc pairs sharing contiguous 3-gram runs, with planted common
    * phrases (every 25th doc gets one of two fixed 10-word tails) so
    * multi-shingle spans genuinely occur — a run of L shared starts is a
    * span of L+2 tokens. Natural single-shingle collisions ride along;
    * the df window [2, 30] caps stop-phrase fan-out. The oracle replays
    * the identical lag/sum window algebra.
    *
    * MEASURED (DedupScaleProbe, sf0.1 ×10 shingle-disjoint replicas,
    * local[32]): 4.74 s → 18.6 s — 3.9× at 10× rows. The df cap bounds
    * per-shingle fan-out independent of corpus size, so the positional
    * self-join grows with true pair volume, not corpus². */
  /** q169/q171 fixture: every 25th doc gets one of two fixed 10-word
    * phrase tails, so multi-shingle duplicated SPANS genuinely occur. */
  private val PhraseA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val PhraseB = "north south east west upper lower inner outer front back"

  private def phrasedDocs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Lake(s, dir).documents.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(25)) === 0,
        concat(col("text"), lit(" "),
          when(pmod(col("doc_id"), lit(2)) === 0, lit(PhraseA))
            .otherwise(lit(PhraseB))))
        .otherwise(col("text")).as("text"),
      col("n_chars"))

  private val phrasedSqlCte = s"""
      d AS (SELECT doc_id,
        CASE WHEN doc_id % 25 = 0
             THEN text || ' ' || (CASE WHEN doc_id % 2 = 0
                                       THEN '$PhraseA' ELSE '$PhraseB' END)
             ELSE text END AS text,
        n_chars
      FROM documents)"""

  private val q169 = {
    val p0 = PhraseA
    val p1 = PhraseB
    Q(
      "q169_shared_spans",
      (s, dir) =>
        Dedup.sharedSpans(phrasedDocs(s, dir), "doc_id", "text",
          n = 3, maxDf = 30L),
      Some(s"""
      WITH d AS (SELECT doc_id,
          CASE WHEN doc_id % 25 = 0
               THEN text || ' ' || (CASE WHEN doc_id % 2 = 0
                                         THEN '$p0' ELSE '$p1' END)
               ELSE text END AS text
        FROM documents),
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM d),
      sp AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(ws[(i + 1):(i + 3)], ' ') AS shingle
             FROM w, unnest(generate_series(0, len(ws) - 3)) AS t(i)),
      keep AS (SELECT shingle FROM sp GROUP BY shingle
               HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 30),
      c AS (SELECT sp.doc_id, sp.pos, sp.shingle
            FROM sp JOIN keep USING (shingle)),
      pr AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.pos AS pos_a
             FROM c a JOIN c b
               ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
      blk AS (SELECT doc_a, doc_b, pos_a,
                CASE WHEN lag(pos_a) OVER
                       (PARTITION BY doc_a, doc_b ORDER BY pos_a) IS NULL
                     OR pos_a > lag(pos_a) OVER
                       (PARTITION BY doc_a, doc_b ORDER BY pos_a) + 1
                     THEN 1 ELSE 0 END AS newb
              FROM pr),
      blk2 AS (SELECT doc_a, doc_b, pos_a,
                 SUM(newb) OVER (PARTITION BY doc_a, doc_b ORDER BY pos_a)
                   AS blk
               FROM blk),
      spans AS (SELECT doc_a, doc_b, blk, COUNT(*) AS len
                FROM blk2 GROUP BY 1, 2, 3)
      SELECT doc_a, doc_b,
             CAST(SUM(len) AS BIGINT) AS n_shared,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(MAX(len) + 2 AS BIGINT) AS longest_span_tokens
      FROM spans GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""")
    )
  }

  // --------------------------------------------------------------- q170
  /** Hybrid retrieval with reciprocal-rank fusion
    * ([[graft.ops.Index.rrfFuse]]): the same three anchor docs queried
    * through BOTH retrieval stacks — lexical BM25 (first three words as
    * the query, the q71 engine at k=10) and embedding ANN (the q35
    * brute-force ranker) — then fused by Σ 1/(60+rank) with a
    * tag-sorted fold. The gate pins the full composition: both
    * candidate lists, the integer-division contributions, the fold
    * order, and the fused ranking. */
  private val q170 = Q(
    "q170_hybrid_retrieval",
    (s, dir) => {
      val lk = Lake(s, dir)
      val docs = lk.documents
      val terms = docs.filter(col("doc_id").isin(1L, 2L, 3L))
        .select(col("doc_id").as("query_id"),
          explode(slice(split(col("text"), " "), 1, 3)).as("term"))
      val bm25 = Index.bm25TopK(docs, "doc_id", "text", terms, k = 10)
        .select(col("query_id"), col("doc"), col("rank"))
      val corpus = Similarity.withNorm(lk.embeddings, "vec_id", "embedding")
      val qs = corpus.filter(col("vec_id").isin(1L, 2L, 3L))
      val ann = Similarity.bruteForceTopK(corpus, qs, 10)
        .select(col("query_id"), col("neighbor_id").as("doc"), col("rank"))
      Index.rrfFuse(Seq("ann" -> ann, "bm25" -> bm25), c = 60, topK = 10)
    },
    Some(s"""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                 FROM documents),
      q AS (SELECT doc_id AS query_id, unnest(ws[1:3]) AS term
            FROM w WHERE doc_id IN (1, 2, 3)),
      tok AS (SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term
              FROM documents),
      p AS (SELECT term, doc, COUNT(*) AS tf FROM tok GROUP BY term, doc),
      rel AS (SELECT p.* FROM p
              WHERE term IN (SELECT DISTINCT term FROM q)),
      dfv AS (SELECT term, COUNT(*) AS df FROM rel GROUP BY term),
      dl AS (SELECT doc_id AS doc,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
             FROM documents),
      tot AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS t_tokens FROM dl),
      sc AS (SELECT q.query_id, rel.doc,
               CAST(22 * tot.t_tokens * LEAST(rel.tf, 10000) AS DOUBLE)
                 / (10 * tot.t_tokens * LEAST(rel.tf, 10000)
                    + 3 * tot.t_tokens
                    + 9 * dl.dl * tot.n_docs)
               * (CAST(2 * (tot.n_docs - dfv.df) + 1 AS DOUBLE)
                  / (2 * dfv.df + 1)) AS contrib
             FROM q JOIN rel ON q.term = rel.term
             JOIN dfv ON rel.term = dfv.term
             JOIN dl ON rel.doc = dl.doc
             CROSS JOIN tot),
      bagg AS (SELECT query_id, doc,
                 list_reduce(list(contrib ORDER BY contrib), (a, b) -> a + b)
                   AS score
               FROM sc GROUP BY query_id, doc),
      bm AS (SELECT query_id, doc, rank FROM (
               SELECT query_id, doc,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, doc) AS rank
               FROM bagg)
             WHERE rank <= 10),
      $NormedCte,
      ann AS (SELECT query_id, doc, rank FROM (
                SELECT qv.vec_id AS query_id, cv.vec_id AS doc,
                  row_number() OVER (PARTITION BY qv.vec_id
                    ORDER BY ${sqlDot("qv.v", "cv.v")} / (qv.nrm * cv.nrm)
                      DESC, cv.vec_id) AS rank
                FROM m qv JOIN m cv ON qv.vec_id != cv.vec_id
                WHERE qv.vec_id IN (1, 2, 3))
              WHERE rank <= 10),
      u AS (SELECT query_id, doc, rank, 'ann' AS src FROM ann
            UNION ALL
            SELECT query_id, doc, rank, 'bm25' AS src FROM bm),
      f AS (SELECT query_id, doc,
              CAST(COUNT(*) AS BIGINT) AS n_lists,
              list_reduce(
                list_prepend(0.0,
                  list(1.0 / CAST(60 + rank AS DOUBLE) ORDER BY src)),
                (a, b) -> a + b) AS rrf_score
            FROM u GROUP BY query_id, doc),
      r AS (SELECT query_id, doc, n_lists, rrf_score,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY rrf_score DESC, doc) AS fused_rank
            FROM f)
      SELECT query_id, doc, n_lists, rrf_score, fused_rank
      FROM r WHERE fused_rank <= 10 ORDER BY query_id, fused_rank""")
  )

  // --------------------------------------------------------------- q187
  /** NESTED-schema JSONL round trip — the q113 gate for structured
    * training records: each doc carries an array-of-struct span column
    * and a map column (the shape annotation/provenance metadata takes),
    * written to JSONL and read back under the declared schema. The
    * comparison flattens both sides to scalars (explode + map lookups),
    * because nested fidelity bugs hide exactly there: field reordering,
    * null-vs-missing, map key loss. */
  private val q187 = Q(
    "q187_nested_roundtrip",
    (s, dir) => {
      val docs = Lake(s, dir).documents
        .select(col("doc_id"),
          expr("transform(slice(split(text, ' '), 1, 3), " +
            "(w, i) -> named_struct('word', w, 'idx', CAST(i AS LONG), " +
            "'len', CAST(length(w) AS LONG)))").as("spans"),
          map(lit("lang"), col("lang"), lit("source"), col("source"))
            .as("meta"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-q187").toString
      graft.core.SilverWriter.deleteOnExit(tmp)
      docs.coalesce(2).write.mode("overwrite").json(s"$tmp/nested")
      s.read.schema(docs.schema).json(s"$tmp/nested")
        .select(col("doc_id"), explode(col("spans")).as("sp"),
          col("meta")("lang").as("lang"), col("meta")("source").as("source"))
        .select(col("doc_id"), col("sp.idx").as("idx"),
          col("sp.word").as("word"), col("sp.len").as("len"),
          col("lang"), col("source"))
        .orderBy("doc_id", "idx")
    },
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws, lang, source
                 FROM documents)
      SELECT doc_id, CAST(i AS BIGINT) AS idx, ws[i + 1] AS word,
             CAST(length(ws[i + 1]) AS BIGINT) AS len, lang, source
      FROM w, unnest(generate_series(0, 2)) AS t(i)
      ORDER BY doc_id, idx""")
  )

  // --------------------------------------------------------------- q188
  /** Fuzzy-timestamp event dedup — telemetry's classic double-fire:
    * events of the same (user, type) within 1 second collapse to the
    * earliest (retries, at-least-once sinks, double-clicks). The window
    * form: an event survives iff its gap to the PREVIOUS same-key event
    * exceeds the tolerance — chained duplicates all collapse onto the
    * first of the burst, one hash(user,type) exchange, no self-join.
    * The corpus has no natural sub-second bursts, so every 10th event
    * gets a planted re-fire 200 ms later (the q113 hazard-fixture
    * discipline: an unexercised collapse path is an untested one). The
    * oracle states the same union + lag predicate. */
  private val q188 = Q(
    "q188_fuzzy_event_dedup",
    (s, dir) => {
      import org.apache.spark.sql.expressions.{Window => W}
      val w = W.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      val base = Lake(s, dir).events
        .select("event_id", "ts", "user_id", "event_type")
      val refires = base.filter(pmod(col("event_id"), lit(10)) === 0)
        .select((col("event_id") + 10000000L).as("event_id"),
          timestamp_micros(unix_micros(col("ts")) + 200000L).as("ts"),
          col("user_id"), col("event_type"))
      base.unionByName(refires)
        .withColumn("__run",
          sum(when(lag(col("ts"), 1).over(w).isNull ||
            unix_micros(col("ts")) -
              unix_micros(lag(col("ts"), 1).over(w)) > 1000000L, 1L)
            .otherwise(0L)).over(w))
        .groupBy("user_id", "event_type", "__run")
        .agg(min(col("event_id")).as("event_id"),
          count(lit(1)).as("n_collapsed"),
          unix_micros(min(col("ts"))).as("ts_us"))
        .select("event_id", "user_id", "event_type", "ts_us", "n_collapsed")
        .orderBy("event_id")
    },
    Some("""
      WITH e AS (SELECT event_id, ts, user_id, event_type FROM events
                 UNION ALL
                 SELECT event_id + 10000000,
                        ts + INTERVAL 200 MILLISECONDS, user_id, event_type
                 FROM events WHERE event_id % 10 = 0),
      m AS (SELECT event_id, user_id, event_type, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1000000
                    THEN 1 ELSE 0 END AS brk
             FROM e
             WINDOW w AS (PARTITION BY user_id, event_type
                          ORDER BY ts, event_id)),
      r AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id, event_type
              ORDER BY ts, event_id) AS run
            FROM m)
      SELECT CAST(MIN(event_id) AS BIGINT) AS event_id, user_id, event_type,
             epoch_us(MIN(ts)) AS ts_us,
             CAST(COUNT(*) AS BIGINT) AS n_collapsed
      FROM r GROUP BY user_id, event_type, run
      ORDER BY event_id""")
  )

  // --------------------------------------------------------------- q190
  /** VARIANT-type semi-structured extraction — Spark 4's schemaless
    * sibling of the q131 schema'd parse: each event's props bag is
    * enriched into a nested JSON document, parsed ONCE into a VARIANT,
    * and probed with typed `variant_get` paths (scalar, nested object,
    * array index) plus a `try_variant_get` miss that must come back
    * null rather than throw. The oracle states ground truth from the
    * construction — wrong path semantics, type coercion, or array
    * indexing all hash-mismatch. */
  private val q190 = Q(
    "q190_variant_extraction",
    (s, dir) => {
      val rich = concat(
        lit("""{"k": """), regexp_extract(col("props"), "([0-9]+)", 1),
        lit(""", "tags": ["a", """"), col("event_type"),
        lit(""""], "meta": {"type": """"), col("event_type"),
        lit(""""}}"""))
      Lake(s, dir).events
        .withColumn("__v", parse_json(rich))
        .select(
          col("event_id"),
          variant_get(col("__v"), "$.k", "long").as("k"),
          variant_get(col("__v"), "$.meta.type", "string").as("meta_type"),
          variant_get(col("__v"), "$.tags[1]", "string").as("tag1"),
          try_variant_get(col("__v"), "$.missing", "string").as("missing"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k,
             event_type AS meta_type,
             event_type AS tag1,
             CAST(NULL AS VARCHAR) AS missing
      FROM events ORDER BY event_id""")
  )

  // --------------------------------------------------------------- q211
  /** Effective token yield per source — the corpus-accounting line a
    * data-acquisition team actually budgets on: raw token mass vs the
    * mass surviving exact dedup (canonical docs only), and the yield
    * ratio. A source with a low yield is paying for copies; the same
    * frame prices near-dup storage. One dedup window + one aggregate. */
  private val q211 = Q(
    "q211_token_yield",
    (s, dir) => {
      import org.apache.spark.sql.expressions.{Window => W}
      Lake(s, dir).documents
        .select(col("source"), col("doc_id"),
          TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_tok"),
          md5(col("text")).as("__h"))
        .withColumn("__cn", min(col("doc_id")).over(W.partitionBy("__h")))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("raw_tokens"),
          sum(when(col("doc_id") === col("__cn"), 1L).otherwise(0L))
            .as("unique_docs"),
          sum(when(col("doc_id") === col("__cn"), col("n_tok"))
            .otherwise(0L)).as("unique_tokens"))
        .withColumn("yield_ratio",
          col("unique_tokens").cast("double") /
            col("raw_tokens").cast("double"))
        .orderBy("source")
    },
    Some("""
      WITH d AS (SELECT source, doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
          MIN(doc_id) OVER (PARTITION BY md5(text)) AS cn
        FROM documents)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS raw_tokens,
             CAST(SUM(CASE WHEN doc_id = cn THEN 1 ELSE 0 END) AS BIGINT)
               AS unique_docs,
             CAST(SUM(CASE WHEN doc_id = cn THEN n_tok ELSE 0 END)
               AS BIGINT) AS unique_tokens,
             CAST(SUM(CASE WHEN doc_id = cn THEN n_tok ELSE 0 END)
               AS DOUBLE) / CAST(SUM(n_tok) AS DOUBLE) AS yield_ratio
      FROM d GROUP BY source ORDER BY source""")
  )

  // --------------------------------------------------------------- q209
  /** Skip-gram pair extraction — the word2vec/item2vec TRAINING-DATA
    * generator: for every center word, its context words within ±2
    * positions, counted corpus-wide with the distance kept (distance
    * weighting happens at training time; the extractor must preserve
    * it). One positional explode + a self-join on (doc, offset) bounded
    * by the window — the collocation miner's (q147) generalization from
    * adjacent-only to windowed context. Top pairs by count with a
    * deterministic tiebreak. */
  private val q209 = Q(
    "q209_skipgram_pairs",
    (s, dir) => {
      val pos = Dedup.positionalShingles(
        Lake(s, dir).documents, "doc_id", "text", 1)
        .withColumnRenamed("shingle", "word")
      val pairs = pos.as("a")
        .join(pos.as("b"),
          col("a.doc_id") === col("b.doc_id") &&
            col("b.pos") > col("a.pos") &&
            col("b.pos") <= col("a.pos") + 2)
        .select(col("a.word").as("center"), col("b.word").as("context"),
          (col("b.pos") - col("a.pos")).as("distance"))
      pairs.groupBy("center", "context", "distance")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("center"), col("context"),
          col("distance"))
        .limit(30)
    },
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                 FROM documents),
      p AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS word
            FROM w, unnest(generate_series(1, len(ws))) AS t(i)),
      pairs AS (SELECT a.word AS center, b.word AS context,
                  b.pos - a.pos AS distance
                FROM p a JOIN p b
                  ON a.doc_id = b.doc_id
                 AND b.pos > a.pos AND b.pos <= a.pos + 2)
      SELECT center, context, CAST(distance AS BIGINT) AS distance,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM pairs GROUP BY center, context, distance
      ORDER BY n DESC, center, context, distance LIMIT 30""")
  )

  // --------------------------------------------------------------- q210
  /** Shard manifest with content fingerprints — the reproducibility
    * artifact a training run records next to its shards: per shard, the
    * doc count, id range, token mass, and an md5 over the ID-SORTED
    * member list, so any later rebuild can prove (or refute) that shard
    * k still holds exactly the same documents. The fingerprint is an
    * ordered string_agg under md5 — deterministic by construction, and
    * the one line that catches a silently changed shard assignment. */
  private val q210 = Q(
    "q210_shard_manifest",
    (s, dir) => {
      val docs = Lake(s, dir).documents.select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_tok"))
      Packing.shardExport(docs, "doc_id", nShards = 8, salt = "mf")
        .groupBy("shard")
        .agg(
          count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"),
          sum(col("n_tok")).as("sum_tokens"),
          md5(graft.ops.OrderedAgg.stringAgg(
            col("doc_id").cast("string"), ",", col("doc_id")))
            .as("content_fp"))
        .orderBy("shard")
    },
    Some(s"""
      WITH t AS (SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
          CAST(${hexSql("md5('mf' || CAST(doc_id AS VARCHAR))", 12)} % 8
            AS BIGINT) AS shard
        FROM documents)
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
             MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
             CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
             md5(string_agg(CAST(doc_id AS VARCHAR), ','
               ORDER BY doc_id)) AS content_fp
      FROM t GROUP BY shard ORDER BY shard""")
  )

  // --------------------------------------------------------------- q207
  /** Hashing-trick feature vectors — the q68 classifier's INPUT layer
    * surfaced as data: each doc's token stream bucketed by the md5 hash
    * into a dense 32-dim count vector (the fastText/Vowpal featurization;
    * collisions are the accepted lossy compression). Built by explode +
    * (doc, bucket) aggregate + a SORTED struct fold back to a dense
    * vector — no per-row 32-way conditional scan; the oracle rebuilds the
    * same nibble arithmetic and list ordering. The vector leaves the
    * query as a canonical comma-joined STRING: the driver's hasher sorts
    * rows through pandas, which cannot hash raw array cells (round-6
    * q207 was value-correct but crashed the harness), and the string
    * encoding is bijective with the array for non-negative counts. */
  private val q207 = Q(
    "q207_hashed_features",
    (s, dir) => {
      val dim = 32
      val tok = Lake(s, dir).documents
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
        .withColumn("bucket",
          pmod(conv(substring(md5(col("tk")), 1, 4), 16, 10).cast("long"),
            lit(dim.toLong)))
      tok.groupBy("doc_id", "bucket").agg(count(lit(1)).as("n"))
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("bucket"), col("n"))))
          .as("__cells"))
        .select(col("doc_id"),
          concat_ws(",", transform(sequence(lit(0L), lit(dim - 1L)), b =>
            coalesce(
              element_at(
                map_from_entries(col("__cells")), b),
              lit(0L)).cast("string"))).as("features"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk
                   FROM documents),
      b AS (SELECT doc_id,
              ${hexSql("md5(tk)", 4)} % 32 AS bucket
            FROM tok),
      cells AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS n
                FROM b GROUP BY 1, 2),
      m AS (SELECT doc_id, map_from_entries(
              list({'k': bucket, 'v': n} ORDER BY bucket)) AS mp
            FROM cells GROUP BY doc_id)
      SELECT doc_id,
             array_to_string(
               [CAST(COALESCE(map_extract(mp, CAST(i AS BIGINT))[1], 0)
                  AS VARCHAR)
                for i in generate_series(0, 31)], ',') AS features
      FROM m ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q208
  /** Asymmetric CONTAINMENT pairs — quotation/subset detection, the
    * measure Jaccard similarity hides: |A∩B|/|A| ≥ τ finds docs mostly
    * CONTAINED in another even when the container is far larger (a
    * quoted paragraph inside a book scores near-zero Jaccard but full
    * containment). Same inverted-index candidate discipline as
    * jaccardPairs; both directions emitted per candidate pair. The
    * phrase-planted fixture guarantees real containment cases. */
  private val q208 = Q(
    "q208_containment_pairs",
    (s, dir) => {
      val sh = Dedup.shingles(phrasedDocs(s, dir), "doc_id", "text", 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val common = sh.as("a")
        .join(sh.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_common"))
      val out = common
        .join(counts.withColumnsRenamed(
          Map("doc_id" -> "doc_a", "n_sh" -> "n_a")), Seq("doc_a"))
        .join(counts.withColumnsRenamed(
          Map("doc_id" -> "doc_b", "n_sh" -> "n_b")), Seq("doc_b"))
        .withColumn("containment_a",
          col("n_common").cast("double") / col("n_a").cast("double"))
        .withColumn("containment_b",
          col("n_common").cast("double") / col("n_b").cast("double"))
        .filter(col("containment_a") >= 0.15d ||
          col("containment_b") >= 0.15d)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b",
          "containment_a", "containment_b")
        .orderBy("doc_a", "doc_b")
      sh.unpersist()
      out
    },
    Some(s"""
      WITH $phrasedSqlCte,
      w2 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM d),
      sh AS (SELECT DISTINCT doc_id,
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
             FROM w2, unnest(generate_series(1, len(ws) - 2)) AS t(i)),
      cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh
              GROUP BY doc_id),
      common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(COUNT(*) AS BIGINT) AS n_common
                 FROM sh a JOIN sh b
                   ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
      SELECT doc_a, doc_b, n_common, ca.n AS n_a, cb.n AS n_b,
             CAST(n_common AS DOUBLE) / CAST(ca.n AS DOUBLE)
               AS containment_a,
             CAST(n_common AS DOUBLE) / CAST(cb.n AS DOUBLE)
               AS containment_b
      FROM common
      JOIN cnt ca ON doc_a = ca.doc_id
      JOIN cnt cb ON doc_b = cb.doc_id
      WHERE CAST(n_common AS DOUBLE) / CAST(ca.n AS DOUBLE) >= 0.15
         OR CAST(n_common AS DOUBLE) / CAST(cb.n AS DOUBLE) >= 0.15
      ORDER BY doc_a, doc_b""")
  )

  // --------------------------------------------------------------- q204
  /** Length-distribution equalization — flatten the corpus's length
    * histogram to its rarest 16-token bucket by sampling each bucket at
    * `min_count / bucket_count`: the anti-length-bias step for training
    * mixes, expressed as [[graft.ops.Sampling.weightedKeeps]] with a
    * DATA-DERIVED weight column (the md5-uniform draw against a
    * computed rate — deterministic, engine-reproducible; the oracle
    * replays the 24-bit draw nibble-by-nibble). Reported per bucket:
    * before/after counts and the rate, so the flattening is auditable. */
  private val q204 = Q(
    "q204_length_equalization",
    (s, dir) => {
      val t = Lake(s, dir).documents.select(col("doc_id"),
        (ceil(TextAnalysis.wsTokenCount(col("text")).cast("double") /
          lit(16.0d)) * 16).cast("long").as("bucket"))
      val b = t.groupBy("bucket").agg(count(lit(1)).as("n"))
      val m = b.agg(min(col("n")).as("mn"))
      val rated = t.join(b, Seq("bucket")).crossJoin(broadcast(m))
        .withColumn("rate", col("mn").cast("double") / col("n").cast("double"))
      rated
        .withColumn("kept",
          Sampling.weightedKeeps(col("doc_id"), col("rate"), "eq"))
        .groupBy("bucket")
        .agg(max(col("n")).as("n_before"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_after"),
          max(col("rate")).as("rate"))
        .orderBy("bucket")
    },
    Some(s"""
      WITH t AS (SELECT doc_id,
          CAST(CEIL(CAST(len(string_split(text, ' ')) AS DOUBLE) / 16.0)
            * 16 AS BIGINT) AS bucket
        FROM documents),
      b AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n
            FROM t GROUP BY 1),
      m AS (SELECT MIN(n) AS mn FROM b),
      r AS (SELECT t.doc_id, t.bucket, b.n,
              CAST(m.mn AS DOUBLE) / CAST(b.n AS DOUBLE) AS rate
            FROM t JOIN b USING (bucket) CROSS JOIN m),
      k AS (SELECT bucket, n, rate,
              CAST(${hexSql("md5(CAST(doc_id AS VARCHAR) || 'eq')", 6)}
                AS DOUBLE) / 16777216.0 < rate AS kept
            FROM r)
      SELECT bucket, MAX(n) AS n_before,
             CAST(COUNT(*) FILTER (WHERE kept) AS BIGINT) AS n_after,
             MAX(rate) AS rate
      FROM k GROUP BY bucket ORDER BY bucket""")
  )

  // --------------------------------------------------------------- q200
  /** The CORPUS RELEASE PIPELINE, end to end — the capstone composition:
    * Gopher structural rules → classifier gate → exact-dedup canonical
    * (computed among the docs that SURVIVED the gates, the order a real
    * release runs) → deterministic 80% sample, reported as per-stage
    * survivor counts. Every stage is individually gated (q159 / q68 /
    * q30 / q51); this gate pins the COMPOSITION — the same expressions
    * chained, so stage order and survivor interactions cannot drift
    * from the parts. */
  private val q200 = Q(
    "q200_release_pipeline",
    (s, dir) => {
      import org.apache.spark.sql.expressions.{Window => W}
      val cfg = graft.ops.Curation.GopherConfig(
        minWords = 30, stopwords = Seq("a", "the"), minStopHits = 2)
      val docs = Lake(s, dir).documents
      val g = graft.ops.Curation.gopherRules(docs, "text", cfg)
        .filter(col("keep"))
        .select("doc_id", "text")
      val cls = g.filter(Classifier.marginTenths(col("text"), 64, 5) >= 0)
      val ded = cls
        .withColumn("__cn",
          min(col("doc_id")).over(W.partitionBy(md5(col("text")))))
        .filter(col("doc_id") === col("__cn"))
      val sam = ded.filter(Sampling.keeps(col("doc_id"), 0.8, "rel"))
      val stages = Seq(
        ("input", docs.select("doc_id")), ("gopher", g.select("doc_id")),
        ("classifier", cls.select("doc_id")), ("dedup", ded.select("doc_id")),
        ("sampled", sam.select("doc_id")))
      stages.zipWithIndex.map { case ((name, df), i) =>
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(i.toLong).as("stage"), lit(name).as("stage_name"),
            col("n_docs"))
      }.reduce(_.unionByName(_)).orderBy("stage")
    },
    Some(s"""
      WITH $scoredSqlCtes,
      gw AS (SELECT doc_id, text, string_split(text, ' ') AS ws
             FROM documents),
      gm AS (SELECT doc_id,
               CAST(len(ws) AS BIGINT) AS n_words,
               CAST(length(replace(text, ' ', '')) AS DOUBLE) /
                 CAST(len(ws) AS DOUBLE) AS mwl,
               CAST(len(list_filter(ws, x -> x IN ('a', 'the'))) AS BIGINT)
                 AS sh,
               CAST(len(list_filter(ws, x -> x IN ('#', '…'))) AS DOUBLE) /
                 CAST(len(ws) AS DOUBLE) AS sr
             FROM gw),
      f AS (SELECT d.doc_id, d.text, lab.m,
              (gm.n_words >= 30 AND gm.n_words <= 100000
               AND gm.mwl >= 3.0 AND gm.mwl <= 10.0
               AND gm.sh >= 2 AND gm.sr <= 0.1) AS gk
            FROM documents d
            JOIN lab ON d.doc_id = lab.doc_id
            JOIN gm ON d.doc_id = gm.doc_id),
      g2 AS (SELECT doc_id, text, m FROM f WHERE gk),
      c2 AS (SELECT doc_id, text FROM g2 WHERE m >= 0),
      d2 AS (SELECT doc_id FROM
              (SELECT doc_id,
                 MIN(doc_id) OVER (PARTITION BY md5(text)) AS cn
               FROM c2)
             WHERE doc_id = cn),
      s2 AS (SELECT doc_id FROM d2
             WHERE substring(md5(CAST(doc_id AS VARCHAR) || 'rel'), 1, 3)
                   < '${graft.ops.Sampling.thresholdHex(0.8)}')
      SELECT CAST(stage AS BIGINT) AS stage, stage_name,
             CAST(n_docs AS BIGINT) AS n_docs
      FROM (VALUES
        (0, 'input', (SELECT COUNT(*) FROM documents)),
        (1, 'gopher', (SELECT COUNT(*) FROM g2)),
        (2, 'classifier', (SELECT COUNT(*) FROM c2)),
        (3, 'dedup', (SELECT COUNT(*) FROM d2)),
        (4, 'sampled', (SELECT COUNT(*) FROM s2))) AS t(stage, stage_name, n_docs)
      ORDER BY stage""")
  )

  // --------------------------------------------------------------- q189
  /** XML round trip — Spark 4's NATIVE XML data source (the spark-xml
    * package folded into core) on the same escaping-hazard fixture as
    * q113/q114/q149: entity escaping (&, <, >, quotes) plus an embedded
    * newline must survive write + schema'd read. Fourth interchange
    * format under the hash gate; `ignoreSurroundingSpaces` is disabled
    * because the hazard text's value boundaries are load-bearing. */
  private val q189 = Q(
    "q189_xml_roundtrip",
    (s, dir) => {
      val docs = hazardDocs(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-q189").toString
      graft.core.SilverWriter.deleteOnExit(tmp)
      docs.coalesce(2).write.mode("overwrite")
        .option("rowTag", "doc").xml(s"$tmp/xml")
      s.read.schema(docs.schema)
        .option("rowTag", "doc")
        .option("ignoreSurroundingSpaces", "false")
        .xml(s"$tmp/xml").orderBy("doc_id")
    },
    Some(hazardSql)
  )

  // --------------------------------------------------------------- q185
  /** MERGE-INTO / upsert semantics ([[graft.ops.Snapshot.applyChanges]]):
    * a keyed base snapshot (each user's latest pre-cutoff state) merged
    * with a change batch (latest post-cutoff state per user; users
    * ending in 7 arrive as D tombstones) — highest version wins, winning
    * tombstones delete, replayed deliveries collapse idempotently in the
    * same window. The oracle restates the union + row_number algebra. */
  private val q185 = Q(
    "q185_cdc_upsert",
    (s, dir) => {
      import org.apache.spark.sql.expressions.{Window => W}
      val cutoff = lit("2024-01-16").cast("timestamp")
      val ev = Lake(s, dir).events
      def latest(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("__rn", row_number().over(
            W.partitionBy("user_id").orderBy(col("ts").desc,
              col("event_id").desc)))
          .filter(col("__rn") === 1)
          .select(col("user_id"), col("event_type").as("state"),
            unix_micros(col("ts")).as("version"))
      val base = latest(ev.filter(col("ts") < cutoff))
      val changes = latest(ev.filter(col("ts") >= cutoff))
        .withColumn("op",
          when(pmod(col("user_id"), lit(10)) === 7, "D").otherwise("U"))
      Snapshot.applyChanges(base, changes, "user_id", "version", "op")
        .orderBy("user_id")
    },
    Some("""
      WITH pre AS (SELECT user_id, event_type AS state,
               epoch_us(ts) AS version,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn
             FROM events WHERE ts < TIMESTAMP '2024-01-16'),
      base AS (SELECT user_id, state, version FROM pre WHERE rn = 1),
      post AS (SELECT user_id, event_type AS state,
                 epoch_us(ts) AS version,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
               FROM events WHERE ts >= TIMESTAMP '2024-01-16'),
      chg AS (SELECT user_id, state, version,
                CASE WHEN user_id % 10 = 7 THEN 'D' ELSE 'U' END AS op
              FROM post WHERE rn = 1),
      merged AS (SELECT user_id, state, version, 'U' AS op FROM base
                 UNION ALL
                 SELECT user_id, state, version, op FROM chg),
      win AS (SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY version DESC, op DESC) AS rn FROM merged)
      SELECT user_id, state, CAST(version AS BIGINT) AS version
      FROM win WHERE rn = 1 AND op != 'D' ORDER BY user_id""")
  )

  // --------------------------------------------------------------- q182
  /** Shard-balance audit for the q73 exporter: per-shard doc and token
    * mass plus each shard's share — the check a training job runs before
    * assuming its data-parallel workers get equal work. The oracle
    * replays the 12-hex-digit md5 shard assignment nibble-by-nibble, so
    * the gate pins the exact hash→shard mapping, not just the
    * aggregate shape. */
  private val q182 = Q(
    "q182_shard_skew",
    (s, dir) => {
      import org.apache.spark.sql.expressions.{Window => W}
      val docs = Lake(s, dir).documents.select(col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_tok"))
      Packing.shardExport(docs, "doc_id", nShards = 8, salt = "sk")
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"))
        .withColumn("doc_share",
          col("n_docs").cast("double") /
            sum(col("n_docs")).over(W.partitionBy()).cast("double"))
        .orderBy("shard")
    },
    Some(s"""
      WITH t AS (SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
          CAST(${hexSql("md5('sk' || CAST(doc_id AS VARCHAR))", 12)} % 8
            AS BIGINT) AS shard
        FROM documents)
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
             CAST(COUNT(*) AS DOUBLE) /
               CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS doc_share
      FROM t GROUP BY shard ORDER BY shard""")
  )

  // --------------------------------------------------------------- q184
  /** Source-vocabulary overlap matrix: exact Jaccard between every
    * source pair's word sets — the corpus-level similarity diagnostic
    * ("are src3 and src7 the same crawl twice?") that sits above the
    * doc-level dedup family. Distinct (source, word) pairs self-join on
    * the word (inverted-index discipline — never source×source×vocab),
    * sizes ride a broadcast. */
  private val q184 = Q(
    "q184_source_vocab_overlap",
    (s, dir) => {
      val sv = Lake(s, dir).documents
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .distinct()
      val sizes = sv.groupBy("source").agg(count(lit(1)).as("v"))
      sv.as("a")
        .join(sv.as("b"),
          col("a.w") === col("b.w") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
          col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(broadcast(sizes.withColumnRenamed("v", "v_a")
          .withColumnRenamed("source", "source_a")), Seq("source_a"))
        .join(broadcast(sizes.withColumnRenamed("v", "v_b")
          .withColumnRenamed("source", "source_b")), Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("n_common"),
          col("v_a"), col("v_b"),
          (col("n_common").cast("double") /
            (col("v_a") + col("v_b") - col("n_common")).cast("double"))
            .as("jaccard"))
        .orderBy("source_a", "source_b")
    },
    Some("""
      WITH sv AS (SELECT DISTINCT source,
                    unnest(string_split(text, ' ')) AS w
                  FROM documents),
      sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS v
                FROM sv GROUP BY source),
      inter AS (SELECT a.source AS source_a, b.source AS source_b,
                  CAST(COUNT(*) AS BIGINT) AS n_common
                FROM sv a JOIN sv b
                  ON a.w = b.w AND a.source < b.source
                GROUP BY 1, 2)
      SELECT source_a, source_b, n_common, sa.v AS v_a, sb.v AS v_b,
             CAST(n_common AS DOUBLE) /
               CAST(sa.v + sb.v - n_common AS DOUBLE) AS jaccard
      FROM inter
      JOIN sizes sa ON source_a = sa.source
      JOIN sizes sb ON source_b = sb.source
      ORDER BY source_a, source_b""")
  )

  // --------------------------------------------------------------- q174
  /** Lang-ID confusion matrix — q37's heuristic classifier EVALUATED:
    * per (true_lang, pred_lang) cell counts plus per-cell share of the
    * true language's row total (the recall diagonal when
    * true == pred). The q150 confusion algebra applied per-class over
    * the shared [[LangIdCtes]] chain, so the model under evaluation is
    * definitionally the model in production. */
  private val q174 = Q(
    "q174_langid_confusion",
    (s, dir) => {
      import org.apache.spark.sql.expressions.{Window => W}
      langIdFrame(s, dir)
        .groupBy("true_lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .withColumn("true_total",
          sum(col("n")).over(W.partitionBy("true_lang")))
        .withColumn("share",
          col("n").cast("double") / col("true_total").cast("double"))
        .orderBy("true_lang", "pred_lang")
    },
    Some(s"""
      WITH $LangIdCtes,
      cells AS (SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
                FROM lpred GROUP BY 1, 2)
      SELECT true_lang, pred_lang, n,
             CAST(SUM(n) OVER (PARTITION BY true_lang) AS BIGINT)
               AS true_total,
             CAST(n AS DOUBLE) /
               CAST(SUM(n) OVER (PARTITION BY true_lang) AS DOUBLE) AS share
      FROM cells ORDER BY true_lang, pred_lang""")
  )

  // --------------------------------------------------------------- q175
  /** Label-noise candidates (confident-learning lite): docs where the
    * weak label and a CONFIDENT classifier margin disagree — labeled
    * positive but margin ≤ −5 tenths, or labeled negative but margin ≥
    * +5. On real pipelines this list goes to re-annotation; flagging is
    * one map-side predicate over the q150 scored frame. Output is the
    * flagged docs plus their conflict direction, deterministic. */
  private val q175 = Q(
    "q175_label_noise",
    (s, dir) =>
      scoredDocs(s, dir)
        .withColumn("conflict",
          when(col("label") && col("m") <= -5L, "pos_label_neg_score")
            .when(!col("label") && col("m") >= 5L, "neg_label_pos_score"))
        .filter(col("conflict").isNotNull)
        .select(col("doc_id"), col("label"), col("m"), col("conflict"))
        .orderBy("doc_id"),
    Some(s"""
      WITH $scoredSqlCtes
      SELECT doc_id, label, m,
             CASE WHEN label AND m <= -5 THEN 'pos_label_neg_score'
                  ELSE 'neg_label_pos_score' END AS conflict
      FROM lab
      WHERE (label AND m <= -5) OR (NOT label AND m >= 5)
      ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q171
  /** ENSEMBLE dedup — three independent evidence sources unioned into one
    * duplicate graph, then components and survivors: exact content hash
    * (q30's source), 3-gram Jaccard ≥ 0.8 (q31/q50's), and duplicated
    * SPANS ≥ 6 tokens (q169's sharedSpans — catches partial-copy docs the
    * whole-document measures miss; the planted phrase tails cluster
    * through THIS source alone). Production dedup is exactly this shape:
    * no single detector catches every duplication mode, and the CC layer
    * is where the modes reconcile. The oracle unions the three pair
    * chains, closes the recursive CC fixpoint, and picks survivors with
    * the q120 QUALIFY — one declarative statement of the whole ensemble.
    *
    * MEASURED (DedupScaleProbe, sf0.1 ×10 shingle-disjoint replicas,
    * local[32]): 10.2 s → 32.0 s — 3.1× at 10× rows. Every pair source
    * is df/threshold-bounded and the CC rounds are O(log diameter), so
    * the gate's from-scratch re-derivation still scales sublinearly. */
  private val q171 = Q(
    "q171_ensemble_dedup",
    (s, dir) => {
      val docs = phrasedDocs(s, dir)
      // measured: sharing one persisted positional-shingle frame across
      // the two fuzzy sources is SLOWER here (8.3 s vs 7.7 dedicated) —
      // the wider positional frame costs more to persist+rescan than the
      // two independent parquet scans it saves; kept as independent
      // chains, with Dedup.sharedSpansFromPositional available for
      // ensembles whose corpus scan actually dominates
      val jac = Dedup.jaccardPairs(
          Dedup.shingles(docs, "doc_id", "text", 3), 0.8)
        .select("doc_a", "doc_b")
      val fp = docs.select(col("doc_id"), md5(col("text")).as("__fp"))
      val exact = fp.as("a")
        .join(fp.as("b"),
          col("a.__fp") === col("b.__fp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      val spans = Dedup.sharedSpans(docs, "doc_id", "text", 3, 30L)
        .filter(col("longest_span_tokens") >= 6)
        .select("doc_a", "doc_b")
      val pairs = jac.unionByName(exact).unionByName(spans).distinct()
      val clusters = Dedup.dupClusters(docs.select("doc_id"), pairs)
      Dedup.keepCanonical(clusters, docs.select("doc_id", "n_chars"), "n_chars")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH RECURSIVE
      $phrasedSqlCte,
      w2 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM d),
      shd AS (SELECT DISTINCT doc_id,
                ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
              FROM w2, unnest(generate_series(1, len(ws) - 2)) AS t(i)),
      cnt AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
      common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   COUNT(*) AS n_common
                 FROM shd a JOIN shd b
                   ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
      jpairs AS (SELECT doc_a, doc_b FROM common
                 JOIN cnt ca ON doc_a = ca.doc_id
                 JOIN cnt cb ON doc_b = cb.doc_id
                 WHERE CAST(n_common AS DOUBLE)
                         / (ca.n + cb.n - n_common) >= 0.8),
      fp AS (SELECT doc_id, md5(text) AS h FROM d),
      epairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM fp a JOIN fp b
                   ON a.h = b.h AND a.doc_id < b.doc_id),
      sp AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(ws[(i + 1):(i + 3)], ' ') AS shingle
             FROM w2, unnest(generate_series(0, len(ws) - 3)) AS t(i)),
      keepw AS (SELECT shingle FROM sp GROUP BY shingle
                HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 30),
      c2 AS (SELECT sp.doc_id, sp.pos, sp.shingle
             FROM sp JOIN keepw USING (shingle)),
      pr AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.pos AS pos_a
             FROM c2 a JOIN c2 b
               ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
      blk AS (SELECT doc_a, doc_b, pos_a,
                CASE WHEN lag(pos_a) OVER
                       (PARTITION BY doc_a, doc_b ORDER BY pos_a) IS NULL
                     OR pos_a > lag(pos_a) OVER
                       (PARTITION BY doc_a, doc_b ORDER BY pos_a) + 1
                     THEN 1 ELSE 0 END AS newb
              FROM pr),
      blk2 AS (SELECT doc_a, doc_b, pos_a,
                 SUM(newb) OVER (PARTITION BY doc_a, doc_b ORDER BY pos_a)
                   AS blk
               FROM blk),
      spans AS (SELECT doc_a, doc_b, blk, COUNT(*) AS len
                FROM blk2 GROUP BY 1, 2, 3),
      spairs AS (SELECT doc_a, doc_b FROM spans GROUP BY doc_a, doc_b
                 HAVING MAX(len) + 2 >= 6),
      upairs AS (SELECT doc_a, doc_b FROM jpairs
                 UNION SELECT doc_a, doc_b FROM epairs
                 UNION SELECT doc_a, doc_b FROM spairs),
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM upairs
                UNION ALL SELECT doc_b, doc_a FROM upairs),
      reach AS (SELECT doc_id AS node, doc_id AS label FROM documents
                UNION
                SELECT e.dst AS node, r.label
                FROM reach r JOIN edges e ON r.node = e.src),
      cc AS (SELECT node AS doc_id, MIN(label) AS cluster_id
             FROM reach GROUP BY node),
      sized AS (SELECT doc_id, cluster_id,
                  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
                FROM cc)
      SELECT s.doc_id, s.cluster_id, s.cluster_size,
             CAST(s.cluster_size - 1 AS BIGINT) AS n_dropped
      FROM sized s JOIN documents dd ON dd.doc_id = s.doc_id
      QUALIFY row_number() OVER (
        PARTITION BY s.cluster_id ORDER BY dd.n_chars DESC, s.doc_id) = 1
      ORDER BY s.doc_id""")
  )

  // --------------------------------------------------------------- q256
  /** BPE SEGMENTATION under the hash gate — q142 proves the learner,
    * this proves the ENCODER: the learned 12-merge table applied to the
    * whole corpus ([[graft.ops.Bpe.tokenize]] — wrap → N literal
    * replaces folded into one codegen'd expression → unwrap, encoding
    * rides the scan with zero shuffle), pinned by the top-50 subword
    * counts. The oracle replays learning AND application on the shared
    * round chain: the corpus state after round 12 IS the tokenization,
    * so its symbol histogram must equal the Spark side's exploded token
    * counts exactly — identical tie order via (count desc, token). */
  private val q256 = Q(
    "q256_bpe_segmentation",
    (s, dir) => {
      val docs = Lake(s, dir).documents
      val merges = graft.ops.Bpe.learn(docs, "text", BpeMergeCount)
      docs.select(explode(graft.ops.Bpe.tokenize(col("text"), merges))
          .as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50)
    },
    Some(s"""
      WITH $bpeChain,
      tok AS (
        SELECT unnest(string_split(trim(s, chr(1)), chr(1) || chr(1)))
                 AS token,
               freq
        FROM s$BpeMergeCount)
      SELECT token, CAST(SUM(freq) AS BIGINT) AS n
      FROM tok GROUP BY token
      ORDER BY n DESC, token LIMIT 50""")
  )

  // --------------------------------------------------------------- q257
  /** Tokenizer fertility per language — THE cross-lingual tokenizer
    * health metric (subwords per word; a tokenizer trained on one
    * language fragments the others, inflating their token bills and
    * shrinking their effective context): q256's learned table applied
    * corpus-wide, word and subword mass summed per `lang` as exact
    * longs, fertility one final division. The oracle joins the
    * per-(lang, word) frequency table against the round-12 corpus state
    * (the chain carries the word key through every round for exactly
    * this join) — so the gate pins that per-word segmentations, not
    * just corpus totals, agree. */
  private val q257 = Q(
    "q257_tokenizer_fertility",
    (s, dir) => {
      val docs = Lake(s, dir).documents
      val merges = graft.ops.Bpe.learn(docs, "text", BpeMergeCount)
      docs.select(col("lang"),
          size(filter(split(col("text"), " "), w => length(w) > 0))
            .cast("long").as("nw"),
          size(graft.ops.Bpe.tokenize(col("text"), merges))
            .cast("long").as("nt"))
        .groupBy("lang")
        .agg(sum(col("nw")).as("n_words"), sum(col("nt")).as("n_subwords"))
        .withColumn("fertility",
          col("n_subwords").cast("double") / col("n_words").cast("double"))
        .orderBy("lang")
    },
    Some(s"""
      WITH $bpeChain,
      wl AS (
        SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
          SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE length(w) > 0 GROUP BY 1, 2),
      tokc AS (
        SELECT w, CAST(len(string_split(trim(s, chr(1)), chr(1) || chr(1)))
          AS BIGINT) AS nt
        FROM s$BpeMergeCount)
      SELECT lang,
             CAST(SUM(freq) AS BIGINT) AS n_words,
             CAST(SUM(freq * nt) AS BIGINT) AS n_subwords,
             CAST(SUM(freq * nt) AS DOUBLE) / CAST(SUM(freq) AS DOUBLE)
               AS fertility
      FROM wl JOIN tokc USING (w)
      GROUP BY lang ORDER BY lang""")
  )

  // --------------------------------------------------------------- q261
  /** Masked-LM corpus generation under the hash gate — the BERT-style
    * objective builder: every 20th word position (phase-shifted per doc
    * by doc_id, so the mask pattern is deterministic but not aligned
    * across docs) is replaced by `<mask>` in the input and recorded as
    * `pos:word` in the target string. The whole construction is array
    * ops riding the scan (indexed `transform` + `filter` + `array_join`
    * — no shuffle, no UDF); the oracle rebuilds it positionally via
    * unnest + ordered string_agg. Docs too short to hit a mask position
    * emit an empty target, pinning the no-op path too. */
  private val q261 = Q(
    "q261_masked_lm_corpus",
    (s, dir) => {
      val words = split(col("text"), " ")
      val masked = transform(words, (w, i) =>
        when((i + lit(1) + col("doc_id")) % 20 === 0, lit("<mask>"))
          .otherwise(w))
      val targets = filter(
        transform(words, (w, i) =>
          when((i + lit(1) + col("doc_id")) % 20 === 0,
            concat((i + 1).cast("string"), lit(":"), w))),
        t => t.isNotNull)
      Lake(s, dir).documents.select(
          col("doc_id"),
          size(words).cast("long").as("n_words"),
          size(targets).cast("long").as("n_masked"),
          array_join(masked, " ").as("input"),
          array_join(targets, "|").as("targets"))
        .orderBy("doc_id")
    },
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      tok AS (SELECT doc_id, i, ws[i] AS w
              FROM w, unnest(generate_series(1, len(ws))) AS t(i)),
      m AS (SELECT doc_id, i,
              CASE WHEN (i + doc_id) % 20 = 0 THEN '<mask>' ELSE w END AS mw,
              CASE WHEN (i + doc_id) % 20 = 0
                   THEN CAST(i AS VARCHAR) || ':' || w END AS tgt
            FROM tok)
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(CASE WHEN tgt IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_masked,
             string_agg(mw, ' ' ORDER BY i) AS input,
             COALESCE(string_agg(tgt, '|' ORDER BY i), '') AS targets
      FROM m GROUP BY doc_id ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q262
  /** Embedding-truncation recall — the Matryoshka question: how much of
    * the full-dimension neighborhood survives if only the FIRST 16 of 64
    * dims are stored (4× memory/bandwidth cut at serving time)? Exact
    * top-10 under both representations (norms recomputed on the
    * truncated prefix — truncation changes geometry, not just length),
    * recall@10 = |overlap|/10 per query, aggregated as exact integer
    * counts with one final division. The oracle replays both rankings on
    * sliced lists and joins them. At scale both sides swap for the
    * IVF-served candidate frames (q98) — the metric layer is
    * representation-agnostic. */
  private val q262 = Q(
    "q262_truncation_recall",
    (s, dir) => {
      val emb = Lake(s, dir).embeddings
      val full = Similarity.withNorm(emb, "vec_id", "embedding")
      val trunc = Similarity.withNorm(
        emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding")),
        "vec_id", "embedding")
      val topF = Similarity.bruteForceTopK(full, full.filter(col("vec_id") < 25), 10)
        .select(col("query_id"), col("neighbor_id"))
      val topT = Similarity.bruteForceTopK(trunc, trunc.filter(col("vec_id") < 25), 10)
        .select(col("query_id"), col("neighbor_id"))
      val inter = topF.join(topT, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("kept"))
      topF.select("query_id").distinct()
        .join(inter, Seq("query_id"), "left")
        .agg(
          count(lit(1)).as("nq"),
          sum(coalesce(col("kept"), lit(0L))).as("total_kept"))
        .select(col("nq"), col("total_kept"),
          (col("total_kept").cast("double") / (lit(10.0) * col("nq")))
            .as("mean_recall_at_10"))
    },
    Some(s"""
      WITH $NormedCte,
      mt AS (SELECT vec_id, v[1:16] AS v,
               sqrt(list_reduce(list_transform(v[1:16], x -> x*x),
                 (a,b) -> a+b)) AS nrm
             FROM e),
      tf AS (SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY ${sqlDot("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
                     c.vec_id) AS rank
        FROM m q JOIN m c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 25) WHERE rank <= 10),
      tt AS (SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY ${sqlDot("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
                     c.vec_id) AS rank
        FROM mt q JOIN mt c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 25) WHERE rank <= 10),
      inter AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS kept
                FROM tf JOIN tt USING (query_id, neighbor_id)
                GROUP BY query_id)
      SELECT COUNT(*) AS nq,
             CAST(SUM(COALESCE(kept, 0)) AS BIGINT) AS total_kept,
             CAST(SUM(COALESCE(kept, 0)) AS DOUBLE) / (10.0 * COUNT(*))
               AS mean_recall_at_10
      FROM (SELECT DISTINCT query_id FROM tf) q
      LEFT JOIN inter USING (query_id)""")
  )

  // --------------------------------------------------------------- q263
  /** kNN-classifier evaluation — the zero-training baseline every
    * embedding space owes its users: predict each query's label by
    * majority vote of its exact top-10 cosine neighbors (tie → smallest
    * label, stated identically in both engines), scored per true label.
    * Errors here localize representation problems per class where
    * q251's retrieval metrics average them away. Vote counting, argmax
    * and accuracy are all exact integers; one division per class at the
    * end. */
  private val q263 = Q(
    "q263_knn_classifier",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Lake(s, dir).embeddings
      val corpus = Similarity.withNorm(emb, "vec_id", "embedding")
      val labels = emb.select(col("vec_id"), col("label"))
      val top = Similarity.bruteForceTopK(corpus, corpus.filter(col("vec_id") < 25), 10)
        .join(broadcast(labels.toDF("neighbor_id", "n_label")), Seq("neighbor_id"))
      val votes = top.groupBy("query_id", "n_label")
        .agg(count(lit(1)).as("votes"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("votes").desc, col("n_label"))
      val pred = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("n_label").as("predicted"))
      pred.join(broadcast(labels.toDF("query_id", "true_label")), Seq("query_id"))
        .groupBy("true_label")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("predicted") === col("true_label"), 1L).otherwise(0L))
            .as("correct"))
        .withColumn("accuracy",
          col("correct").cast("double") / col("n").cast("double"))
        .orderBy("true_label")
    },
    Some(s"""
      WITH $NormedCte,
      t AS (SELECT query_id, n_label FROM (
        SELECT q.vec_id AS query_id, c.label AS n_label,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY ${sqlDot("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
                     c.vec_id) AS rank
        FROM m q JOIN m c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 25) WHERE rank <= 10),
      votes AS (SELECT query_id, n_label, COUNT(*) AS votes
                FROM t GROUP BY 1, 2),
      pred AS (SELECT query_id, n_label AS predicted FROM (
        SELECT query_id, n_label,
          row_number() OVER (PARTITION BY query_id
            ORDER BY votes DESC, n_label) AS rn
        FROM votes) WHERE rn = 1),
      truth AS (SELECT vec_id AS query_id, label AS true_label
                FROM embeddings WHERE vec_id < 25)
      SELECT true_label,
             COUNT(*) AS n,
             CAST(SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
               AS BIGINT) AS correct,
             CAST(SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
               AS DOUBLE) / COUNT(*) AS accuracy
      FROM pred JOIN truth USING (query_id)
      GROUP BY true_label ORDER BY true_label""")
  )

  // --------------------------------------------------------------- q264
  /** Retrieve-then-rerank — the two-stage serving shape every production
    * retrieval stack uses: a cheap high-recall first stage (q71's BM25,
    * widened to top-20 candidates) feeds an expensive scorer that runs
    * on CANDIDATES ONLY (q68's hashed-linear margin, computed on the 20
    * joined texts — never the corpus; at 100 TB that candidates-only
    * contract IS the operator). Final order: margin desc, doc tiebreak,
    * top-5 per query; the gate pins the composed chain — BM25 candidate
    * set, margin recompute, rerank — not either stage alone. */
  private val q264 = {
    val valuesSql = Bm25Fixture
      .map { case (q, t) => s"('$q', '$t')" }.mkString(", ")
    Q(
      "q264_retrieve_rerank",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val docs = Lake(s, dir).documents
        val queries = Bm25Fixture.toDF("query_id", "term")
        val cand = Index.bm25TopK(docs, "doc_id", "text", queries, k = 20)
          .select(col("query_id"), col("doc"),
            col("rank").as("retrieval_rank"))
        val rescored = cand
          .join(docs.select(col("doc_id").as("doc"), col("text")), Seq("doc"))
          .withColumn("m", Classifier.marginTenths(col("text"), 64, 5))
        val w = Window.partitionBy("query_id")
          .orderBy(col("m").desc, col("doc"))
        rescored.withColumn("rerank", row_number().over(w).cast("long"))
          .filter(col("rerank") <= 5)
          .select("query_id", "doc", "m", "retrieval_rank", "rerank")
          .orderBy("query_id", "rerank")
      },
      Some(s"""
      WITH q(query_id, term) AS (VALUES $valuesSql),
      $Bm25ChainSql,
      cand AS (SELECT query_id, doc, CAST(rank AS BIGINT) AS retrieval_rank
               FROM r WHERE rank <= 20),
      ${classifierMarginCtes(
        "(SELECT doc_id, text FROM documents WHERE doc_id IN (SELECT doc FROM cand))",
        "text", 64, 5, prefix = "c_")}
      SELECT query_id, doc, CAST(m AS BIGINT) AS m, retrieval_rank,
             CAST(rerank AS BIGINT) AS rerank
      FROM (SELECT cand.query_id, cand.doc, c_mg.m, cand.retrieval_rank,
              row_number() OVER (PARTITION BY cand.query_id
                ORDER BY c_mg.m DESC, cand.doc) AS rerank
            FROM cand JOIN c_mg ON cand.doc = c_mg.doc_id)
      WHERE rerank <= 5 ORDER BY query_id, rerank""")
    )
  }

  // --------------------------------------------------------------- q265
  /** T5-style span corruption under the hash gate — q261's masked-LM
    * sibling for seq2seq objectives: one 3-word span per full 20-word
    * block is cut out, the INPUT keeps a single `<extra_id_i>` sentinel
    * where the span was, and the TARGET lists each sentinel with its
    * removed words. Span offsets are md5-driven (`md5(doc_id#i)` → 6 hex
    * digits mod 18, the q160 hex idiom) — deterministic, per-doc
    * de-aligned, non-overlapping by block construction. Everything is
    * indexed array ops riding the scan; the oracle rebuilds the same
    * construction positionally (nibble arithmetic via the shared
    * hexSql). Docs under 20 words emit zero spans and pass through —
    * the no-op path is pinned too. */
  private val q265 = {
    val B = 20; val L = 3; val R = B - L + 1
    Q(
      "q265_span_corruption",
      (s, dir) => {
        val words = filter(split(col("text"), " "), w => length(w) > 0)
        val d = Lake(s, dir).documents
          .select(col("doc_id"), words.as("ws"))
          .withColumn("n", size(col("ws")).cast("long"))
          .withColumn("k", expr(s"n div $B"))
          .withColumn("offs", when(col("k") > 0,
            transform(sequence(lit(0L), col("k") - 1), i =>
              conv(substring(md5(concat(col("doc_id").cast("string"),
                lit("#"), i.cast("string"))), 1, 6), 16, 10)
                .cast("long") % R))
            .otherwise(array().cast("array<long>")))
        val inputToks = filter(
          transform(col("ws"), (w, p) => {
            val block = floor(p / lit(B)).cast("int")
            val inBlocks = block.cast("long") < col("k")
            val off = element_at(col("offs"), block + 1)
            val pos = pmod(p, lit(B)).cast("long")
            when(inBlocks && pos === off,
              concat(lit("<extra_id_"), block.cast("string"), lit(">")))
              .when(inBlocks && pos > off && pos < off + L,
                lit(null).cast("string"))
              .otherwise(w)
          }),
          t => t.isNotNull)
        val targets = transform(col("offs"), (off, i) =>
          concat(lit("<extra_id_"), i.cast("string"), lit("> "),
            array_join(slice(col("ws"),
              (i.cast("long") * B + off + 1).cast("int"), lit(L)), " ")))
        d.select(
            col("doc_id"),
            col("n").as("n_words"),
            col("k").as("n_spans"),
            array_join(inputToks, " ").as("input"),
            array_join(targets, " ").as("targets"))
          .orderBy("doc_id")
      },
      Some(s"""
      WITH w AS (SELECT doc_id,
              list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
            FROM documents),
      base AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n,
                 CAST(len(ws) // $B AS BIGINT) AS k
               FROM w),
      offs AS (SELECT doc_id, i,
                 ${hexSql(
          "md5(CAST(doc_id AS VARCHAR) || '#' || CAST(i AS VARCHAR))", 6)}
                   % $R AS off
               FROM base, unnest(generate_series(0, k - 1)) AS t(i)
               WHERE k > 0),
      tokpos AS (SELECT doc_id, p, ws[CAST(p + 1 AS INT)] AS word
                 FROM base, unnest(generate_series(0, n - 1)) AS t(p)),
      marked AS (SELECT tp.doc_id, p,
                   CASE WHEN o.off IS NOT NULL AND p % $B = o.off
                          THEN '<extra_id_' || CAST(p // $B AS VARCHAR) || '>'
                        WHEN o.off IS NOT NULL AND p % $B > o.off
                             AND p % $B < o.off + $L THEN NULL
                        ELSE word END AS tok
                 FROM tokpos tp LEFT JOIN offs o
                   ON tp.doc_id = o.doc_id AND p // $B = o.i),
      inp AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS input
              FROM marked GROUP BY doc_id),
      tgt AS (SELECT o.doc_id,
                string_agg('<extra_id_' || CAST(i AS VARCHAR) || '> ' ||
                  array_to_string(ws[CAST(i * $B + off + 1 AS INT) :
                                     CAST(i * $B + off + $L AS INT)], ' '),
                  ' ' ORDER BY i) AS targets
              FROM offs o JOIN base USING (doc_id)
              GROUP BY o.doc_id)
      SELECT b.doc_id, b.n AS n_words, b.k AS n_spans,
             inp.input, COALESCE(tgt.targets, '') AS targets
      FROM base b
      JOIN inp ON b.doc_id = inp.doc_id
      LEFT JOIN tgt ON b.doc_id = tgt.doc_id
      ORDER BY b.doc_id""")
    )
  }

  // --------------------------------------------------------------- q268
  /** Cross-source duplication matrix — WHO copies WHOM, the
    * provenance-level complement of q30's instance dedup and q184's
    * vocabulary overlap: duplicate-PREFIX pairs (same md5 over the first
    * 50 chars — template headers and shared boilerplate openings, the
    * duplication mode that survives light editing) rolled up per
    * unordered source pair, with the cross-source count split out. High
    * n_cross between two crawls means the same upstream site was
    * ingested twice under different source labels — the mix-planning
    * input q60 cannot see from per-source stats alone. One md5-key
    * shuffle; within-class pair fan-out is duplicate-class-bounded,
    * never all-pairs. */
  private val q268 = Q(
    "q268_cross_source_dupes",
    (s, dir) => {
      val d = Lake(s, dir).documents
        .select(col("doc_id"), col("source"),
          md5(substring(col("text"), 1, 50)).as("h"))
      val a = d.toDF("id_a", "src_a", "h")
      val b = d.toDF("id_b", "src_b", "h")
      a.join(b, Seq("h"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(least(col("src_a"), col("src_b")).as("source_a"),
          greatest(col("src_a"), col("src_b")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("src_a") =!= col("src_b"), 1L).otherwise(0L))
            .as("n_cross"))
        .orderBy("source_a", "source_b")
    },
    Some("""
      WITH d AS (SELECT doc_id, source, md5(substr(text, 1, 50)) AS h
                 FROM documents)
      SELECT least(a.source, b.source) AS source_a,
             greatest(a.source, b.source) AS source_b,
             COUNT(*) AS n_pairs,
             CAST(SUM(CASE WHEN a.source <> b.source THEN 1 ELSE 0 END)
               AS BIGINT) AS n_cross
      FROM d a JOIN d b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      ORDER BY source_a, source_b""")
  )

  // --------------------------------------------------------------- q274
  /** Duplication-aware loss weights — SOFT dedup: instead of dropping
    * near-duplicates (q30/q120), keep every copy but downweight it by
    * 1/class-size, so the training loss sees each content class with
    * total weight 1 no matter how many times the crawl caught it. The
    * published middle ground between "dedup destroys diversity" and
    * "duplicates dominate the gradient". Classes are q268's boilerplate-
    * prefix fingerprint; weights are exact integer ppm (10⁶ div n — no
    * float, and Σ weights per class reconstructs to ≤ 10⁶ with the
    * div-truncation stated identically in both engines). One md5-key
    * window pass. */
  private val q274 = Q(
    "q274_dedup_loss_weights",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Lake(s, dir).documents
        .select(col("doc_id"), md5(substring(col("text"), 1, 50)).as("h"))
        .withColumn("class_size",
          count(lit(1)).over(Window.partitionBy("h")))
        .select(col("doc_id"), col("class_size"),
          expr("1000000 div class_size").as("weight_ppm"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, class_size, 1000000 // class_size AS weight_ppm
      FROM (SELECT doc_id,
              COUNT(*) OVER (PARTITION BY md5(substr(text, 1, 50)))
                AS class_size
            FROM documents)
      ORDER BY doc_id""")
  )

  // --------------------------------------------------------------- q275
  /** Cross-source quantile normalization — mapping each document's
    * length onto the POOLED length distribution by rank: a doc at the
    * p-th within-source quantile gets the pooled distribution's p-th
    * value. The standard distribution-alignment transform (features
    * from heterogeneous sources become comparable without touching
    * their order) and the continuous complement of q204's equalization
    * SAMPLING (which drops rows; this rewrites values). All discrete
    * and exact: within-source rank r of m maps to pooled index
    * ⌈r·N/m⌉ = (r·N + m − 1) div m over the (value, doc_id)-ordered
    * pooled frame — no interpolation, every output value is a real
    * observed value. The pooled rank rides
    * [[graft.ops.Ranks.globalRowNumber]] (repartitionByRange +
    * per-partition offsets), so no frame ever funnels through a single
    * task; the within-source ranks stay ordinary partitioned windows. */
  private val q275 = Q(
    "q275_quantile_normalization",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Lake(s, dir).documents.select(
        col("doc_id"), col("source"), col("n_chars"))
      val withinW = Window.partitionBy("source")
        .orderBy(col("n_chars"), col("doc_id"))
      val sizeW = Window.partitionBy("source")
      val tot = d.agg(count(lit(1)).as("n_total"))
      val ranked = d
        .withColumn("r", row_number().over(withinW).cast("long"))
        .withColumn("m", count(lit(1)).over(sizeW))
        .crossJoin(broadcast(tot))
        .withColumn("idx", expr("(r * n_total + m - 1) div m"))
      val pooled = Ranks
        .globalRowNumber(d, Seq(col("n_chars"), col("doc_id")), "rn")
        .select(col("rn"), col("n_chars").as("norm_chars"))
      ranked.join(pooled, col("idx") === col("rn"))
        .select("doc_id", "source", "n_chars", "norm_chars")
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, source, n_chars FROM documents),
      tot AS (SELECT COUNT(*) AS n_total FROM d),
      ranked AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY source
                 ORDER BY n_chars, doc_id) AS r,
               COUNT(*) OVER (PARTITION BY source) AS m
        FROM d),
      pooled AS (
        SELECT n_chars AS norm_chars,
               row_number() OVER (ORDER BY n_chars, doc_id) AS rn
        FROM d)
      SELECT ranked.doc_id, ranked.source, ranked.n_chars, pooled.norm_chars
      FROM ranked CROSS JOIN tot
      JOIN pooled ON (r * n_total + m - 1) // m = rn
      ORDER BY ranked.doc_id""")
  )

  // --------------------------------------------------------------- q281
  /** Term burstiness — the dispersion diagnostic behind better-than-tf
    * term weighting: a word that arrives in BURSTS (VMR of its
    * within-document position gaps ≫ 1) is topical; one spread evenly
    * (VMR ≈ 1, Poisson-like) is functional. Computed for the five most
    * frequent corpus words over the exact integer gap sequence
    * (positions via posexplode, gaps via lag within doc), with the
    * variance-to-mean ratio cleared of denominators:
    * vmr = (n·Σg² − S²)/(n·S) — numerator and denominator exact longs,
    * one double division. One tokenize pass, one (word, doc) window,
    * one rollup. */
  private val q281 = Q(
    "q281_term_burstiness",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tok = Lake(s, dir).documents
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .toDF("doc_id", "pos", "w")
      val top = tok.groupBy("w").agg(count(lit(1)).as("n_occ"))
        .orderBy(col("n_occ").desc, col("w")).limit(5)
      val gaps = tok.join(broadcast(top), "w")
        .withColumn("gap",
          (col("pos") - lag(col("pos"), 1).over(
            Window.partitionBy("w", "doc_id").orderBy("pos"))).cast("long"))
        .filter(col("gap").isNotNull)
      gaps.groupBy("w")
        .agg(
          first(col("n_occ")).as("n_occ"),
          count(lit(1)).as("n_gaps"),
          sum(col("gap")).as("s"),
          sum(col("gap") * col("gap")).as("ss"))
        .select(col("w"), col("n_occ"), col("n_gaps"),
          (col("n_gaps") * col("ss") - col("s") * col("s")).as("vmr_num"),
          (col("n_gaps") * col("s")).as("vmr_den"))
        .withColumn("vmr",
          col("vmr_num").cast("double") / col("vmr_den").cast("double"))
        .orderBy(col("n_occ").desc, col("w"))
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, i - 1 AS pos, ws[i] AS w FROM (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          unnest(generate_series(1, len(ws))) AS t(i)),
      top AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_occ FROM tok
              GROUP BY w ORDER BY n_occ DESC, w LIMIT 5),
      gaps AS (
        SELECT tok.w, CAST(pos - lag(pos) OVER (
                 PARTITION BY tok.w, doc_id ORDER BY pos) AS BIGINT) AS gap
        FROM tok JOIN top ON tok.w = top.w),
      agg AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n_gaps,
               CAST(SUM(gap) AS BIGINT) AS s,
               CAST(SUM(gap * gap) AS BIGINT) AS ss
        FROM gaps WHERE gap IS NOT NULL GROUP BY w)
      SELECT a.w, t.n_occ, a.n_gaps,
             a.n_gaps * a.ss - a.s * a.s AS vmr_num,
             a.n_gaps * a.s AS vmr_den,
             CAST(a.n_gaps * a.ss - a.s * a.s AS DOUBLE)
               / CAST(a.n_gaps * a.s AS DOUBLE) AS vmr
      FROM agg a JOIN top t ON a.w = t.w
      ORDER BY t.n_occ DESC, a.w""")
  )

  // --------------------------------------------------------------- q283
  /** Shard-rebalancing plan — what a resharding from 8 to 10 shards
    * actually moves, BEFORE anyone moves it: per (old shard, new shard)
    * cell, document and token mass, with stay/move flagged. Assignment
    * is the q182 convention (12-hex md5 prefix mod n), so the plan is a
    * pure function of the corpus — deterministic, auditable, and the
    * data-migration bill is Σ moved tokens read off one GROUP BY. The
    * modulo-change worst case (gcd(8,10)=2 keeps only ~1/10 in place)
    * is exactly why this readout matters before choosing new shard
    * counts. */
  private val q283 = Q(
    "q283_shard_rebalance_plan",
    (s, dir) => {
      val hex12 = substring(md5(col("doc_id").cast("string")), 1, 12)
      val key = conv(hex12, 16, 10).cast("long")
      Lake(s, dir).documents
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          (key % 8).as("old_shard"), (key % 10).as("new_shard"))
        .groupBy("old_shard", "new_shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
        .withColumn("moves", col("old_shard") =!= col("new_shard"))
        .orderBy("old_shard", "new_shard")
    },
    Some(s"""
      WITH k AS (SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
              ${hexSql("md5(CAST(doc_id AS VARCHAR))", 12)} AS key
            FROM documents)
      SELECT key % 8 AS old_shard, key % 10 AS new_shard,
             COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS tokens,
             key % 8 <> key % 10 AS moves
      FROM k
      GROUP BY 1, 2, 5
      ORDER BY old_shard, new_shard""")
  )

  // --------------------------------------------------------------- q286
  /** Vocabulary-growth curve — Heaps' law measured without the fit
    * (log-free, the q173 discipline): distinct-word count after the
    * first 1k / 10k / 100k tokens of the corpus in its deterministic
    * (doc_id, position) order. The prefix distinct-count needs no
    * per-prefix scan: each word's FIRST global position is computed
    * once, and vocab(N) = |{w : first_pos(w) ≤ N}| — three counts off
    * one first-occurrence frame. Feeding tokenizer-vocab sizing: where
    * the curve flattens is where a bigger vocab stops paying.
    *
    * The token stream itself is never globally ranked (the round-6
    * audit's worst single-partition window): a word's first global
    * position decomposes as `tokens-in-docs-before(doc) + p + 1`, where
    * the first occurrence (doc, p) is a plain min(struct) aggregate over
    * tokens and the doc prefix-counts ride
    * [[graft.ops.Ranks.globalCumSum]] over the per-doc token totals — the
    * only ordered frame is #docs-sized, and it is range-partitioned. */
  private val q286 = Q(
    "q286_vocab_curve",
    (s, dir) => {
      val tok = Lake(s, dir).documents
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .toDF("doc_id", "p", "w")
      val perDoc = tok.groupBy("doc_id").agg(count(lit(1)).as("__nt"))
      val before = Ranks
        .globalCumSum(perDoc, Seq(col("doc_id")), col("__nt"), "__cum")
        .select(col("doc_id"), (col("__cum") - col("__nt")).as("__before"))
      val firstOcc = tok.groupBy("w")
        .agg(min(struct(col("doc_id"), col("p"))).as("f"))
        .select(col("w"), col("f.doc_id").as("doc_id"), col("f.p").as("p"))
      val fp = firstOcc.join(before, Seq("doc_id"))
        .select(col("w"),
          (col("__before") + col("p").cast("long") + lit(1L)).as("first_pos"))
      val checkpoints = s.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(1000L),
          org.apache.spark.sql.Row(10000L),
          org.apache.spark.sql.Row(100000L)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_prefix",
            org.apache.spark.sql.types.LongType))))
      broadcast(checkpoints)
        .join(fp, col("first_pos") <= col("n_prefix"))
        .groupBy("n_prefix")
        .agg(count(lit(1)).as("vocab_size"))
        .orderBy("n_prefix")
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, i AS p, ws[i] AS w FROM (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          unnest(generate_series(1, len(ws))) AS t(i)),
      g AS (SELECT w, row_number() OVER (ORDER BY doc_id, p) AS gp
            FROM tok),
      fp AS (SELECT w, CAST(MIN(gp) AS BIGINT) AS first_pos
             FROM g GROUP BY w),
      cp(n_prefix) AS (VALUES (CAST(1000 AS BIGINT)),
                              (CAST(10000 AS BIGINT)),
                              (CAST(100000 AS BIGINT)))
      SELECT n_prefix, COUNT(*) AS vocab_size
      FROM cp JOIN fp ON first_pos <= n_prefix
      GROUP BY n_prefix
      ORDER BY n_prefix""")
  )

  // --------------------------------------------------------------- q251
  /** Retrieval evaluation over the label ground truth: each query's
    * exact top-10 cosine neighbors (q35's brute-force path), a neighbor
    * is RELEVANT iff it shares the query's label, and the suite reports
    * precision@10, hit@10 and MRR@10. The reciprocal-rank sum is kept
    * exact by clearing denominators: rank ∈ 1..10 all divide
    * 2520 = lcm(1..10), so Σ 2520/first_rank is an exact long
    * (`mrr_scaled`) and MRR is one double division at the end — the
    * gate pins the metric algebra, not a float accumulation order. At
    * scale the brute-force corpus side swaps for the IVF/LSH candidate
    * frames exactly as q98 serves q36; the metric layer is unchanged. */
  private val q251 = Q(
    "q251_retrieval_eval",
    (s, dir) => {
      val emb = Lake(s, dir).embeddings
      val corpus = Similarity.withNorm(emb, "vec_id", "embedding")
      val queries = corpus.filter(col("vec_id") < 25)
      val labels = emb.select(col("vec_id"), col("label"))
      val top = Similarity.bruteForceTopK(corpus, queries, 10)
        .join(broadcast(labels.toDF("query_id", "q_label")), Seq("query_id"))
        .join(broadcast(labels.toDF("neighbor_id", "n_label")), Seq("neighbor_id"))
      val rel = col("q_label") === col("n_label")
      val per = top.groupBy("query_id")
        .agg(
          sum(when(rel, 1L).otherwise(0L)).as("rel10"),
          min(when(rel, col("rank"))).as("first_rel"))
      per.agg(
          count(lit(1)).as("nq"),
          sum(col("rel10")).as("total_rel"),
          sum(when(col("first_rel").isNotNull, 1L).otherwise(0L)).as("hit_q"),
          sum(coalesce((lit(2520) / col("first_rel")).cast("long"), lit(0L)))
            .as("mrr_scaled"))
        .select(col("nq"), col("total_rel"), col("hit_q"), col("mrr_scaled"),
          (col("total_rel").cast("double") / (lit(10.0) * col("nq")))
            .as("precision_at_10"),
          (col("mrr_scaled").cast("double") / (lit(2520.0) * col("nq")))
            .as("mrr"))
    },
    Some(s"""
      WITH $NormedCte,
      t AS (SELECT * FROM (
        SELECT q.vec_id AS query_id, q.label AS q_label, c.label AS n_label,
          row_number() OVER (PARTITION BY q.vec_id
            ORDER BY ${sqlDot("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
                     c.vec_id) AS rank
        FROM m q JOIN m c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 25)
        WHERE rank <= 10),
      per AS (SELECT query_id,
          CAST(SUM(CASE WHEN q_label = n_label THEN 1 ELSE 0 END) AS BIGINT)
            AS rel10,
          MIN(CASE WHEN q_label = n_label THEN rank END) AS first_rel
        FROM t GROUP BY query_id)
      SELECT COUNT(*) AS nq,
        CAST(SUM(rel10) AS BIGINT) AS total_rel,
        CAST(SUM(CASE WHEN first_rel IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS hit_q,
        CAST(SUM(COALESCE(2520 // first_rel, 0)) AS BIGINT) AS mrr_scaled,
        CAST(SUM(rel10) AS DOUBLE) / (10.0 * COUNT(*)) AS precision_at_10,
        CAST(SUM(COALESCE(2520 // first_rel, 0)) AS DOUBLE)
          / (2520.0 * COUNT(*)) AS mrr
      FROM per""")
  )

  // --------------------------------------------------------------- q293
  /** Trigram novelty rate — how much of each document's 3-gram type set
    * appears here FIRST (in deterministic doc_id order): the
    * memorization/contamination counterpart of the q30-q33 dedup family,
    * read from the other side. A doc whose trigrams all debuted earlier
    * is boilerplate or a near-copy even when no single pair crosses a
    * dedup threshold; a curriculum that front-loads high-novelty docs
    * maximizes early token diversity. Each trigram's first document is a
    * plain min aggregate over the [[graft.ops.Dedup.shingles]] frame —
    * no global order over tokens, no pair join, two data-sized shuffles
    * (shingle, then doc). Docs under 3 words have no trigram types and
    * drop out in both engines alike. */
  private val q293 = Q(
    "q293_trigram_novelty",
    (s, dir) => {
      val sh = Dedup.shingles(Lake(s, dir).documents, "doc_id", "text", 3)
      val first = sh.groupBy("shingle").agg(min(col("doc_id")).as("first_doc"))
      sh.join(first, Seq("shingle"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_types"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty",
          col("n_novel").cast("double") / col("n_types").cast("double"))
        .orderBy("doc_id")
    },
    Some("""
      WITH w2 AS (SELECT doc_id, string_split(text, ' ') AS ws
                  FROM documents),
      sh AS (SELECT DISTINCT doc_id,
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
             FROM w2, unnest(generate_series(1, len(ws) - 2)) AS t(i)),
      f AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
      SELECT sh.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END)
               AS BIGINT) AS n_novel,
             CAST(SUM(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END)
               AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty
      FROM sh JOIN f USING (shingle)
      GROUP BY sh.doc_id ORDER BY sh.doc_id""")
  )

  // --------------------------------------------------------------- q294
  /** Zipf rank-frequency profile — the top-30 corpus words with their
    * global frequency rank and the rank·count product (Zipf's law says
    * the product is roughly flat; a corpus whose head products SLOPE is
    * template-heavy or deduplicated wrong — the log-free twin of the
    * q286 vocabulary curve, same discipline as q173). The rank is a
    * DESCENDING [[graft.ops.Ranks.globalRowNumber]] over the word-count
    * frame — vocabulary is data-sized (hapax mass), so this is exactly
    * the frame that must never funnel through one task. */
  private val q294 = Q(
    "q294_zipf_profile",
    (s, dir) => {
      val counts = Lake(s, dir).documents
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
      Ranks.globalRowNumber(counts, Seq(col("n").desc, col("w")), "rank")
        .filter(col("rank") <= 30)
        .select(col("rank"), col("w"), col("n"),
          (col("rank") * col("n")).as("rank_freq"))
        .orderBy("rank")
    },
    Some("""
      WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w
                   FROM documents),
      c AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1),
      r AS (SELECT w, n,
               CAST(row_number() OVER (ORDER BY n DESC, w) AS BIGINT)
                 AS rank
            FROM c)
      SELECT rank, w, n, rank * n AS rank_freq
      FROM r WHERE rank <= 30 ORDER BY rank""")
  )

  // --------------------------------------------------------------- q295
  /** Token-budget curriculum cut — "fill a 10k-token training budget
    * with the densest documents": docs ordered by an exact integer
    * quality proxy (tokens per 1000 chars — per-mille word density,
    * no floats in the ORDER) descending, selected while the RUNNING
    * token total stays within budget, reported per source. The running
    * total is [[graft.ops.Ranks.globalCumSum]] over the (score desc,
    * doc_id) order — the data-sized cut that makes greedy budget fills
    * viable at corpus scale, where a single-partition cumsum would be
    * the whole job's tail. The per-source rollup is the mixture report
    * a curriculum change ships with. */
  private val q295 = Q(
    "q295_budget_curriculum",
    (s, dir) => {
      val budget = 10000L
      val d = Lake(s, dir).documents.select(
        col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        col("n_chars"))
        .withColumn("score", expr("(n_tok * 1000) div n_chars"))
      Ranks.globalCumSum(
          d, Seq(col("score").desc, col("doc_id")), col("n_tok"), "cum")
        .filter(col("cum") <= budget)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_selected"),
          sum(col("n_tok")).as("tokens"),
          min(col("score")).as("min_score"))
        .orderBy("source")
    },
    Some("""
      WITH t AS (SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               n_chars
             FROM documents),
      s AS (SELECT *, (n_tok * 1000) // n_chars AS score FROM t),
      c AS (SELECT *, SUM(n_tok) OVER (ORDER BY score DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM s)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_selected,
             CAST(SUM(n_tok) AS BIGINT) AS tokens,
             CAST(MIN(score) AS BIGINT) AS min_score
      FROM c WHERE cum <= 10000
      GROUP BY source ORDER BY source""")
  )

  // --------------------------------------------------------------- q297
  /** Temperature-scaled mixture plan (τ = 0.5) — the multilingual-
    * pretraining sampling rule: source weights ∝ share^τ, which lifts
    * low-resource sources without letting any source dominate. With
    * τ = 1/2 the weight is `√n_i / Σ_j √n_j` — sqrt is IEEE-correctly
    * rounded (the q156 rule: no ln/exp in a gate, √ is exempt), and the
    * denominator folds a SOURCE-SORTED list so no partition fold order
    * leaks into the double. Each source also gets its integer epoch
    * count `repeats = ⌈target/n⌉` — the "how many times must this
    * source repeat to fill its quota" column a data-loading plan ships
    * with; upsampled (repeats > 1) sources are exactly the lifted tail.
    * One data-sized aggregate; everything after is #sources-sized. */
  private val q297 = Q(
    "q297_temperature_mix",
    (s, dir) => {
      val budget = 1000000.0d
      val per = Lake(s, dir).documents
        .groupBy("source")
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      val z = per
        .agg(sort_array(collect_list(struct(col("source"),
          sqrt(col("n_tokens").cast("double")).as("s")))).as("arr"))
        .select(aggregate(col("arr"), lit(0.0d), (a, x) => a + x("s")).as("z"))
      per.crossJoin(broadcast(z))
        .withColumn("weight",
          sqrt(col("n_tokens").cast("double")) / col("z"))
        .withColumn("target_tokens",
          floor(col("weight") * lit(budget)).cast("long"))
        .withColumn("repeats",
          expr("(target_tokens + n_tokens - 1) div n_tokens"))
        .select("source", "n_tokens", "weight", "target_tokens", "repeats")
        .orderBy("source")
    },
    Some("""
      WITH per AS (SELECT source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
             FROM documents GROUP BY 1),
      z AS (SELECT list_reduce(list_prepend(0.0,
               list(sqrt(CAST(n_tokens AS DOUBLE)) ORDER BY source)),
               (a, b) -> a + b) AS z
            FROM per)
      SELECT source, n_tokens,
             sqrt(CAST(n_tokens AS DOUBLE)) / z AS weight,
             CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) / z * 1000000.0)
               AS BIGINT) AS target_tokens,
             (CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) / z * 1000000.0)
               AS BIGINT) + n_tokens - 1) // n_tokens AS repeats
      FROM per CROSS JOIN z ORDER BY source""")
  )

  // --------------------------------------------------------------- q299
  /** Johnson–Lindenstrauss ±1 sketch — the 64-dim embeddings projected
    * to 8 dimensions through a DETERMINISTIC Rademacher matrix
    * (sign(j,d) = parity of the first md5 nibble of "j#d"): the
    * cheap distance-preserving compression in front of an ANN index
    * when the full vector is too wide to shuffle. No randomness at
    * runtime — the matrix is a pure hash function, so any executor (or
    * engine) regenerates it bit-identically. Each output coordinate is
    * one strict left fold over d = 1..64 (the q34/q35 dot-product
    * discipline: identical associativity in both engines, float→double
    * per element before any add). Gated on the first 50 vectors. */
  private val q299 = Q(
    "q299_jl_sketch",
    (s, dir) => {
      def sign(j: Int, d: org.apache.spark.sql.Column) =
        when(conv(substring(md5(
            concat(lit(s"$j#"), d.cast("string"))), 1, 1), 16, 10)
          .cast("long") % 2 === 0, lit(1.0d)).otherwise(lit(-1.0d))
      val projections = (0 until 8).map { j =>
        aggregate(sequence(lit(1), lit(64)), lit(0.0d),
          (acc, d) => acc +
            sign(j, d) * element_at(col("embedding"), d).cast("double"))
          .as(s"p$j")
      }
      Lake(s, dir).embeddings
        .filter(col("vec_id") < 50)
        .select(col("vec_id") +: col("label").cast("long").as("label") +:
          projections: _*)
        .orderBy("vec_id")
    },
    Some {
      def nib(j: Int) =
        s"(strpos('0123456789abcdef', substr(md5('$j#' || CAST(d AS VARCHAR)), 1, 1)) - 1)"
      val cols = (0 until 8).map { j =>
        s"""list_reduce(list_prepend(0.0,
           |  [(CASE WHEN ${nib(j)} % 2 = 0 THEN 1.0 ELSE -1.0 END)
           |     * CAST(embedding[d] AS DOUBLE)
           |   for d in generate_series(1, 64)]),
           |  (a, b) -> a + b) AS p$j""".stripMargin
      }.mkString(",\n             ")
      s"""
      SELECT vec_id, CAST(label AS BIGINT) AS label,
             $cols
      FROM embeddings WHERE vec_id < 50 ORDER BY vec_id"""
    }
  )

  // --------------------------------------------------------------- q300
  /** Label-stratified train/val/test allocation — the leakage-free split
    * every evaluation pipeline starts from: within each label, members
    * are ordered by a salted content hash (rerun-stable, growth-stable
    * for existing ids — the q51/q145 determinism rule) and cut at the
    * EXACT cumulative boundaries b1 = (n·8) div 10, b2 = (n·9) div 10.
    * Cumulative flooring makes the three sizes sum to n per label with
    * no remainder logic and no engine rounding convention; per-label
    * ranks are ordinary partitioned windows (labels are the parallel
    * unit — never a global sort). Output: the (label, split) census a
    * datasheet reports. */
  private val q300 = Q(
    "q300_stratified_split",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val h = md5(concat(lit("split"), col("vec_id").cast("string")))
      val ranked = Lake(s, dir).embeddings
        .select(col("vec_id"), col("label").cast("long").as("label"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("label").orderBy(h, col("vec_id"))).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("label")))
      ranked
        .withColumn("split",
          when(col("rn") <= expr("(n * 8) div 10"), "train")
            .when(col("rn") <= expr("(n * 9) div 10"), "val")
            .otherwise("test"))
        .groupBy("label", "split")
        .agg(count(lit(1)).as("n_members"))
        .orderBy("label", "split")
    },
    Some("""
      WITH r AS (
        SELECT label,
               row_number() OVER (PARTITION BY label
                 ORDER BY md5('split' || CAST(vec_id AS VARCHAR)), vec_id)
                 AS rn,
               COUNT(*) OVER (PARTITION BY label) AS n
        FROM embeddings),
      sp AS (SELECT label,
               CASE WHEN rn <= (n * 8) // 10 THEN 'train'
                    WHEN rn <= (n * 9) // 10 THEN 'val'
                    ELSE 'test' END AS split
             FROM r)
      SELECT CAST(label AS BIGINT) AS label, split,
             CAST(COUNT(*) AS BIGINT) AS n_members
      FROM sp GROUP BY 1, 2 ORDER BY label, split""")
  )

  // --------------------------------------------------------------- q302
  /** LSH quality self-report — the measurement every banded-dedup
    * deployment owes its operators: against the EXACT Jaccard ≥ 0.8
    * ground truth (q31's inverted-index chain), how many true pairs did
    * the 16-hash / 4×4-band geometry surface as candidates (recall —
    * banding's false negatives are silent data duplication left in the
    * corpus), and what fraction of candidates were real (yield — the
    * wasted verify work). Both engines replay BOTH chains and the
    * report is three exact counts plus two guarded divisions; changing
    * the band geometry moves these numbers, and this gate is where the
    * move becomes visible. The ground-truth chain is gate-scale tooling;
    * at 100 TB the recall estimate runs on a small sample stratum while
    * the candidate chain is the production path — that form is
    * [[graft.ops.Dedup.lshRecallSampled]] (q309, with a deterministic
    * bootstrap CI; frac→1 reproduces this report's exact counts), and
    * the census-fused variant is [[graft.ops.Dedup.tuningReport]]
    * (q313). This gate keeps the full-corpus truth so the sampled
    * operators have an exact target to converge to. */
  private val q302 = Q(
    "q302_lsh_recall_report",
    (s, dir) => {
      val sh = Dedup.shingles(Lake(s, dir).documents, "doc_id", "text", 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val truth = Dedup.jaccardPairs(sh, 0.8).select("doc_a", "doc_b")
      val cand = Dedup.lshCandidates(
        Dedup.lshBands(Dedup.minhashSignatures(sh), bands = 4, rowsPerBand = 4))
      val hit = truth.join(cand, Seq("doc_a", "doc_b"), "left_semi")
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
        .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
        .select(col("n_truth"), col("n_candidates"), col("n_hit"),
          (col("n_truth") - col("n_hit")).as("n_missed"),
          coalesce(col("n_hit").cast("double") /
            nullif(col("n_truth").cast("double"), lit(0.0d)), lit(1.0d))
            .as("recall"),
          coalesce(col("n_hit").cast("double") /
            nullif(col("n_candidates").cast("double"), lit(0.0d)), lit(0.0d))
            .as("candidate_yield"))
    },
    Some(s"""
      WITH $ShinglesCte,
      cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      truth AS (
        SELECT doc_a, doc_b FROM common
        JOIN cnt ca ON doc_a = ca.doc_id
        JOIN cnt cb ON doc_b = cb.doc_id
        WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.8),
      sig AS (SELECT doc_id,
        $SigCols
        FROM sh GROUP BY doc_id),
      bands AS (
        $BandSelects),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id),
      hit AS (SELECT doc_a, doc_b FROM truth JOIN cand
              USING (doc_a, doc_b)),
      t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
      c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand),
      h AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit FROM hit)
      SELECT n_truth, n_candidates, n_hit,
             n_truth - n_hit AS n_missed,
             COALESCE(CAST(n_hit AS DOUBLE) /
               NULLIF(CAST(n_truth AS DOUBLE), 0.0), 1.0) AS recall,
             COALESCE(CAST(n_hit AS DOUBLE) /
               NULLIF(CAST(n_candidates AS DOUBLE), 0.0), 0.0)
               AS candidate_yield
      FROM t CROSS JOIN c CROSS JOIN h""")
  )

  /** One q306 threshold arm: edges at `pct`% Jaccard, recursive CC, and
    * the cluster census. `pairs` is the shared ≥ 0.70 superset CTE. */
  private def thresholdArmSql(pct: Int): String = {
    val frac = pct / 100.0
    s"""edges_$pct AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs WHERE jacc >= $frac
        UNION ALL
        SELECT doc_b, doc_a FROM pairs WHERE jacc >= $frac),
      reach_$pct AS (
        SELECT doc_id AS node, doc_id AS label FROM documents
        UNION
        SELECT e.dst AS node, r.label
        FROM reach_$pct r JOIN edges_$pct e ON r.node = e.src),
      cc_$pct AS (SELECT node, MIN(label) AS cluster_id
                  FROM reach_$pct GROUP BY node),
      sz_$pct AS (SELECT cluster_id, COUNT(*) AS csz
                  FROM cc_$pct GROUP BY cluster_id),
      sum_$pct AS (
        SELECT CAST($pct AS BIGINT) AS threshold_pct,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs WHERE jacc >= $frac)
            AS n_pairs,
          CAST(COALESCE(SUM(csz) FILTER (WHERE csz > 1), 0) AS BIGINT)
            AS docs_in_dups,
          CAST(COUNT(*) FILTER (WHERE csz > 1) AS BIGINT) AS n_clusters,
          CAST(MAX(csz) AS BIGINT) AS max_cluster_size
        FROM sz_$pct)"""
  }

  // --------------------------------------------------------------- q306
  /** Dedup threshold-sensitivity profile — the tuning table behind every
    * "what Jaccard cutoff do we ship" decision: the SAME candidate pair
    * frame (computed once at the loosest cutoff, 0.70 — tighter cutoffs
    * are pure filters over it, never a recompute) is clustered at
    * 0.70/0.80/0.90, and each threshold reports its pair count,
    * documents caught in duplicate clusters, cluster count, and largest
    * cluster. A cliff between rows (one giant cluster appearing at 0.70)
    * is the over-merging signal; a flat profile says the corpus's
    * duplicate structure is threshold-robust. Three pointer-jumping CC
    * passes over edge frames that only shrink as the threshold rises.
    *
    * MEASURED (DedupScaleProbe, sf0.1 ×10 shingle-disjoint replicas,
    * local[32]): 6.36 s → 14.3 s — 2.3× at 10× rows; the compute-once
    * pair frame is doing its job (tighter cutoffs are filters). */
  private val q306 = Q(
    "q306_dedup_threshold_profile",
    (s, dir) => {
      val docs = Lake(s, dir).documents.select("doc_id")
      val sh = Dedup.shingles(Lake(s, dir).documents, "doc_id", "text", 3)
      val allPairs = Dedup.jaccardPairs(sh, 0.70)
        .select("doc_a", "doc_b", "jaccard")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val arms = Seq(70, 80, 90).map { pct =>
        val pairsT = allPairs.filter(col("jaccard") >= pct / 100.0)
          .select("doc_a", "doc_b")
        val sz = Dedup.dupClusters(docs, pairsT)
          .select("doc_id", "cluster_id", "cluster_size")
          .groupBy("cluster_id")
          .agg(first(col("cluster_size")).as("csz"))
        sz.agg(
            coalesce(sum(when(col("csz") > 1, col("csz"))), lit(0L))
              .as("docs_in_dups"),
            sum(when(col("csz") > 1, 1L).otherwise(0L)).as("n_clusters"),
            max(col("csz")).as("max_cluster_size"))
          .crossJoin(broadcast(pairsT.agg(count(lit(1)).as("n_pairs"))))
          .select(lit(pct.toLong).as("threshold_pct"), col("n_pairs"),
            col("docs_in_dups"), col("n_clusters"), col("max_cluster_size"))
      }
      arms.reduce(_.unionByName(_)).orderBy("threshold_pct")
    },
    Some(s"""
      WITH RECURSIVE $ShinglesCte,
      cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT doc_a, doc_b,
               CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) AS jacc
        FROM common
        JOIN cnt ca ON doc_a = ca.doc_id
        JOIN cnt cb ON doc_b = cb.doc_id
        WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.70),
      ${thresholdArmSql(70)},
      ${thresholdArmSql(80)},
      ${thresholdArmSql(90)}
      SELECT * FROM sum_70
      UNION ALL SELECT * FROM sum_80
      UNION ALL SELECT * FROM sum_90
      ORDER BY threshold_pct""")
  )

  // --------------------------------------------------------------- q308
  /** Embedding class-separation report — the quality audit run before
    * trusting labels (or an embedding model): per label, members'
    * mean cosine to their OWN centroid (cohesion) next to the
    * centroid's cosine to the GLOBAL centroid (how far the class sits
    * from the corpus center). Collapsing cohesion with a
    * near-1 global cosine = the class is not separable in this space.
    * Float determinism is the whole craft here: every centroid
    * component is a fold of member values SORTED by vec_id (never the
    * partition arrival order), every dot/norm is one strict left fold
    * over dims 1..64 with float→double per element, and the per-label
    * cohesion mean folds its cosines vec_id-sorted — so ten doubles
    * hash-match across engines. Frames after the one posexplode are
    * label- and dim-bounded. */
  private val q308 = Q(
    "q308_class_separation",
    (s, dir) => {
      def fold(arr: org.apache.spark.sql.Column) =
        aggregate(arr, lit(0.0d), (a, x) => a + x)
      def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        fold(zip_with(a, b, (x, y) => x * y))
      def cos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
      val e = Lake(s, dir).embeddings.select(col("vec_id"),
        col("label").cast("long").as("label"),
        transform(col("embedding"), x => x.cast("double")).as("emb"))
      val cells = e.select(col("label"), col("vec_id"),
        posexplode(col("emb")).as(Seq("p0", "x")))
        .select(col("label"), col("vec_id"), (col("p0") + 1).as("pos"),
          col("x"))
      def centroid(df: org.apache.spark.sql.DataFrame, keys: Seq[String]) =
        df.groupBy((keys :+ "pos").map(col): _*)
          .agg(sort_array(collect_list(struct(col("vec_id"), col("x"))))
            .as("a"), count(lit(1)).as("k"))
          .select((keys.map(col) :+ col("pos") :+
            (aggregate(col("a"), lit(0.0d), (acc, s0) => acc + s0("x")) /
              col("k").cast("double")).as("m")): _*)
      def toVec(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
          out: String) =
        df.groupBy(keys.map(col): _*)
          .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
            .as("pm"))
          .select((keys.map(col) :+
            transform(col("pm"), s0 => s0.getField("m")).as(out)): _*)
      val lvec = toVec(centroid(cells, Seq("label")), Seq("label"), "cvec")
      val gvec = toVec(centroid(cells, Seq.empty), Seq.empty, "gv")
      val percos = e.join(broadcast(lvec), Seq("label"))
        .select(col("label"), col("vec_id"), cos(col("emb"), col("cvec"))
          .as("cosv"))
      val intra = percos
        .groupBy("label")
        .agg(count(lit(1)).as("k"),
          sort_array(collect_list(struct(col("vec_id"), col("cosv"))))
            .as("cs"))
        .select(col("label"), col("k"),
          (aggregate(col("cs"), lit(0.0d), (acc, s0) => acc + s0("cosv")) /
            col("k").cast("double")).as("mean_intra_cos"))
      val toGlobal = lvec.crossJoin(broadcast(gvec))
        .select(col("label"), cos(col("cvec"), col("gv")).as("cos_to_global"))
      intra.join(toGlobal, Seq("label")).orderBy("label")
    },
    Some("""
      WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label, embedding
                 FROM embeddings),
      cells AS (SELECT label, vec_id, d AS pos,
                  CAST(embedding[d] AS DOUBLE) AS x
                FROM e, unnest(generate_series(1, 64)) AS t(d)),
      lcen AS (SELECT label, pos,
                 list_reduce(list_prepend(0.0, list(x ORDER BY vec_id)),
                   (a, b) -> a + b) / CAST(COUNT(*) AS DOUBLE) AS m
               FROM cells GROUP BY 1, 2),
      lvec AS (SELECT label, list(m ORDER BY pos) AS cvec
               FROM lcen GROUP BY 1),
      gcen AS (SELECT pos,
                 list_reduce(list_prepend(0.0, list(x ORDER BY vec_id)),
                   (a, b) -> a + b) / CAST(COUNT(*) AS DOUBLE) AS m
               FROM cells GROUP BY 1),
      gvec AS (SELECT list(m ORDER BY pos) AS gv FROM gcen),
      percos AS (SELECT e.label, e.vec_id,
          list_reduce(list_prepend(0.0,
            [CAST(embedding[d] AS DOUBLE) * cvec[d]
             for d in generate_series(1, 64)]), (a, b) -> a + b) /
          (sqrt(list_reduce(list_prepend(0.0,
             [CAST(embedding[d] AS DOUBLE) * CAST(embedding[d] AS DOUBLE)
              for d in generate_series(1, 64)]), (a, b) -> a + b)) *
           sqrt(list_reduce(list_prepend(0.0,
             [cvec[d] * cvec[d] for d in generate_series(1, 64)]),
             (a, b) -> a + b))) AS cosv
        FROM e JOIN lvec USING (label)),
      intra AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS k,
          list_reduce(list_prepend(0.0, list(cosv ORDER BY vec_id)),
            (a, b) -> a + b) / CAST(COUNT(*) AS DOUBLE) AS mean_intra_cos
        FROM percos GROUP BY label),
      lg AS (SELECT label,
          list_reduce(list_prepend(0.0,
            [cvec[d] * gv[d] for d in generate_series(1, 64)]),
            (a, b) -> a + b) /
          (sqrt(list_reduce(list_prepend(0.0,
             [cvec[d] * cvec[d] for d in generate_series(1, 64)]),
             (a, b) -> a + b)) *
           sqrt(list_reduce(list_prepend(0.0,
             [gv[d] * gv[d] for d in generate_series(1, 64)]),
             (a, b) -> a + b))) AS cos_to_global
        FROM lvec CROSS JOIN gvec)
      SELECT label, k, mean_intra_cos, cos_to_global
      FROM intra JOIN lg USING (label) ORDER BY label""")
  )

  // --------------------------------------------------------------- q309
  /** Sampled-stratum LSH recall — q302's 100 TB form as CODE, not prose:
    * both the exact-Jaccard truth chain and the banded candidate chain
    * run over the deterministic md5 half-stratum of documents
    * ([[graft.ops.Sampling.keeps]] at frac=0.5, salt "audit"), so the
    * audit touches O(frac²) of the corpus pair volume while still
    * measuring the PRODUCTION chain's behavior (a band collision
    * depends only on the two endpoint signatures — the restricted chain
    * fires exactly where the full chain would; PlanSpec pins that the
    * truth side's shingle explode sits above the stratum filter). The
    * point estimate ships with a deterministic percentile-bootstrap CI
    * (B=16 resamples drawn `md5(i#rep) mod m + 1` over the globally
    * rank-indexed truth pairs — the q304 discipline), so the operator
    * reports not just "recall ≈ r on the stratum" but how much that
    * estimate can wobble. Frac→1 converges to q302's exact recall
    * (SimilaritySpec law). */
  private val q309 = Q(
    "q309_lsh_recall_sampled",
    (s, dir) => Dedup.lshRecallSampled(
      Lake(s, dir).documents, "doc_id", "text", frac = 0.5,
      threshold = 0.8, salt = "audit"),
    Some(s"""
      WITH sd AS (
        SELECT doc_id, text FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR) || 'audit'), 1, 3)
          < '800'),
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM sd),
      sh AS (
        SELECT DISTINCT doc_id,
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
        FROM w, unnest(generate_series(1, len(ws) - 2)) AS t(i)),
      cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      truth AS (
        SELECT doc_a, doc_b FROM common
        JOIN cnt ca ON doc_a = ca.doc_id
        JOIN cnt cb ON doc_b = cb.doc_id
        WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.8),
      sig AS (SELECT doc_id,
        $SigCols
        FROM sh GROUP BY doc_id),
      bands AS (
        $BandSelects),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id),
      flag AS (
        SELECT t.doc_a, t.doc_b,
               CASE WHEN c.doc_a IS NOT NULL THEN CAST(1 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS hit
        FROM truth t LEFT JOIN cand c
          ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
      ranked AS (SELECT hit,
               CAST(row_number() OVER (ORDER BY doc_a, doc_b) AS BIGINT)
                 AS rn FROM flag),
      mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM flag),
      reps AS (SELECT CAST(r AS BIGINT) AS rep
               FROM generate_series(0, 15) AS g(r)),
      draws AS (SELECT rep,
               ${hexSql(
                 "md5(CAST(rn AS VARCHAR) || '#' || CAST(rep AS VARCHAR))",
                 12)}
                 % NULLIF(m, 0) + 1 AS draw
             FROM ranked CROSS JOIN reps CROSS JOIN mm),
      means AS (SELECT rep,
               CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mn
             FROM draws JOIN ranked ON draw = rn GROUP BY rep),
      arr AS (SELECT list(mn ORDER BY mn, rep) AS a FROM means),
      agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
                     CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_hit
              FROM flag),
      sc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_stratum_docs FROM sd)
      SELECT n_stratum_docs, n_truth, n_hit,
             n_truth - n_hit AS n_missed,
             COALESCE(CAST(n_hit AS DOUBLE) /
               NULLIF(CAST(n_truth AS DOUBLE), 0.0), 1.0) AS recall,
             COALESCE(a[3], 1.0) AS boot_lo,
             COALESCE(a[14], 1.0) AS boot_hi
      FROM sc CROSS JOIN agg CROSS JOIN arr""")
  )

  // --------------------------------------------------------------- q312
  /** Sampled decontamination audit — the q309 discipline applied to the
    * q55 concern ([[graft.ops.Dedup.contaminationRateSampled]]): before
    * paying for a full-corpus decontamination pass, estimate the
    * contamination RATE on a deterministic md5 half-stratum of the
    * corpus (salt "contam"). Every stratum doc gets a 0/1 flag (≥ 2
    * distinct trigram shingles shared with the broadcast eval suite —
    * exactly q55's rule) and the rate ships with the deterministic
    * percentile-bootstrap CI over the doc_id-rank-indexed flags. The
    * empty-stratum convention is 0.0 (nothing flagged), where q309's is
    * 1.0 (nothing missed). */
  private val q312 = Q(
    "q312_contamination_sampled",
    (s, dir) => {
      val docs = Lake(s, dir).documents
      Dedup.contaminationRateSampled(
        docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
        "doc_id", "text", frac = 0.5, minOverlap = 2, salt = "contam")
    },
    Some(s"""
      WITH sd AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id >= 20
          AND substring(md5(CAST(doc_id AS VARCHAR) || 'contam'), 1, 3)
            < '800'),
      bw AS (SELECT doc_id, string_split(text, ' ') AS ws
             FROM documents WHERE doc_id < 20),
      bsh AS (SELECT DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                AS shingle
              FROM bw, unnest(generate_series(1, len(ws) - 2)) AS t(i)),
      cw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM sd),
      csh AS (SELECT DISTINCT doc_id,
                ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
              FROM cw, unnest(generate_series(1, len(ws) - 2)) AS t(i)),
      ov AS (SELECT c.doc_id, COUNT(*) AS n
             FROM csh c JOIN bsh b USING (shingle) GROUP BY c.doc_id),
      flag AS (SELECT sd.doc_id,
                 CASE WHEN ov.n >= 2 THEN CAST(1 AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END AS hit
               FROM sd LEFT JOIN ov ON sd.doc_id = ov.doc_id),
      ranked AS (SELECT hit,
               CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rn
             FROM flag),
      mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM flag),
      reps AS (SELECT CAST(r AS BIGINT) AS rep
               FROM generate_series(0, 15) AS g(r)),
      draws AS (SELECT rep,
               ${hexSql(
                 "md5(CAST(rn AS VARCHAR) || '#' || CAST(rep AS VARCHAR))",
                 12)}
                 % NULLIF(m, 0) + 1 AS draw
             FROM ranked CROSS JOIN reps CROSS JOIN mm),
      means AS (SELECT rep,
               CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mn
             FROM draws JOIN ranked ON draw = rn GROUP BY rep),
      arr AS (SELECT list(mn ORDER BY mn, rep) AS a FROM means),
      agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_stratum_docs,
                     CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_flagged
              FROM flag)
      SELECT n_stratum_docs, n_flagged,
             COALESCE(CAST(n_flagged AS DOUBLE) /
               NULLIF(CAST(n_stratum_docs AS DOUBLE), 0.0), 0.0)
               AS contamination_rate,
             COALESCE(a[3], 0.0) AS boot_lo,
             COALESCE(a[14], 0.0) AS boot_hi
      FROM agg CROSS JOIN arr""")
  )

  /** One q313 arm: the q306 census columns PLUS the recall columns, all
    * over the flagged stratum pair frame `pf` and stratum docs `sd`. */
  private def tuningArmSql(pct: Int): String = {
    val frac = pct / 100.0
    s"""edges_$pct AS (
        SELECT doc_a AS src, doc_b AS dst FROM pf WHERE jacc >= $frac
        UNION ALL
        SELECT doc_b, doc_a FROM pf WHERE jacc >= $frac),
      reach_$pct AS (
        SELECT doc_id AS node, doc_id AS label FROM sd
        UNION
        SELECT e.dst AS node, r.label
        FROM reach_$pct r JOIN edges_$pct e ON r.node = e.src),
      cc_$pct AS (SELECT node, MIN(label) AS cluster_id
                  FROM reach_$pct GROUP BY node),
      sz_$pct AS (SELECT cluster_id, COUNT(*) AS csz
                  FROM cc_$pct GROUP BY cluster_id),
      rec_$pct AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_hit
        FROM pf WHERE jacc >= $frac),
      sum_$pct AS (
        SELECT CAST($pct AS BIGINT) AS threshold_pct, n_pairs,
          CAST(COALESCE(SUM(csz) FILTER (WHERE csz > 1), 0) AS BIGINT)
            AS docs_in_dups,
          CAST(COUNT(*) FILTER (WHERE csz > 1) AS BIGINT) AS n_clusters,
          CAST(MAX(csz) AS BIGINT) AS max_cluster_size,
          n_hit,
          COALESCE(CAST(n_hit AS DOUBLE) / NULLIF(CAST(n_pairs AS DOUBLE),
            0.0), 1.0) AS recall
        FROM sz_$pct CROSS JOIN rec_$pct
        GROUP BY n_pairs, n_hit)"""
  }

  // --------------------------------------------------------------- q313
  /** Composed dedup tuning report ([[graft.ops.Dedup.tuningReport]]) —
    * q306's threshold census and q309's recall audit fused over ONE
    * stratum pair frame: per Jaccard cutoff, the cluster census (pairs,
    * docs-in-dups, clusters, largest cluster) AND the fraction of those
    * true pairs the production LSH geometry surfaces. The exact pair
    * frame is computed once at the loosest cutoff with its band-hit flag
    * attached; tighter cutoffs are filters; the banded chain runs once;
    * only the CC passes repeat over shrinking edges. All on the md5
    * half-stratum (salt "tune") — O(frac²) of the full audit. */
  private val q313 = Q(
    "q313_dedup_tuning_report",
    (s, dir) => Dedup.tuningReport(
      Lake(s, dir).documents, "doc_id", "text", frac = 0.5,
      thresholdPcts = Seq(70, 80, 90), salt = "tune")
      .orderBy("threshold_pct"),
    Some(s"""
      WITH RECURSIVE
      sd AS (
        SELECT doc_id, text FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR) || 'tune'), 1, 3)
          < '800'),
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM sd),
      sh AS (
        SELECT DISTINCT doc_id,
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
        FROM w, unnest(generate_series(1, len(ws) - 2)) AS t(i)),
      cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT doc_a, doc_b,
               CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) AS jacc
        FROM common
        JOIN cnt ca ON doc_a = ca.doc_id
        JOIN cnt cb ON doc_b = cb.doc_id
        WHERE CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common) >= 0.70),
      sig AS (SELECT doc_id,
        $SigCols
        FROM sh GROUP BY doc_id),
      bands AS (
        $BandSelects),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id),
      pf AS (
        SELECT p.doc_a, p.doc_b, p.jacc,
               CASE WHEN c.doc_a IS NOT NULL THEN CAST(1 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS hit
        FROM pairs p LEFT JOIN cand c
          ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b),
      ${tuningArmSql(70)},
      ${tuningArmSql(80)},
      ${tuningArmSql(90)}
      SELECT * FROM sum_70
      UNION ALL SELECT * FROM sum_80
      UNION ALL SELECT * FROM sum_90
      ORDER BY threshold_pct""")
  )

  // --------------------------------------------------------------- q326
  /** Unicode script census
    * ([[graft.ops.TextAnalysis.scriptCensus]]) — the multilingual
    * triage a web-scale corpus needs before any tokenizer/langid
    * choice: per-doc codepoint counts for Latin/Cyrillic/Han/Arabic/
    * Greek plus the dominant script (first-in-order tie-break, 'none'
    * when all absent). Fixture injects deterministic script runs
    * (repeat(chr(cp), doc_id mod k)) onto the ASCII corpus; both
    * engines then run the SAME census regexes — java.util.regex's
    * `\\p{IsScript}` and RE2's `\\p{Script}` count identical codepoint
    * sets (verified on mixed strings), which is exactly what the gate
    * pins. One projection, no shuffle, all codegen'd regex — no UDF. */
  private val (q326, q339) = {
    val scripts = Seq("latin", "cyrillic", "han", "arabic", "greek",
      "devanagari", "hangul", "thai")
    val countCols = scripts.map { sc =>
      s"""          CAST(length(regexp_replace(t, '[^\\p{${sc.capitalize}}]', '', 'g')) AS BIGINT)
            AS n_$sc"""
    }.mkString(",\n")
    val caseArms = scripts.map { sc =>
      val others = scripts.filterNot(_ == sc)
        .map(o => s"n_$sc >= n_$o").mkString(" AND ")
      s"          WHEN n_$sc > 0 AND $others THEN '${sc.capitalize}'"
    }.mkString("\n")
    def censusSql(textSql: String) = s"""

      WITH d AS (
        SELECT doc_id, $textSql || ' ' ||
          repeat(chr(1073), CAST(doc_id % 7 AS INT)) ||
          repeat(chr(28450), CAST(doc_id % 5 AS INT)) ||
          repeat(chr(1605), CAST(doc_id % 3 AS INT)) ||
          repeat(chr(955), CAST(doc_id % 4 AS INT)) ||
          repeat(chr(2325), CAST(doc_id % 6 AS INT)) ||
          repeat(chr(44032), CAST(doc_id % 8 AS INT)) ||
          repeat(chr(3585), CAST(doc_id % 9 AS INT)) ||
          CASE WHEN doc_id % 11 = 0 THEN ' p' || chr(1072) || 'y'
               ELSE '' END AS t
        FROM documents),
      c AS (
        SELECT doc_id,
$countCols,
          CAST(length(t) AS BIGINT) AS n_all,
          CAST(regexp_matches(t,
            '[\\p{Latin}][\\p{Cyrillic}\\p{Greek}]|[\\p{Cyrillic}\\p{Greek}][\\p{Latin}]')
            AS BIGINT) AS confusable
        FROM d)
      SELECT doc_id, ${scripts.map(sc => s"n_$sc").mkString(", ")},
        n_all - (${scripts.map(sc => s"n_$sc").mkString(" + ")})
          AS n_other,
        CASE
$caseArms
          ELSE 'none' END AS dominant_script,
        confusable
      FROM c"""
    val gate326 = Q(
      "q326_script_census",
      (s, dir) => {
        // Unicode chars as Scala literals: Spark's chr() is Latin-1-only
        // (chr(n % 256)), unlike DuckDB's codepoint chr — the one place
        // the two engines' "same" function genuinely diverges here
        def run(ch: String, mod: Int) = call_function("repeat",
          lit(ch), (col("doc_id") % mod).cast("int"))
        val docs = Lake(s, dir).documents.select(col("doc_id"),
          concat(col("text"), lit(" "),
            run("б", 7), run("漢", 5),   // Cyrillic be, Han
            run("م", 3), run("λ", 4),   // Arabic meem, Greek lambda
            run("क", 6), run("가", 8),   // Devanagari ka, Hangul ga
            run("ก", 9),                     // Thai ko kai
            // homoglyph-confusable token: Latin p + CYRILLIC a + Latin y
            when(col("doc_id") % 11 === 0, lit(" pаy"))
              .otherwise(lit(""))).as("text"))
        TextAnalysis.scriptCensus(docs, "doc_id", "text").orderBy("doc_id")
      },
      Some(censusSql("text") + " ORDER BY doc_id")
    )
    // q339: the ROUTING consumer of the census — the composition the
    // multilingual curation pipeline actually runs: shard the corpus by
    // (dominant_script, confusable) and count docs + residual-codepoint
    // mass per route. Oracle = the SAME generated census SQL wrapped in
    // an outer GROUP BY, so the two gates cannot drift apart.
    val gate339 = Q(
      "q339_script_routing",
      (s, dir) => {
        def run(ch: String, mod: Int) = call_function("repeat",
          lit(ch), (col("doc_id") % mod).cast("int"))
        val docs = Lake(s, dir).documents.select(col("doc_id"),
          concat(expr("substring(text, 1, CAST(doc_id % 20 AS INT))"),
            lit(" "),
            run("\u0431", 7), run("\u6F22", 5),
            run("\u0645", 3), run("\u03BB", 4),
            run("\u0915", 6), run("\uAC00", 8),
            run("\u0E01", 9),
            when(col("doc_id") % 11 === 0, lit(" p\u0430y"))
              .otherwise(lit(""))).as("text"))
        TextAnalysis.scriptCensus(docs, "doc_id", "text")
          .groupBy("dominant_script", "confusable")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_other")).as("sum_other"))
          .orderBy("dominant_script", "confusable")
      },
      Some(s"""
      WITH census AS (${censusSql(
        "substring(text, 1, CAST(doc_id % 20 AS INT))")})
      SELECT dominant_script, confusable,
        COUNT(*) AS n_docs,
        CAST(SUM(n_other) AS BIGINT) AS sum_other
      FROM census
      GROUP BY dominant_script, confusable
      ORDER BY dominant_script, confusable""")
    )
    (gate326, gate339)
  }

  val all: Seq[Q] = Seq(q29, q30, q31, q32, q33, q34, q35, q36, q37, q38,
    q39, q40, q41, q42, q44, q45, q50, q51, q54, q55, q56, q57, q58, q59,
    q60, q61, q62, q65, q66, q67, q68, q69, q70, q71, q72, q73, q74, q75,
    q76, q77, q79, q80, q81, q82, q83, q84, q85, q86, q87, q88, q89, q90,
    q91, q92, q93, q94, q95, q96, q97, q98, q103, q104, q105, q106, q108,
    q109, q110, q111, q112, q113, q114, q120, q125, q126, q127, q128, q132,
    q133, q134, q138, q139, q141, q142, q143, q145, q146, q147, q149, q150,
    q151, q152, q157, q158, q159, q160, q161, q167, q168, q169, q170, q171,
    q174, q175, q182, q184, q185, q187, q188, q189, q190, q200, q204,
    q207, q208, q209, q210, q211, q251, q256, q257, q261, q262, q263, q264,
    q265, q268, q273, q274, q275, q281, q283, q286, q293, q294, q295, q297, q299, q300, q302, q306, q308,
    q309, q312, q313, q326, q333, q339)
}
