package graft
package gates

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import Support._

/** Text-pipeline selection gates: retrieval, ANN indexes, multimodal
  * features, domain caps, sampling, mixing and packing. */
object PipeSelectGates {
  /** One PQ subspace's oracle CTEs (subspace `s`, dims 16s+1..16s+16):
    * grid slice -> k=4 exact-rational Lloyd round (init by lowest ids,
    * one update, final assignment) -> query-to-centroid ADC distances.
    * Mirrors `Similarity.kmeansLloydExactStates` on the slice. */
  private def pqSubspaceCtes(s: Int): String = {
    val lo = s * 16 + 1
    s"""e$s AS (
       |  SELECT vec_id AS id,
       |    list_transform(range($lo, ${lo + 16}),
       |      d -> CAST(round(CAST(embedding[d] AS DOUBLE) * 1000)
       |        AS BIGINT)) AS v
       |  FROM embeddings WHERE vec_id <> 0),
       |i$s AS (
       |  SELECT row_number() OVER (ORDER BY id) - 1 AS c, v AS sv,
       |    CAST(1 AS BIGINT) AS n
       |  FROM (SELECT id, v FROM e$s ORDER BY id LIMIT 4)),
       |x$s AS (
       |  SELECT id, v, c FROM (
       |    SELECT e.id, e.v, i.c,
       |      row_number() OVER (PARTITION BY e.id ORDER BY
       |        CAST(list_reduce(list_transform(range(1, 17),
       |          d -> (e.v[d]*i.n - i.sv[d])*(e.v[d]*i.n - i.sv[d])),
       |          (a, b) -> a + b) AS DOUBLE) / (i.n*i.n), i.c) AS rk
       |    FROM e$s e, i$s i) WHERE rk = 1),
       |u$s AS (
       |  SELECT c, list(sd ORDER BY d) AS sv, max(n) AS n FROM (
       |    SELECT x.c, t.d, CAST(sum(x.v[t.d]) AS BIGINT) AS sd,
       |      CAST(count(*) AS BIGINT) AS n
       |    FROM x$s x, unnest(range(1, 17)) AS t(d)
       |    GROUP BY x.c, t.d) GROUP BY c),
       |c$s AS (
       |  SELECT i.c, COALESCE(u.sv, i.sv) AS sv, COALESCE(u.n, i.n) AS n
       |  FROM i$s i LEFT JOIN u$s u ON i.c = u.c),
       |g$s AS (
       |  SELECT id, c FROM (
       |    SELECT e.id, i.c,
       |      row_number() OVER (PARTITION BY e.id ORDER BY
       |        CAST(list_reduce(list_transform(range(1, 17),
       |          d -> (e.v[d]*i.n - i.sv[d])*(e.v[d]*i.n - i.sv[d])),
       |          (a, b) -> a + b) AS DOUBLE) / (i.n*i.n), i.c) AS rk
       |    FROM e$s e, c$s i) WHERE rk = 1),
       |q$s AS (
       |  SELECT list_transform(range($lo, ${lo + 16}),
       |    d -> CAST(round(CAST(embedding[d] AS DOUBLE) * 1000)
       |      AS BIGINT)) AS qv
       |  FROM embeddings WHERE vec_id = 0),
       |d$s AS (
       |  SELECT i.c,
       |    CAST(list_reduce(list_transform(range(1, 17),
       |      d -> (q.qv[d]*i.n - i.sv[d])*(q.qv[d]*i.n - i.sv[d])),
       |      (a, b) -> a + b) AS DOUBLE) / (i.n*i.n) AS dist
       |  FROM c$s i, q$s q)""".stripMargin
  }

  private val PqAnnOracleSql: String = {
    val subs = (0 until 4).map(pqSubspaceCtes).mkString(",\n")
    s"""WITH $subs,
       |cand AS (
       |  SELECT g0.id,
       |    d0.dist + d1.dist + d2.dist + d3.dist AS adcd
       |  FROM g0, g1, g2, g3, d0, d1, d2, d3
       |  WHERE g1.id = g0.id AND g2.id = g0.id AND g3.id = g0.id
       |    AND d0.c = g0.c AND d1.c = g1.c AND d2.c = g2.c
       |    AND d3.c = g3.c),
       |top AS (SELECT id FROM cand ORDER BY adcd ASC, id ASC LIMIT 40),
       |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
       |rr AS (
       |  SELECT e.vec_id,
       |    list_sum(list_transform(range(1, 65), i ->
       |      CAST(e.embedding[i] AS DOUBLE) * CAST(q[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(range(1, 65), i ->
       |        CAST(e.embedding[i] AS DOUBLE)
       |          * CAST(e.embedding[i] AS DOUBLE))))
       |      * sqrt(list_sum(list_transform(range(1, 65), i ->
       |        CAST(q[i] AS DOUBLE) * CAST(q[i] AS DOUBLE))))) AS cos
       |  FROM embeddings e JOIN top ON e.vec_id = top.id, qv)
       |SELECT vec_id, round(cos, 6) AS cos FROM rr
       |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin
  }

  /** Shared oracle for the exact ANN gates (`pipe_ann_topk` and the
    * full-probe IVF path, which must reproduce it exactly). */
  private def AnnTopkOracleSql: String =
    s"""WITH q AS (
      |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |${cosineCte("embeddings, q WHERE vec_id != 0")}
      |SELECT vec_id, round(dp / (na * nb), 6) AS cos
      |FROM c ORDER BY dp / (na * nb) DESC, vec_id LIMIT 10""".stripMargin

  /** The URL gates' synthetic URL per doc: three shapes by doc_id % 3
    * (mixed-case host, default port and tracking params / bare host /
    * escaped path and fbclid). */
  private def syntheticUrl: Column =
    when(col("doc_id") % 3 === 0,
        concat(lit("HTTP://"), upper(col("source")),
          lit(".Example.Com:80/A/"), col("doc_id").cast("string"),
          lit("?utm_campaign=x&z=26&a=1#top")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("https://sub."), col("source"), lit(".org")))
      .otherwise(
        concat(lit("https://"), col("source"), lit(".net/P%20Q/"),
          col("doc_id").cast("string"), lit("?b=2&a=1&fbclid=abc")))

  /** URL oracle CTE `u`: `syntheticUrl` in SQL. */
  private def urlCte: String =
    """u AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'HTTP://' || upper(source) ||
      |           '.Example.Com:80/A/' || doc_id ||
      |           '?utm_campaign=x&z=26&a=1#top'
      |         WHEN doc_id % 3 = 1 THEN 'https://sub.' || source || '.org'
      |         ELSE 'https://' || source || '.net/P%20Q/' || doc_id ||
      |           '?b=2&a=1&fbclid=abc' END AS url
      |  FROM documents)""".stripMargin

  /** URL oracle CTE `h`: each `u` URL's lowercased host, without user
    * info and port. */
  private def urlHostCte: String =
    """h AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(lower(coalesce(regexp_extract(url,
      |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1), '')),
      |      '^[^@]*@', ''), ':[0-9]+$', '') AS host
      |  FROM u)""".stripMargin

  /** ANN oracle CTE `c`: the dot product `dp` of each vector with the
    * query `qv` and both norms (`na`, `nb`), over `from`. */
  private def cosineCte(from: String): String =
    s"""c AS (
      |  SELECT vec_id,
      |    list_sum(list_transform(range(1, 65),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
      |      AS dp,
      |    sqrt(list_sum(list_transform(range(1, 65),
      |      i -> CAST(embedding[i] AS DOUBLE)
      |         * CAST(embedding[i] AS DOUBLE)))) AS na,
      |    sqrt(list_sum(list_transform(range(1, 65),
      |      i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))) AS nb
      |  FROM $from)""".stripMargin

  /** BM25 oracle CTEs for the query "join hash vector spark": per-doc
    * length and term counts (`perdoc`), corpus stats (`stats`), and each
    * doc's `score` (per-term 4dp contributions summed as DECIMAL) and
    * `n_matched` terms (`scored`). */
  private def bm25ScoredCtes: String = {
    val terms = Seq("join", "hash", "vector", "spark").zipWithIndex
    val tf = terms.map { case (w, j) =>
      s"    sum(CASE WHEN t = '$w' THEN 1 ELSE 0 END) AS tf$j" }
    val df = terms.map { case (_, j) =>
      s"    CAST(sum(CASE WHEN tf$j > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$j"
    }
    val score = terms.map { case (_, j) =>
      s"""CAST(round(ln(1 + (n - df$j + 0.5) / (df$j + 0.5)) * tf$j * 2.2
         |      / (tf$j + 1.2 * (0.25 + 0.75 * dl
         |        / (CAST(sumdl AS DOUBLE) / n))), 4) AS DECIMAL(18,4))""".stripMargin
    }
    val matched = terms.map { case (_, j) =>
      s"CASE WHEN tf$j > 0 THEN 1 ELSE 0 END" }
    s"""tok AS (
      |  SELECT doc_id AS doc,
      |    unnest(string_split_regex(lower(text), ' +')) AS t
      |  FROM documents),
      |perdoc AS (
      |  SELECT doc, count(*) AS dl,
      |${tf.mkString(",\n")}
      |  FROM tok WHERE t <> '' GROUP BY doc),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(dl) AS BIGINT) AS sumdl,
      |${df.mkString(",\n")}
      |  FROM perdoc),
      |scored AS (
      |  SELECT doc,
      |    ${score.mkString("\n    + ")}
      |      AS score,
      |    CAST(${matched.mkString("\n      + ")} AS BIGINT)
      |      AS n_matched
      |  FROM perdoc, stats)""".stripMargin
  }

  def all: Seq[Gate] = Seq(
    // --- URL canonicalization (crawl dedup hygiene): three synthetic
    // URL shapes per doc (mixed-case host + default port + tracking
    // params / bare host / spaces + fbclid) through normalize, host
    // and apex-domain extraction — every regex step replayed in SQL ---------
    Gate("pipe_url_normalize", (s, dir) => {
      val url = syntheticUrl
      t(s, dir, "documents").select(col("doc_id"),
        pipeline.Text.urlNormalize(url).as("norm_url"),
        pipeline.Text.urlHost(url).as("host"),
        pipeline.Text.urlDomain(url).as("domain"))
    },
      // full SQL replay of the URL canonicalization contract: fragment
      // strip, scheme+host lowercase, default-port strip, tracking-param
      // drop, param sort, empty path -> '/'
      raw"""WITH $urlCte,
        |p1 AS (
        |  SELECT doc_id, url, regexp_replace(url, '#.*$$', '') AS base
        |  FROM u),
        |p2 AS (
        |  SELECT doc_id, url,
        |    regexp_replace(lower(coalesce(regexp_extract(base,
        |      '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1), '')),
        |      ':(80|443)$$', '') AS scheme_host,
        |    coalesce(regexp_extract(base,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$$', 1), '') AS rest
        |  FROM p1),
        |p3 AS (
        |  SELECT doc_id, url, scheme_host,
        |    CASE WHEN coalesce(regexp_extract(rest, '^([^?]*)', 1), '') = ''
        |         THEN '/' ELSE regexp_extract(rest, '^([^?]*)', 1) END
        |      AS path,
        |    list_sort(list_filter(
        |      string_split(coalesce(regexp_extract(rest, '\?(.*)$$', 1), ''),
        |        '&'),
        |      p -> p <> '' AND NOT regexp_matches(p,
        |        '^(utm_[a-z]+|fbclid|gclid)='))) AS params
        |  FROM p2),
        |$urlHostCte
        |SELECT p3.doc_id,
        |  scheme_host || path ||
        |    CASE WHEN len(params) > 0
        |         THEN '?' || array_to_string(params, '&') ELSE '' END
        |    AS norm_url,
        |  h.host AS host,
        |  coalesce(regexp_extract(h.host, '([^.]+\.[^.]+)$$', 1), '')
        |    AS domain
        |FROM p3 JOIN h USING (doc_id)""".stripMargin),

    // --- per-domain document cap (crawl-balance sampling): keep the 10
    // smallest doc_ids per apex domain; the id sum pins WHICH rows
    // survived, not just how many ------------------------------------------
    Gate("pipe_domain_cap", (s, dir) => {
      val url = syntheticUrl
      val withDom = t(s, dir, "documents")
        .withColumn("domain", pipeline.Text.urlDomain(url))
      pipeline.Text.domainCap(withDom, "doc_id", col("domain"), cap = 10)
        .groupBy("domain")
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
    },
      // same synthesized URLs -> apex domain -> keep the 10 smallest ids
      // per domain; id_sum pins the surviving row set
      raw"""WITH $urlCte,
        |$urlHostCte,
        |d AS (
        |  SELECT doc_id,
        |    coalesce(regexp_extract(host, '([^.]+\.[^.]+)$$', 1), '')
        |      AS domain
        |  FROM h),
        |r AS (
        |  SELECT doc_id, domain,
        |    row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
        |  FROM d)
        |SELECT domain, count(*) AS n_kept,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM r WHERE rn <= 10 GROUP BY 1""".stripMargin),

    // --- PageRank domain-authority prior (crawl curation): 3 power
    // sweeps with dangling redistribution over a synthesized 53-node
    // link graph. All arithmetic INCLUDING the output column is EXACT
    // 64-bit integer math in 1e-9 rank units (truncating division) —
    // the r11 per-sweep round(double,9) broke at sf0.1 on a 1-ULP
    // engine difference, and the r12 terminal units→DECIMAL
    // reconstruction broke on the driver's duckdb/pandas stack, so the
    // gate emits rank_units BIGINT verbatim --------------------------------
    Gate("pipe_pagerank", (s, dir) => {
      val e = t(s, dir, "documents").select(
        (col("doc_id") % 53).as("src"),
        ((col("doc_id") * 7 + 3) % 53).as("dst"))
      pipeline.Graph.pageRank(e, "src", "dst", iters = 3)
    },
      // three unrolled PageRank sweeps in pure SQL, mirroring the
      // engine's exact integer-unit contract: ranks are BIGINT counts of
      // 1e-9 units, every division is truncating integer division (//),
      // every sum is exact, and the OUTPUT is the raw unit count — no
      // double touches the hashed value anywhere (the r12 terminal
      // round(units/1e9,9)→DECIMAL reconstruction proved stack-dependent
      // on the driver's duckdb/pandas despite being half-ulp-safe on
      // paper), so the replay is bit-identical on any engine and stack.
      """WITH e AS (
        |  SELECT DISTINCT doc_id % 53 AS src, (doc_id * 7 + 3) % 53 AS dst
        |  FROM documents),
        |nodes AS (
        |  SELECT DISTINCT node
        |  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
        |n AS (SELECT count(*) AS nn FROM nodes),
        |od AS (SELECT src AS node, count(*) AS outdeg FROM e GROUP BY 1),
        |r0 AS (
        |  SELECT node, 1000000000 // (SELECT nn FROM n) AS ru FROM nodes),
        |c1 AS (
        |  SELECT e.dst AS node, r.ru // od.outdeg AS c
        |  FROM e JOIN r0 r ON e.src = r.node JOIN od ON od.node = e.src),
        |s1 AS (SELECT node, sum(c) AS in_sum FROM c1 GROUP BY 1),
        |d1 AS (
        |  SELECT coalesce(sum(r.ru), 0) AS dang
        |  FROM r0 r LEFT JOIN od USING (node) WHERE od.outdeg IS NULL),
        |r1 AS (
        |  SELECT nodes.node,
        |    (15 * CAST(1000000000 AS BIGINT)) // (100 * (SELECT nn FROM n))
        |    + (85 * coalesce(s.in_sum, 0)) // 100
        |    + (85 * (SELECT dang FROM d1)) // (100 * (SELECT nn FROM n))
        |    AS ru
        |  FROM nodes LEFT JOIN s1 s USING (node)),
        |c2 AS (
        |  SELECT e.dst AS node, r.ru // od.outdeg AS c
        |  FROM e JOIN r1 r ON e.src = r.node JOIN od ON od.node = e.src),
        |s2 AS (SELECT node, sum(c) AS in_sum FROM c2 GROUP BY 1),
        |d2 AS (
        |  SELECT coalesce(sum(r.ru), 0) AS dang
        |  FROM r1 r LEFT JOIN od USING (node) WHERE od.outdeg IS NULL),
        |r2 AS (
        |  SELECT nodes.node,
        |    (15 * CAST(1000000000 AS BIGINT)) // (100 * (SELECT nn FROM n))
        |    + (85 * coalesce(s.in_sum, 0)) // 100
        |    + (85 * (SELECT dang FROM d2)) // (100 * (SELECT nn FROM n))
        |    AS ru
        |  FROM nodes LEFT JOIN s2 s USING (node)),
        |c3 AS (
        |  SELECT e.dst AS node, r.ru // od.outdeg AS c
        |  FROM e JOIN r2 r ON e.src = r.node JOIN od ON od.node = e.src),
        |s3 AS (SELECT node, sum(c) AS in_sum FROM c3 GROUP BY 1),
        |d3 AS (
        |  SELECT coalesce(sum(r.ru), 0) AS dang
        |  FROM r2 r LEFT JOIN od USING (node) WHERE od.outdeg IS NULL),
        |r3 AS (
        |  SELECT nodes.node,
        |    (15 * CAST(1000000000 AS BIGINT)) // (100 * (SELECT nn FROM n))
        |    + (85 * coalesce(s.in_sum, 0)) // 100
        |    + (85 * (SELECT dang FROM d3)) // (100 * (SELECT nn FROM n))
        |    AS ru
        |  FROM nodes LEFT JOIN s3 s USING (node))
        |SELECT node, CAST(ru AS BIGINT) AS rank_units
        |FROM r3""".stripMargin),

    // --- BM25 retrieval: top-20 documents for a 4-term query; per-term
    // contributions round to 4dp and sum as exact DECIMAL(18,4), ties
    // break by id — fully engine-replayable ranking -------------------------
    Gate("pipe_bm25", (s, dir) =>
      pipeline.Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id",
        "text", Seq("join", "hash", "vector", "spark"), k = 20),
      // BM25: per-doc length + per-term tf in one grouped pass, corpus
      // stats (N, avgdl, df) in a scalar CTE, Lucene-floored idf; 4dp
      // per-term contributions summed as exact decimals.
      s"""WITH $bm25ScoredCtes
        |SELECT doc AS doc_id, CAST(score AS DOUBLE) AS score, n_matched
        |FROM scored WHERE n_matched > 0
        |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin),

    // --- hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    // top-100 and the dense cosine top-100 (vec_id 0 is the query, ids
    // align with doc_ids) — contributions are exact INTEGER 1e-6 units
    // (half-up(1e6/(60+r)) via integer div; r=68 hits the dyadic 1/128
    // exactly ON the 6dp grid, where two round() implementations may
    // split), fused top-20 ---------------------------------------------------
    Gate("pipe_hybrid_rrf", (s, dir) => {
      val docs = t(s, dir, "documents")
      val lex = pipeline.Retrieval.bm25TopK(docs, "doc_id", "text",
        Seq("join", "hash", "vector", "spark"), k = 100)
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<float>").as("embedding"))
        .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
      // rank and CUT on the 6dp-rounded cosine (id tiebreak): the list
      // membership itself must replay cross-engine
      val den = e.filter(col("vec_id") =!= 0L)
        .withColumn("score", round(pipeline.Similarity.cosine(
          col("embedding"), array(q.map(lit): _*)), 6))
        .select(col("vec_id").as("doc_id"), col("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(100)
      pipeline.Retrieval.rrfFuse(Seq(lex, den), "doc_id", "score",
        k = 20)
    },
      s"""WITH $bm25ScoredCtes,
        |lex AS (
        |  SELECT doc AS doc_id, CAST(score AS DOUBLE) AS score
        |  FROM scored WHERE n_matched > 0
        |  ORDER BY score DESC, doc_id ASC LIMIT 100),
        |q AS (
        |  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |${cosineCte("embeddings, q WHERE vec_id != 0")},
        |den AS (
        |  SELECT vec_id AS doc_id, round(dp / (na * nb), 6) AS score
        |  FROM c
        |  ORDER BY round(dp / (na * nb), 6) DESC, vec_id ASC LIMIT 100),
        |lexr AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
        |  FROM lex),
        |denr AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
        |  FROM den),
        |u AS (
        |  SELECT doc_id,
        |    (2000000 + (60 + r)) // (2 * (60 + r)) AS contrib FROM lexr
        |  UNION ALL
        |  SELECT doc_id,
        |    (2000000 + (60 + r)) // (2 * (60 + r)) AS contrib FROM denr)
        |SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS rrf_units,
        |  count(*) AS n_lists
        |FROM u GROUP BY doc_id
        |ORDER BY rrf_units DESC, doc_id ASC LIMIT 20""".stripMargin),

    // --- length-bucketed batching (pad-minimizing batch prep): bucket
    // by token count, rank in-bucket on the distributed scan minus
    // broadcast offsets, 16 ranks per batch ---------------------------------
    Gate("pipe_length_batches", (s, dir) =>
      pipeline.Sampling.lengthBucketBatches(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", pipeline.Text.tokenCount(col("text")),
        bounds = Seq(40L, 60L, 80L), batchSize = 16)
        .select(col("doc_id"), col("bucket"), col("rank_in_bucket"),
          col("batch_id")),
      """WITH d AS (
        |  SELECT doc_id,
        |    len(string_split_regex(trim(text), ' +')) AS n
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    CAST(CAST(n >= 40 AS INTEGER) + CAST(n >= 60 AS INTEGER)
        |      + CAST(n >= 80 AS INTEGER) AS BIGINT) AS bucket
        |  FROM d),
        |r AS (
        |  SELECT doc_id, bucket,
        |    row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1
        |      AS rk
        |  FROM b)
        |SELECT doc_id, bucket, CAST(rk AS BIGINT) AS rank_in_bucket,
        |  CAST(floor(rk / 16) AS BIGINT) AS batch_id
        |FROM r""".stripMargin),

    // --- RAG-style chunking: 64-char windows every 48 chars (16
    // overlap), one codegen'd generator pass ---------------------------------
    Gate("pipe_chunk_docs", (s, dir) =>
      pipeline.Text.chunkDocs(t(s, dir, "documents"), "doc_id", "text",
        size = 64, step = 48),
      """WITH s AS (
        |  SELECT doc_id, text,
        |    unnest(range(1, length(text) + 1, 48)) AS st
        |  FROM documents WHERE length(text) > 0)
        |SELECT doc_id, CAST((st - 1) / 48 AS BIGINT) AS chunk_idx,
        |  CAST(st AS BIGINT) AS start, substr(text, CAST(st AS INTEGER), 64) AS chunk
        |FROM s""".stripMargin),

    // --- weighted sampling without replacement (Efraimidis-Spirakis
    // exponential clocks, deterministic md5 u): 50 docs ∝ length ------------
    Gate("pipe_weighted_sample", (s, dir) =>
      pipeline.Sampling.weightedSample(t(s, dir, "documents"), "doc_id",
        col("n_chars"), k = 50),
      // weights normalized by the corpus max before the A-ES divide
      // (scale-aware 6dp rounding), replaying the engine's exact
      // expression shape ln(u) / (weight / w_max)
      """WITH pos AS (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight
        |  FROM documents WHERE n_chars > 0),
        |m AS (SELECT max(weight) AS w_max FROM pos)
        |SELECT doc_id, weight,
        |  CAST(CAST(round(ln((CAST(('0x' || substr(md5('wsample|'
        |      || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 1000000 + 0.5) / 1000000.0)
        |    / (weight / (SELECT w_max FROM m)), 6)
        |    AS DECIMAL(18,6)) AS DOUBLE) AS samp_key
        |FROM pos
        |ORDER BY samp_key DESC, doc_id ASC LIMIT 50""".stripMargin),

    // --- DSIR (importance resampling data selection): hashed
    // unigram+bigram log-ratios vs the English slice as target, top-50
    // of the deterministic Gumbel-max draw — broadcast-joined bucket
    // weights, exact decimal sums, fully engine-replayable ------------------
    Gate("pipe_dsir_select", (s, dir) =>
      pipeline.Sampling.dsirSelect(t(s, dir, "documents"), "doc_id",
        "text", isTarget = col("lang") === "en", k = 50),
      """WITH tok AS (
        |  SELECT doc_id, lang, string_split_regex(lower(text), ' +') AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, lang, unnest(list_concat(w,
        |    list_transform(range(1, len(w)),
        |      j -> concat(w[j], ' ', w[j+1])))) AS g
        |  FROM tok),
        |fb AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5('dsir-feat|' || g), 1, 15))
        |      AS BIGINT) % 1024 AS b
        |  FROM grams),
        |counts AS (
        |  SELECT b,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct,
        |    count(*) AS cr
        |  FROM fb GROUP BY b),
        |tot AS (SELECT sum(ct) AS t, sum(cr) AS r FROM counts),
        |lw AS (
        |  SELECT b, CAST(round(ln((ct + 1.0) / (t + 1024))
        |    - ln((cr + 1.0) / (r + 1024)), 6) AS DECIMAL(18,6)) AS lw
        |  FROM counts, tot),
        |dw AS (
        |  SELECT doc_id, sum(lw) AS wt
        |  FROM fb JOIN lw USING (b) GROUP BY doc_id)
        |SELECT doc_id, CAST(wt AS DOUBLE) AS weight,
        |  CAST(wt + CAST(round(-ln(-ln(
        |    (CAST(('0x' || substr(md5('dsir|' || CAST(doc_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 1000000 + 0.5) / 1000000.0)), 6)
        |    AS DECIMAL(18,6)) AS DOUBLE) AS sel_key
        |FROM dw
        |ORDER BY sel_key DESC, doc_id ASC LIMIT 50""".stripMargin),

    // --- REAL video frame extraction: synthetic Y4M streams (3..6
    // constant-luma 16×16 frames per doc, luma = (doc_id*31+k*17)%256)
    // parsed by the real YUV4MPEG2 kernel, every 2nd frame kept with
    // its exact Y-plane mean — DuckDB replays the luma formula in
    // closed form, never touching the bytes -------------------------------
    Gate("pipe_video_frames", (s, dir) => {
      val y4m = udf { id: Long =>
        val n = (3 + id % 4).toInt
        pipeline.Multimodal.syntheticY4m(16, 16,
          (0 until n).map(k => ((id * 31 + k * 17) % 256).toInt))
      }
      val src = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") % 7 === 0)
        .withColumn("payload", y4m(col("doc_id")))
      pipeline.Multimodal.videoFrameFeatures(src, "payload", stride = 2)
        .select("doc_id", "frame_idx", "width", "height", "mean_luma")
    },
      // DuckDB has no BLOB substring: slice the hex encoding instead
      // (2 hex chars per byte — slice-then-hex == hex-then-slice exactly)
      """SELECT d.doc_id, f.frame_idx, 16 AS width, 16 AS height,
        |  CAST((d.doc_id * 31 + f.frame_idx * 17) % 256 AS DOUBLE)
        |    AS mean_luma
        |FROM documents d
        |CROSS JOIN (VALUES (0), (2), (4)) AS f(frame_idx)
        |WHERE d.doc_id % 7 = 0
        |  AND f.frame_idx < 3 + d.doc_id % 4""".stripMargin),

    // --- REAL audio decode: synthetic mono 16-bit PCM WAV square
    // waves (amp = 500 + (doc_id%50)*7, run length 4, n = 160*(1+
    // doc_id%5) samples at 8 kHz) decoded by javax.sound.sampled —
    // mean|amp| = RMS = amp and zero crossings = n/4 - 1 exactly, so
    // DuckDB replays the features in closed form ---------------------------
    Gate("pipe_audio_features", (s, dir) => {
      val wav = udf { id: Long =>
        pipeline.Multimodal.syntheticWav((500 + (id % 50) * 7).toInt, 8,
          (160 * (1 + id % 5)).toInt)
      }
      val src = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") % 7 === 0)
        .withColumn("payload", wav(col("doc_id")))
      pipeline.Multimodal.audioFeatures(src, "payload")
        .select(col("doc_id"),
          col("audio.sample_rate").as("sample_rate"),
          col("audio.channels").as("channels"),
          col("audio.n_frames").as("n_frames"),
          col("audio.duration_sec").as("duration_sec"),
          col("audio.mean_abs").as("mean_abs"),
          col("audio.rms").as("rms"),
          col("audio.zero_crossings").as("zero_crossings"))
    },
      """SELECT doc_id,
        |  8000 AS sample_rate, 1 AS channels,
        |  160 * (1 + doc_id % 5) AS n_frames,
        |  (160 * (1 + doc_id % 5)) / 8000.0 AS duration_sec,
        |  CAST(500 + (doc_id % 50) * 7 AS DOUBLE) AS mean_abs,
        |  CAST(500 + (doc_id % 50) * 7 AS DOUBLE) AS rms,
        |  (160 * (1 + doc_id % 5)) // 4 - 1 AS zero_crossings
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin),

    // --- deterministic per-language Bernoulli mixing: membership is a
    // pure md5 predicate, so the exact sample re-derives in any engine —
    // one codegen'd filter, no shuffle, no RNG state ------------------------
    Gate("pipe_stratified_sample", (s, dir) =>
      pipeline.Sampling.stratifiedSample(t(s, dir, "documents"),
        "doc_id", "lang", Map("en" -> 800, "de" -> 500, "fr" -> 250,
          "es" -> 125, "zh" -> 50))
        .select("doc_id", "lang"),
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 1000 <
        |  CASE lang WHEN 'en' THEN 800 WHEN 'de' THEN 500
        |    WHEN 'fr' THEN 250 WHEN 'es' THEN 125 WHEN 'zh' THEN 50
        |    ELSE 0 END""".stripMargin),

    // --- temperature-flattened mixture sampling (mC4/PaLM rule,
    // share ∝ n_lang^0.5): per-stratum ppt rates derived in-plan from
    // the observed sizes and a budget of corpus/10 rows (also derived
    // in-plan — ONE job, no driver-side count). For α=0.5 the whole
    // contract is exact integer arithmetic: sqrt grid points via
    // Newton-corrected isqrt, ppt via integer half-up division — no
    // double anywhere a stack could evaluate differently ---------------------
    Gate("pipe_temperature_mix", (s, dir) =>
      pipeline.Sampling.temperatureSampleBudgetDiv(
          t(s, dir, "documents"), "doc_id", "lang",
          budgetDiv = 10, alpha = 0.5)
        .select("doc_id", "lang"),
      // exact-integer replay of the α=0.5 contract: sqrt grid points in
      // 1e-6 pow units via Newton-corrected isqrt (the double sqrt only
      // SEEDS the estimate; integer compares fix its ±1), k = corpus//10,
      // ppt = (2000·k·pu + z·n) // (2·z·n) — half-up in pure HUGEINT
      // arithmetic, then the integer md5 membership filter. No double
      // influences any compared value on either engine. The streaming
      // gate shares this oracle verbatim: the stream applies the same
      // stateless predicate, so its output IS the batch answer.
      TemperatureMixOracleSql),

    // --- deterministic train/val/test split: md5 bucket walk, one
    // narrow projection; membership re-derives in any engine ---------------
    Gate("pipe_split_assign", (s, dir) =>
      pipeline.Sampling.assignSplit(
        t(s, dir, "documents").select("doc_id", "lang"), "doc_id",
        Seq("train" -> 980, "val" -> 10, "test" -> 10))
        .select("doc_id", "lang", "split"),
      """SELECT doc_id, lang,
        |  CASE WHEN h < 980 THEN 'train' WHEN h < 990 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 1000 AS h
        |  FROM documents)""".stripMargin),

    // --- deterministic global training shuffle: rank by md5 hash via
    // the two-phase distributed scan (no single-task row_number) -----------
    Gate("pipe_shuffle_rank", (s, dir) =>
      pipeline.Sampling.shuffleRank(
        t(s, dir, "documents").select("doc_id"), "doc_id")
        .select(col("doc_id"),
          col("shuffle_rank").cast("long").as("shuffle_rank")),
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY
        |    CAST(('0x' || substr(md5('shuffle|' ||
        |      CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT), doc_id)
        |    AS shuffle_rank
        |FROM documents""".stripMargin),

    // --- sequence packing: concatenate docs in id order, cut 512-token
    // windows; the global token prefix-sum is the two-phase distributed
    // scan (no single-task global window) -----------------------------------
    Gate("pipe_pack_sequences", (s, dir) => {
      // tokenize ONCE: the count column feeds the scan and the output
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), pipeline.Text.tokenCount(col("text"))
          .cast("long").as("n_tokens"))
      pipeline.Sampling.packSequences(docs, "doc_id", col("n_tokens"),
        windowTokens = 512)
        .select("doc_id", "n_tokens", "window_start", "window_end",
          "window_offset")
    },
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n,
        |    CAST(sum(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS e
        |  FROM t)
        |SELECT doc_id, n AS n_tokens,
        |  (e - n) // 512 AS window_start,
        |  greatest((e - 1) // 512, (e - n) // 512) AS window_end,
        |  (e - n) % 512 AS window_offset
        |FROM s""".stripMargin),

    // --- deterministic repetition weights ("epochs" per domain):
    // floor(weight) copies + hash-selected fractional copy ------------------
    Gate("pipe_repeat_weight", (s, dir) =>
      pipeline.Sampling.repeatByWeight(t(s, dir, "documents"),
        "doc_id", "lang", Map("en" -> 250, "de" -> 100, "fr" -> 150,
          "es" -> 50, "zh" -> 0))
        .select("doc_id", "lang", "rep"),
      """WITH w AS (
        |  SELECT doc_id, lang,
        |    CASE lang WHEN 'en' THEN 250 WHEN 'de' THEN 100
        |      WHEN 'fr' THEN 150 WHEN 'es' THEN 50 WHEN 'zh' THEN 0
        |      ELSE 100 END AS pct,
        |    CAST(('0x' || substr(md5('epoch|' || CAST(doc_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 100 AS u
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, lang,
        |    (pct // 100) + CASE WHEN u < pct % 100 THEN 1 ELSE 0 END AS n
        |  FROM w)
        |SELECT doc_id, lang,
        |  unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS rep
        |FROM n WHERE n > 0""".stripMargin),

    // --- pipeline: brute-force cosine top-k ANN ----------------------------
    Gate("pipe_ann_topk", (s, dir) => {
      val e = t(s, dir, "embeddings")
      // cast-first collect: dtype-proof if the testdata regenerates the
      // embedding column as double (the events.ts lesson)
      val q = e.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<float>").as("embedding"))
        .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
      pipeline.Similarity.bruteForceTopK(
        e.filter(col("vec_id") =!= 0L), "vec_id", "embedding", q, 10)
        .withColumn("cos", round(col("cos"), 6))
    },
      AnnTopkOracleSql),

    // --- cluster-balanced sampling (topic balancing): exact k-means
    // clusters capped at 100 members each, md5-hash order picking the
    // survivors — rank-limit window plans as WindowGroupLimit ----------------
    Gate("pipe_cluster_balance", (s, dir) =>
      pipeline.Similarity.clusterBalance(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 4, quota = 100),
      // cluster balancing: the pipe_kmeans_exact CTE verbatim, then a
      // per-cluster rank cap in deterministic md5-hash order
      s"""WITH e AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |${kmeansCtes(4, 2)},
        |af AS (
        |  SELECT id, c FROM (
        |    ${nearestCentroid("e.id, i.c", "c2", "    ")})
        |SELECT vec_id, cluster, pick_rank FROM (
        |  SELECT id AS vec_id, c AS cluster,
        |    row_number() OVER (PARTITION BY c ORDER BY
        |      CAST(('0x' || substr(md5('cbal|' || CAST(id AS VARCHAR)),
        |        1, 15)) AS BIGINT) ASC, id ASC) AS pick_rank
        |  FROM af)
        |WHERE pick_rank <= 100""".stripMargin),

    // --- persisted IVF index: exact-rational k-means assignment
    // written parquet PARTITIONED BY cell, centroid states alongside;
    // the query probes 2 of 4 cells and reads ONLY their files
    // (partition pruning — audited on inputFiles) ----------------------------
    Gate("pipe_ann_ivf_index", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<float>").as("embedding"))
        .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
      val out = s"${System.getProperty("java.io.tmpdir")}" +
        s"/graft_ivfidx_${ProcessHandle.current().pid()}"
      pipeline.Similarity.buildIvfIndex(e.filter(col("vec_id") =!= 0L),
        "vec_id", "embedding", out, nCells = 4, iters = 2)
      pipeline.Similarity.queryIvfIndex(s, out, q, k = 10, nProbe = 2)
        .select(col("id").as("vec_id"), round(col("cos"), 6).as("cos"))
    },
      // persisted IVF: the kmeans CTE over vec_id != 0, probe cells
      // ranked by exact rational distance of the grid-quantized query,
      // cosine top-10 restricted to the probed cells' members
      s"""WITH e AS (
        |  SELECT vec_id AS id, embedding,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings WHERE vec_id != 0),
        |${kmeansCtes(4, 2)},
        |af AS (
        |  SELECT id, c FROM (
        |    ${nearestCentroid("e.id, i.c", "c2", "    ")}),
        |qg AS (
        |  SELECT list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings WHERE vec_id = 0),
        |probe AS (
        |  SELECT c FROM (
        |    SELECT i.c, row_number() OVER (ORDER BY
        |      CAST(list_reduce(list_transform(range(1, 65),
        |        d -> (qv[d]*i.n - i.s[d])*(qv[d]*i.n - i.s[d])),
        |        (a, b) -> a + b) AS DOUBLE) / (i.n*i.n), i.c) AS rk
        |    FROM c2 i, qg) WHERE rk <= 2),
        |q AS (
        |  SELECT embedding AS qv2 FROM embeddings WHERE vec_id = 0),
        |cand AS (
        |  SELECT e.id, e.embedding FROM e
        |  JOIN af ON e.id = af.id
        |  JOIN probe ON af.c = probe.c),
        |sc AS (
        |  SELECT id,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(qv2[i] AS DOUBLE)))
        |      AS dp,
        |    sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(embedding[i] AS DOUBLE)
        |         * CAST(embedding[i] AS DOUBLE)))) AS na,
        |    sqrt(list_sum(list_transform(range(1, 65),
        |      i -> CAST(qv2[i] AS DOUBLE) * CAST(qv2[i] AS DOUBLE)))) AS nb
        |  FROM cand, q)
        |SELECT id AS vec_id, round(dp / (na * nb), 6) AS cos
        |FROM sc ORDER BY dp / (na * nb) DESC, vec_id LIMIT 10""".stripMargin),

    // --- int8 scalar-quantized ANN: per-dim min/max quantization, an
    // EXACT-integer dot-product prescan over the codes (4x less data
    // read at scale), float-cosine rerank of the C*k best — both
    // engines replay the integer ranking bit-for-bit ------------------------
    Gate("pipe_ann_sq", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<float>").as("embedding"))
        .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
      pipeline.Similarity.sqTopK(
        e.filter(col("vec_id") =!= 0L), "vec_id", "embedding", q, 10)
        .withColumn("cos", round(col("cos"), 6))
    },
      // int8 SQ ANN: L2-normalize, symmetric -127..127 quantization
      // against per-dim max-abs of the normalized searched set, exact
      // integer dot prescan (top 40 by (qdot, id)), float-cosine rerank
      """WITH nv AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(range(1, 65), i ->
        |      CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
        |      AS nrm
        |  FROM embeddings),
        |mm AS (
        |  SELECT list(s ORDER BY d) AS ss FROM (
        |    SELECT t.d,
        |      max(abs(CAST(embedding[t.d] AS DOUBLE) / nrm)) AS s
        |    FROM nv, unnest(range(1, 65)) AS t(d)
        |    WHERE vec_id <> 0 GROUP BY t.d)),
        |qv AS (SELECT embedding AS q, nrm AS qnrm FROM nv
        |       WHERE vec_id = 0),
        |qq AS (
        |  SELECT list(qc ORDER BY d) AS qcs FROM (
        |    SELECT t.d, CASE WHEN ss[t.d] <= 0 THEN 0
        |      ELSE CAST(round(CAST(q[t.d] AS DOUBLE) / qnrm / ss[t.d]
        |        * 127.0) AS BIGINT) END AS qc
        |    FROM qv, mm, unnest(range(1, 65)) AS t(d))),
        |cand AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(range(1, 65), i ->
        |      (CASE WHEN ss[i] <= 0 THEN 0
        |        ELSE CAST(round(CAST(embedding[i] AS DOUBLE) / nrm
        |          / ss[i] * 127.0) AS BIGINT) END)
        |      * qcs[i])) AS qdot
        |  FROM nv, mm, qq WHERE vec_id <> 0),
        |top AS (
        |  SELECT vec_id, embedding FROM cand
        |  ORDER BY qdot DESC, vec_id ASC LIMIT 40),
        |scored AS (
        |  SELECT vec_id,
        |    list_sum(list_transform(range(1, 65), i ->
        |      CAST(embedding[i] AS DOUBLE) * CAST(q[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(range(1, 65), i ->
        |        CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(range(1, 65), i ->
        |        CAST(q[i] AS DOUBLE) * CAST(q[i] AS DOUBLE))))) AS cos
        |  FROM top, qv)
        |SELECT vec_id, round(cos, 6) AS cos FROM scored
        |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin),

    // --- product-quantized ANN (the FAISS codebook recipe): per-
    // subspace exact-rational k-means codebooks, vectors stored as m
    // codes, ADC lookup-table scan, float-cosine rerank — the oracle
    // replays all four subspace codebooks + the ADC ranking in SQL ----------
    Gate("pipe_ann_pq", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<float>").as("embedding"))
        .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
      pipeline.Similarity.pqTopK(
        e.filter(col("vec_id") =!= 0L), "vec_id", "embedding", q, 10)
        .withColumn("cos", round(col("cos"), 6))
    },
      // PQ ANN: four subspace codebooks + ADC ranking, replayed in full
      PqAnnOracleSql),

    // --- pipeline: IVF ANN with every cell probed — must equal the exact
    // brute-force top-k (the spec checks partial-probe recall) -------------
    Gate("pipe_ann_ivf", (s, dir) => {
      val e = t(s, dir, "embeddings")
      // cast-first collect: dtype-proof if the testdata regenerates the
      // embedding column as double (the events.ts lesson)
      val q = e.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<float>").as("embedding"))
        .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
      pipeline.Similarity.ivfTopK(
        e.filter(col("vec_id") =!= 0L), "vec_id", "embedding", q, 10,
        nCells = 8, nProbe = 8)
        .withColumn("cos", round(col("cos"), 6))
    },
      // full-probe IVF degenerates to exact brute force
      AnnTopkOracleSql),

    // --- pipeline: multimodal metadata over binary payloads ----------------
    Gate("pipe_multimodal_meta", (s, dir) => {
      val bin = t(s, dir, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8"))
      pipeline.Multimodal.withMetadata(bin, "payload", "image", "png")
        .select(col("doc_id"), col("meta")("byte_len").as("byte_len"),
          col("meta")("content_md5").as("content_md5"))
    },
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT)
        |    AS byte_len,
        |  md5(text) AS content_md5
        |FROM documents""".stripMargin),

    // --- pipeline: image resize (real java.awt resample) + re-decode:
    // the decoded dims of the resized payload prove the whole
    // decode->resize->encode->decode loop end-to-end -------------------
    Gate("pipe_image_resize", (s, dir) => {
      val png = udf((p: Int) => pipeline.Multimodal.syntheticPng(p))
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 20)
        .withColumn("payload",
          png((pmod(col("doc_id"), lit(7)) + 1).cast("int")))
      val rs = pipeline.Multimodal.resizeImages(docs, "payload", 16, 16)
      pipeline.Multimodal.decodeBatched(rs, "resized", real = true)
        .select(col("doc_id"), col("decoded")("width").as("width"),
          col("decoded")("height").as("height"))
    },
      """SELECT doc_id, CAST(16 AS INTEGER) AS width,
        |  CAST(16 AS INTEGER) AS height
        |FROM documents WHERE doc_id < 20""".stripMargin),

    // --- pipeline: image grid features (pixel-space embedding) — exact
    // values derivable from the block pattern, and the vector plugs
    // straight into the ANN / embedding-dedup operators ----------------
    Gate("pipe_image_features", (s, dir) => {
      val png = udf((p: Int) => pipeline.Multimodal.syntheticPng(p))
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 20)
        .withColumn("payload",
          png((pmod(col("doc_id"), lit(7)) + 1).cast("int")))
      // Feature vector joined to a flat string (one decimal per cell)
      // so the driver's pandas comparator can sort the column.
      pipeline.Multimodal.imageFeatures(docs, "payload")
        .select(col("doc_id"),
          concat_ws(",", transform(col("features"),
            x => format_string("%.1f", x.cast("double")))).as("features"))
    },
      // block-aligned patterns: grid pixel (y,x) is white iff
      // x < pattern, so feature i (row-major) is 1.0 iff i % 8 < pattern
      """SELECT doc_id,
        |  array_to_string(list_transform(range(0, 64), i ->
        |    printf('%.1f',
        |      CASE WHEN i % 8 < doc_id % 7 + 1 THEN 1.0 ELSE 0.0 END)),
        |    ',') AS features
        |FROM documents WHERE doc_id < 20""".stripMargin),

    // --- pipeline: all-pairs k-NN join (exact baseline; the LSH scale
    // path is recall-spec'd against this in PipelineSpec) ------------------
    Gate("pipe_knn_join", (s, dir) =>
      pipeline.Similarity.knnJoinExact(
        t(s, dir, "embeddings").filter(col("vec_id") < 150),
        "vec_id", "embedding", 3)
        .withColumn("cos", round(col("cos"), 6)),
      """WITH v AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 150),
        |p AS (
        |  SELECT a.vec_id AS id, b.vec_id AS nbr,
        |    list_sum(list_transform(range(1, 65), i ->
        |      CAST(a.embedding[i] AS DOUBLE)
        |        * CAST(b.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(range(1, 65), i ->
        |        CAST(a.embedding[i] AS DOUBLE)
        |          * CAST(a.embedding[i] AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(range(1, 65), i ->
        |        CAST(b.embedding[i] AS DOUBLE)
        |          * CAST(b.embedding[i] AS DOUBLE))))) AS cosx
        |  FROM v a JOIN v b ON a.vec_id != b.vec_id),
        |r AS (
        |  SELECT id, nbr, cosx, row_number() OVER (
        |    PARTITION BY id ORDER BY cosx DESC, nbr) AS rk
        |  FROM p)
        |SELECT id, nbr, round(cosx, 6) AS cos, CAST(rk AS INTEGER) AS rk
        |FROM r WHERE rk <= 3""".stripMargin),

    // --- pipeline: LSH-bucketed ANN (rows-only: recall<1 by design) --------
    Gate("pipe_ann_lsh", (s, dir) => {
      val e = t(s, dir, "embeddings")
      // cast-first collect: dtype-proof if the testdata regenerates the
      // embedding column as double (the events.ts lesson)
      val q = e.filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<float>").as("embedding"))
        .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
      pipeline.Similarity.lshTopK(e.filter(col("vec_id") =!= 0L),
        "vec_id", "embedding", q, 10, nPlanes = 4)
        .withColumn("cos", round(col("cos"), 6))
    }, {
      // LSH ANN: the hyperplanes are seed-deterministic
      // (Similarity.hyperplanes(64, 4, 42)) so they are embedded as literal
      // lists — DuckDB reproduces the exact bucket assignment and top-k.
      val planes = pipeline.Similarity.hyperplanes(64, 4, 42L)
      def lst(p: Seq[Double]) = p.map(_.toString).mkString("[", ", ", "]")
      val planeCols = planes.zipWithIndex
        .map { case (p, i) => s"${lst(p)} AS p$i" }.mkString(",\n  ")
      def dotp(i: Int) =
        s"list_sum(list_transform(range(1, 65), " +
          s"i -> CAST(embedding[i] AS DOUBLE) * p$i[i]))"
      s"""WITH p AS (SELECT $planeCols),
        |b AS (
        |  SELECT vec_id, embedding,
        |    (CASE WHEN ${dotp(0)} >= 0 THEN 1 ELSE 0 END)
        |  + (CASE WHEN ${dotp(1)} >= 0 THEN 2 ELSE 0 END)
        |  + (CASE WHEN ${dotp(2)} >= 0 THEN 4 ELSE 0 END)
        |  + (CASE WHEN ${dotp(3)} >= 0 THEN 8 ELSE 0 END) AS bucket
        |  FROM embeddings, p),
        |qq AS (SELECT embedding AS qv, bucket AS qb FROM b
        |  WHERE vec_id = 0),
        |${cosineCte("b, qq WHERE vec_id != 0 AND bucket = qb")}
        |SELECT vec_id, round(dp / (na * nb), 6) AS cos
        |FROM c ORDER BY dp / (na * nb) DESC, vec_id LIMIT 10""".stripMargin
    })
  )
}
