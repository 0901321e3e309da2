package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Support._

/** Text-pipeline dedup gates: exact, fuzzy and near-duplicate detection and
  * candidate-pair finding. */
object PipeDedupGates {
  /** Span-dedup oracle CTEs: every position of a 30-char gram that
    * occurs again earlier in the corpus (`rem`), grouped into islands
    * `grp` per doc by the gap > 30 rule (`isl`). */
  private def spanIslandCtes: String =
    """pos AS (
      |  SELECT doc_id, text,
      |    unnest(generate_series(1, length(text) - 29)) AS i
      |  FROM documents WHERE length(text) >= 30),
      |g AS (SELECT doc_id, i, substr(text, i, 30) AS gram FROM pos),
      |occ AS (SELECT doc_id, i,
      |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, i) AS rn,
      |    count(*)     OVER (PARTITION BY gram) AS c
      |  FROM g),
      |rem AS (SELECT doc_id, i - 1 AS p FROM occ WHERE c > 1 AND rn > 1),
      |fl AS (SELECT doc_id, p,
      |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 30
      |         THEN 1 ELSE 0 END AS f
      |  FROM rem),
      |isl AS (SELECT doc_id, p,
      |    sum(f) OVER (PARTITION BY doc_id ORDER BY p) AS grp
      |  FROM fl)""".stripMargin

  /** The fuzzy gates' keys: each doc's lowercased 12-char text prefix. */
  private def textPrefixKeys(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), lower(substring(col("text"), 1, 12)).as("k"))

  /** Fuzzy-join oracle CTEs: the deletion-neighbourhood variants `v` of
    * each doc's key, the 2..1000-member variant buckets `ok`, and the
    * distinct candidate pairs `cand` with their keys `sa`, `sb`. */
  private def fuzzyCandidateCtes: String =
    """k AS (
      |  SELECT doc_id, lower(substr(text, 1, 12)) AS s FROM documents
      |  WHERE text IS NOT NULL AND length(text) > 0),
      |v AS (
      |  SELECT DISTINCT doc_id, s,
      |    CASE WHEN i = 0 THEN s
      |         ELSE substr(s, 1, i - 1) || substr(s, i + 1) END AS var
      |  FROM (SELECT doc_id, s,
      |          unnest(generate_series(0, length(s))) AS i
      |        FROM k)),
      |ok AS (
      |  SELECT var FROM v GROUP BY 1
      |  HAVING count(*) > 1 AND count(*) <= 1000),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |    a.s AS sa, b.s AS sb
      |  FROM v a JOIN ok USING (var) JOIN v b USING (var)
      |  WHERE a.doc_id < b.doc_id)""".stripMargin

  def all: Seq[Gate] = Seq(
    // --- pipeline: exact dedup (hash-groupBy) ------------------------------
    Gate("pipe_dedup_exact", (s, dir) =>
      pipeline.Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "content_hash"),
      """SELECT doc_id, content_hash FROM (
        |  SELECT doc_id, md5(text) AS content_hash,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
        |      AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin),

    // --- pipeline: token-bag fingerprint dedup -----------------------------
    Gate("pipe_dedup_fingerprint", (s, dir) =>
      pipeline.Dedup.byFingerprint(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "fp"),
      """SELECT doc_id, fp FROM (
        |  SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(
        |      string_split_regex(lower(text), ' +'))), ' ')) AS fp,
        |    row_number() OVER (PARTITION BY md5(array_to_string(list_sort(
        |      list_distinct(string_split_regex(lower(text), ' +'))), ' '))
        |      ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin),

    // --- paragraph-level exact dedup (boilerplate removal): line-as-
    // paragraph over the same synthetic multi-line docs --------------------
    Gate("pipe_dedup_paragraphs", (s, dir) => {
      val docs2 = t(s, dir, "documents")
        .groupBy(pmod(col("doc_id"), lit(50L)).as("gid"))
        .agg(concat_ws("\n",
          transform(array_sort(collect_list(struct(col("doc_id"),
            col("text")))), x => x("text"))).as("text"))
      pipeline.Dedup.dedupParagraphs(docs2, "gid", "text",
        sep = "\n", joinSep = "\n")
    },
      """WITH docs2 AS (
        |  SELECT doc_id % 50 AS gid,
        |    string_agg(text, chr(10) ORDER BY doc_id) AS text
        |  FROM documents GROUP BY 1),
        |paras AS (
        |  SELECT gid, i - 1 AS pos, list_extract(ls, i) AS para
        |  FROM (SELECT gid, string_split(text, chr(10)) AS ls FROM docs2),
        |    unnest(range(1, len(ls) + 1)) AS t(i)
        |  WHERE length(trim(list_extract(ls, i))) > 0),
        |kept AS (
        |  SELECT gid, pos, para,
        |    row_number() OVER (PARTITION BY md5(para)
        |      ORDER BY gid, pos) AS rn
        |  FROM paras)
        |SELECT gid, string_agg(para, chr(10) ORDER BY pos) AS text
        |FROM kept WHERE rn = 1 GROUP BY gid""".stripMargin),

    // --- pipeline: MinHash+LSH near-dup pairs (shingle→minhash→band→join) --
    // --- near-dup clustering: connected components over the minhash
    // pair graph (min-label propagation), one row per clustered doc ------
    Gate("pipe_neardup_clusters", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = pipeline.Dedup.minhashPairs(docs, "doc_id", "text")
      pipeline.Dedup.nearDupClusters(pairs)
        .select(col("node").as("doc_id"), col("cluster"))
    },
      // connected components over the minhash candidate graph: recursive
      // transitive closure, cluster id = min reachable doc id
      raw"""WITH RECURSIVE ${minhashClusterCtes("documents", keepShingles = true)}
        |SELECT node AS doc_id, min(r) AS cluster
        |FROM reach GROUP BY node""".stripMargin),

    Gate("pipe_minhash_pairs", (s, dir) =>
      pipeline.Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text"),
      raw"""WITH ${minhashCandidateCtes("documents", keepShingles = true)}
        |SELECT id_a, id_b,
        |  CAST((20000 * len(list_intersect(sa.shingles, sb.shingles))
        |      + (len(sa.shingles) + len(sb.shingles)
        |         - len(list_intersect(sa.shingles, sb.shingles))))
        |    // (2 * (len(sa.shingles) + len(sb.shingles)
        |         - len(list_intersect(sa.shingles, sb.shingles))))
        |    AS DOUBLE) / 10000 AS jaccard
        |FROM cand
        |JOIN sh sa ON cand.id_a = sa.doc_id
        |JOIN sh sb ON cand.id_b = sb.doc_id""".stripMargin),

    // --- the xxhash64 production minhash family, gated on its family-
    // invariant subset: identical shingle sets hash to identical
    // signatures under ANY family, so the exact-dup pairs are DuckDB-
    // derivable without reproducing xxhash64; near-dup recall for this
    // family stays in PipelineSpec ------------------------------------------
    // (every 25th doc is re-labeled +100000 and unioned back, so the
    // gate has guaranteed exact-dup pairs at any SF)
    Gate("pipe_minhash_fast", (s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dup = base.filter(pmod(col("doc_id"), lit(25L)) === 0L)
        .withColumn("doc_id", col("doc_id") + lit(100000L))
      pipeline.Dedup.minhashExactPairs(base.unionByName(dup), "doc_id",
        "text", family = "xxhash64")
    },
      // family-invariant: pairs with identical distinct-shingle sets are
      // LSH candidates under any hash family, so no xxhash64 in DuckDB
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents
        |  WHERE doc_id % 25 = 0),
        |tok AS (
        |  SELECT doc_id, string_split_regex(lower(text), ' +') AS w
        |  FROM docs),
        |sh AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(list_transform(range(1, len(w)-1),
        |      j -> concat(w[j], ' ', w[j+1], ' ', w[j+2])))) AS shingles
        |  FROM tok WHERE len(w) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(1.0 AS DOUBLE) AS jaccard
        |FROM sh a JOIN sh b
        |  ON a.shingles = b.shingles AND a.doc_id < b.doc_id""".stripMargin),

    // --- winnowing document fingerprinting (MOSS-style rolling-hash
    // k-grams + window-min selection): candidate pairs from shared
    // fingerprints, verified by exact shared (k+w-1)-char normalized
    // runs. The winnowing guarantee (any match >= k+w-1 chars forces a
    // shared fingerprint) makes candidate recall exact, so the verified
    // output EQUALS the all-pairs substring join DuckDB computes
    // independently — the gate cross-checks the theorem end-to-end
    // without reproducing the custom rolling hash in SQL --------------------
    Gate("pipe_winnow_pairs", (s, dir) =>
      pipeline.Dedup.winnowSubstringPairs(t(s, dir, "documents"),
        "doc_id", "text")
        .withColumn("n_shared", col("n_shared").cast("long")),
      // independent all-pairs shared-substring join (19 = k + w - 1 of the
      // Spark side's winnowing parameters); the Spark side reaches the same
      // set through fingerprint candidates + verify, never a quadratic join
      WinnowPairsOracleSql),

    // --- exact duplicated-substring spans (the suffix-array dedup of
    // Lee et al. 2022, relational): maximal char ranges covered by
    // 30-grams occurring at 2+ corpus positions, minus each gram's
    // canonical first occurrence. Spark groups 64-bit rolling-hash
    // keys; the oracle groups the gram STRINGS — a kernel hash
    // collision would surface here as a span diff ---------------------------
    Gate("pipe_substring_spans", (s, dir) =>
      pipeline.Dedup.duplicatedSpans(t(s, dir, "documents"),
        "doc_id", "text", minLen = 30)
        .select(col("doc").as("doc_id"),
          col("span_start").cast("long").as("span_start"),
          col("span_len").cast("long").as("span_len"),
          col("n_positions")),
      // position-level replay of exact-substring span dedup on the gram
      // STRINGS (the Spark side shuffles 64-bit rolling hashes instead of
      // gram bytes — value-identical unless the kernel hash collides):
      // duplicated-gram positions minus the canonical first occurrence,
      // merged into maximal char spans by the gap > 30 island rule
      s"""WITH $spanIslandCtes
        |SELECT doc_id, min(p) AS span_start,
        |  max(p) + 30 - min(p) AS span_len,
        |  count(*) AS n_positions
        |FROM isl GROUP BY doc_id, grp""".stripMargin),

    // --- the corpus after cutting those spans: every document
    // reassembled from its surviving characters (keep-first copies and
    // untouched docs pass through; a fully-duplicated doc survives as
    // an empty row for downstream length filters) ---------------------------
    Gate("pipe_substring_dedup", (s, dir) =>
      pipeline.Dedup.substringDedup(t(s, dir, "documents"),
        "doc_id", "text", minLen = 30)
        .select(col("doc_id"), col("clean_text")),
      // same spans, then each doc reassembled from its kept segments
      // (the gaps between spans plus the tail after the last span)
      s"""WITH $spanIslandCtes,
        |sp AS (SELECT doc_id, min(p) AS s, max(p) + 30 - min(p) AS l
        |  FROM isl GROUP BY doc_id, grp),
        |segs AS (
        |  SELECT doc_id,
        |    coalesce(lag(s + l) OVER (PARTITION BY doc_id ORDER BY s),
        |             0) AS ks,
        |    s AS ke
        |  FROM sp
        |  UNION ALL
        |  SELECT doc_id, max(s + l) AS ks, NULL AS ke
        |  FROM sp GROUP BY doc_id),
        |cleaned AS (
        |  SELECT d.doc_id,
        |    string_agg(substr(d.text, s.ks + 1,
        |      coalesce(s.ke, length(d.text)) - s.ks), '' ORDER BY s.ks)
        |      AS clean_text
        |  FROM documents d JOIN segs s USING (doc_id)
        |  GROUP BY d.doc_id)
        |SELECT d.doc_id, coalesce(c.clean_text, d.text) AS clean_text
        |FROM documents d LEFT JOIN cleaned c USING (doc_id)""".stripMargin),

    // --- intra-document repetition counts (the quality signal for
    // degenerate boilerplate loops that line-level rules miss): gram
    // positions vs distinct grams, on the raw text and on a variant
    // with a synthesized 60-char prefix echo (the ASCII testdata has
    // almost no natural self-repetition) ------------------------------------
    Gate("pipe_selfrep", (s, dir) => {
      def stats(c: Column, prefix: String) = {
        val gh = graft.functions.TextKernels.gramHashes(c, 20)
        Seq(size(gh).cast("long").as(s"${prefix}_grams"),
          (size(gh) - size(array_distinct(gh))).cast("long")
            .as(s"${prefix}_repeated"))
      }
      val echoed = concat(col("text"), lit(" "),
        substring(col("text"), 1, 60))
      t(s, dir, "documents").select(
        col("doc_id") +: (stats(col("text"), "n") ++
          stats(echoed, "echo")): _*)
    },
      // per-variant 20-gram position/distinct counts on the gram STRINGS
      // (the Spark side counts distinct rolling HASHES — a collision
      // would diff here)
      """WITH v AS (
        |  SELECT doc_id, text AS s, 'n' AS variant FROM documents
        |  UNION ALL
        |  SELECT doc_id, text || ' ' || substr(text, 1, 60), 'echo'
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, variant, substr(s, i, 20) AS gram
        |  FROM (SELECT doc_id, variant, s,
        |          unnest(generate_series(1, length(s) - 19)) AS i
        |        FROM v WHERE length(s) >= 20)),
        |f AS (
        |  SELECT doc_id, variant, count(*) AS c,
        |    count(DISTINCT gram) AS d
        |  FROM g GROUP BY 1, 2)
        |SELECT d0.doc_id,
        |  coalesce(fn.c, 0) AS n_grams,
        |  coalesce(fn.c - fn.d, 0) AS n_repeated,
        |  coalesce(fe.c, 0) AS echo_grams,
        |  coalesce(fe.c - fe.d, 0) AS echo_repeated
        |FROM documents d0
        |LEFT JOIN f fn ON fn.doc_id = d0.doc_id AND fn.variant = 'n'
        |LEFT JOIN f fe ON fe.doc_id = d0.doc_id AND fe.variant = 'echo'
        |""".stripMargin),

    // --- incremental ingest dedup: the whole corpus is the frozen
    // hash index; a synthesized batch (every 3rd doc, ids shifted,
    // half colliding verbatim / half genuinely new via a ' v2' suffix)
    // anti-joins the index, then self-dedups keep-min — the 100 TB
    // ingest shape where only the batch ever moves ---------------------------
    Gate("pipe_incremental_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val index = pipeline.Dedup.hashIndex(docs, "doc_id", "text")
      val batch = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          when(col("doc_id") % 2 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" v2"))).as("text"))
      pipeline.Dedup.dedupIncremental(batch, "doc_id", "text", index)
        .select(col("doc_id"), col("content_hash"))
    },
      // frozen-index anti-join + batch self-dedup, replayed directly
      """WITH idx AS (SELECT DISTINCT md5(text) AS content_hash
        |  FROM documents),
        |batch AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN text
        |         ELSE text || ' v2' END AS text
        |  FROM documents WHERE doc_id % 3 = 0),
        |hashed AS (SELECT doc_id, md5(text) AS content_hash FROM batch),
        |fresh AS (
        |  SELECT * FROM hashed
        |  WHERE content_hash NOT IN (SELECT content_hash FROM idx)),
        |r AS (
        |  SELECT doc_id, content_hash,
        |    row_number() OVER (PARTITION BY content_hash
        |                       ORDER BY doc_id) AS rn
        |  FROM fresh)
        |SELECT doc_id, content_hash FROM r WHERE rn = 1""".stripMargin),

    // --- fuzzy entity join (edit distance <= 1) on the lowercased
    // 12-char text prefix: deletion-neighborhood candidates (recall
    // exact by construction, not probabilistic), levenshtein-verified;
    // the oracle replays variants, the 2..1000 bucket cap, and the
    // verification with its own levenshtein --------------------------------
    Gate("pipe_fuzzy_join", (s, dir) =>
      pipeline.Dedup.editDistancePairs(
        textPrefixKeys(s, dir),
        "doc_id", "k"),
      // deletion-neighborhood fuzzy join replay: variants (i=0 is the
      // string itself), distinct per doc, 2..1000 bucket cap, pair
      // dedup, levenshtein verify
      s"""WITH $fuzzyCandidateCtes
        |SELECT id_a, id_b, levenshtein(sa, sb) AS dist
        |FROM cand WHERE levenshtein(sa, sb) <= 1""".stripMargin),

    // --- linear-output rollup of the fuzzy join: each doc's best 2
    // matches by (dist, match id) — the per-doc verdict a
    // reconciliation run wants instead of the quadratic pair ball; the
    // rank filter plans as WindowGroupLimit (bounded top-k before the
    // shuffle, audited in PlanAuditSpec) -----------------------------------
    Gate("pipe_fuzzy_best_match", (s, dir) =>
      pipeline.Dedup.bestFuzzyMatchPerDoc(
        textPrefixKeys(s, dir),
        "doc_id", "k", k = 2),
      // same deletion-neighborhood replay, symmetrized and ranked per doc
      // by (dist, match id) — the top-2 rollup
      s"""WITH $fuzzyCandidateCtes,
        |p AS (
        |  SELECT id_a, id_b, levenshtein(sa, sb) AS dist
        |  FROM cand WHERE levenshtein(sa, sb) <= 1),
        |sym AS (
        |  SELECT id_a AS doc, id_b AS match_id, dist FROM p
        |  UNION ALL
        |  SELECT id_b AS doc, id_a AS match_id, dist FROM p),
        |r AS (
        |  SELECT doc, match_id, dist, row_number() OVER (
        |    PARTITION BY doc ORDER BY dist, match_id) AS rk
        |  FROM sym)
        |SELECT doc, match_id, dist, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 2""".stripMargin),

    // --- deterministic engine-portable k-means (Lloyd, 2 iterations,
    // k=4) over the embeddings: integer-grid coordinates + exact
    // rational centroid states make every assignment DuckDB-replayable
    // (unlike seeded MLlib KMeans) ------------------------------------------
    Gate("pipe_kmeans_exact", (s, dir) =>
      pipeline.Similarity.kmeansLloydExact(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 4, iters = 2)
        .withColumnRenamed("id", "vec_id"),
      // Lloyd's unrolled: init (k lowest ids) -> assign -> means ->
      // assign -> means -> final assign. Distances compare the exact
      // integer numerator sum_d (v_d*n - s_d)^2 over n^2; ties break to
      // the lowest cluster index (row_number ORDER BY dist, c == Spark's
      // array_position first-minimum).
      s"""WITH e AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |${kmeansCtes(4, 2)}
        |SELECT id AS vec_id, c AS cluster FROM (
        |  ${nearestCentroid("e.id, i.c", "c2", "  ")}""".stripMargin),

    // --- SemDeDup (cluster-then-compare semantic dedup): the exact
    // k-means clusters block the candidate space; a vector is dropped
    // iff a lower-id cluster-mate is cosine >= 0.2 similar. The oracle
    // replays the full kmeans CTE + within-cluster pair join ---------------
    Gate("pipe_semdedup", (s, dir) =>
      pipeline.Dedup.semDedup(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.2, k = 4, iters = 2)
        .withColumnRenamed("id", "vec_id"),
      // SemDeDup: the pipe_kmeans_exact CTE verbatim (same k=4, iters=2
      // assignment), then within-cluster cosine pairs; a vector is
      // dropped iff a lower-id cluster-mate clears the 0.2 threshold.
      s"""WITH e AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |${kmeansCtes(4, 2)},
        |asg AS (
        |  SELECT id, c AS cluster FROM (
        |    ${nearestCentroid("e.id, i.c", "c2", "    ")}),
        |emb AS (SELECT vec_id AS id, embedding FROM embeddings),
        |p AS (
        |  SELECT a.cluster, a.id AS id_a, b.id AS id_b,
        |    list_sum(list_transform(range(1, 65), i ->
        |      CAST(ea.embedding[i] AS DOUBLE)
        |        * CAST(eb.embedding[i] AS DOUBLE))) AS dp,
        |    sqrt(list_sum(list_transform(range(1, 65), i ->
        |      CAST(ea.embedding[i] AS DOUBLE)
        |        * CAST(ea.embedding[i] AS DOUBLE)))) AS na,
        |    sqrt(list_sum(list_transform(range(1, 65), i ->
        |      CAST(eb.embedding[i] AS DOUBLE)
        |        * CAST(eb.embedding[i] AS DOUBLE)))) AS nb
        |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.id < b.id
        |    JOIN emb ea ON ea.id = a.id JOIN emb eb ON eb.id = b.id),
        |drops AS (
        |  SELECT DISTINCT id_b AS id FROM p WHERE dp / (na * nb) >= 0.2)
        |SELECT a.id AS vec_id, a.cluster, (d.id IS NULL) AS kept
        |FROM asg a LEFT JOIN drops d ON a.id = d.id""".stripMargin),

    // --- contrastive triplet mining: deterministic hash-ranked
    // negatives for a pair table (the pair source here is a synthetic
    // consecutive-id pairing so the oracle stays compact; production
    // feeds Dedup.minhashPairs / semDedup output) --------------------------
    Gate("pipe_triplet_mine", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = docs
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + 1).as("id_b"))
        .filter(pmod(col("id_a"), lit(10L)) === 0L)
        .join(docs.select(col("doc_id").as("id_b")), Seq("id_b"),
          "left_semi")
      pipeline.Sampling.tripletMine(pairs, docs, "doc_id",
        nNeg = 2, poolMod = 5)
    },
      """WITH pairs AS (
        |  SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b
        |  FROM documents a
        |  WHERE a.doc_id % 10 = 0 AND EXISTS (
        |    SELECT 1 FROM documents b WHERE b.doc_id = a.doc_id + 1)),
        |pool AS (
        |  SELECT neg FROM (
        |    SELECT doc_id AS neg,
        |      CAST(('0x' || substr(md5('neg-pool|'
        |        || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS ph
        |    FROM documents) WHERE ph % 5 = 0
        |  ORDER BY ph, neg LIMIT 1024),
        |adj AS (
        |  SELECT id_a AS anchor, id_b AS other FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |cand AS (
        |  SELECT p.anchor, pool.neg,
        |    CAST(('0x' || substr(md5('neg|'
        |      || CAST(p.anchor AS VARCHAR) || '|'
        |      || CAST(pool.neg AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT DISTINCT id_a AS anchor FROM pairs) p, pool
        |  WHERE pool.neg <> p.anchor AND NOT EXISTS (
        |    SELECT 1 FROM adj
        |    WHERE adj.anchor = p.anchor AND adj.other = pool.neg)),
        |negs AS (
        |  SELECT anchor, neg, CAST(row_number() OVER (
        |    PARTITION BY anchor ORDER BY h, neg) AS BIGINT) AS neg_rank
        |  FROM cand)
        |SELECT pr.id_a AS anchor, pr.id_b AS positive,
        |  negs.neg AS negative, neg_rank
        |FROM pairs pr JOIN negs ON negs.anchor = pr.id_a
        |WHERE neg_rank <= 2""".stripMargin),

    // --- exact char-n-gram Jaccard near-dup pairs, blocked by
    // (source, lang) — the n-gram-Jaccard dedup family's exact member;
    // blocks bound the quadratic verify, candidates at corpus scale come
    // from the LSH pipelines ------------------------------------------------
    Gate("pipe_ngram_jaccard", (s, dir) =>
      pipeline.Dedup.charNgramJaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", Seq("source", "lang"), n = 3, threshold = 0.5),
      """WITH g0 AS (
        |  SELECT doc_id, source, lang,
        |    unnest(generate_series(1, greatest(length(text) - 2, 0))) AS i,
        |    text
        |  FROM documents WHERE length(text) >= 3),
        |g AS (SELECT DISTINCT doc_id, source, lang,
        |        substr(text, i, 3) AS gram FROM g0),
        |n AS (SELECT doc_id, count(*) AS ng FROM g GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS iv
        |  FROM g a JOIN g b ON a.source = b.source AND a.lang = b.lang
        |    AND a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST((20000 * iv + (na.ng + nb.ng - iv))
        |    // (2 * (na.ng + nb.ng - iv)) AS DOUBLE) / 10000 AS jaccard
        |FROM inter
        |JOIN n na ON na.doc_id = id_a
        |JOIN n nb ON nb.doc_id = id_b
        |WHERE (20000 * iv + (na.ng + nb.ng - iv))
        |    // (2 * (na.ng + nb.ng - iv)) >= 5000"""
        .stripMargin),

    // --- GLOBAL exact set-similarity self-join via prefix filtering
    // (AllPairs/PPJoin, Bayardo et al. WWW'07): every char-8-gram
    // Jaccard >= 0.8 pair corpus-wide — no blocks, no caps, no LSH
    // misses; candidates come from an equi-join on each doc's RAREST
    // grams (prefix lemma guarantees completeness), verified by the
    // exact intersect kernel. The oracle is the INDEPENDENT brute-force
    // all-pairs join (completeness check), affordable through sf0.1;
    // CHECK_SKIP at sf1+ where brute force goes quadratic ---------------
    Gate("pipe_ppjoin", (s, dir) =>
      pipeline.Dedup.prefixFilterJaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", n = 8, threshold = 0.8),
      // Brute-force ALL-PAIRS oracle, fully independent of the prefix
      // filter: intersections from the raw co-gram equi-join (every pair
      // sharing any 8-gram), same integer-unit contract. This is what
      // makes the gate a COMPLETENESS check — a prefix-filter bug that
      // drops a true pair hash-mismatches here. Cost is the co-gram
      // incidence mass (Σ bucket²): 4 s at sf0.01, ~90 s at sf0.1,
      // ~100× that at sf1 — CHECK_SKIP the gate at sf1+ by contract
      // (brute force is oracle-hostile past sf0.1; the operator itself
      // is the scalable path and is spec-pinned equal to brute force).
      """WITH d AS (
        |  SELECT doc_id, text FROM documents WHERE length(text) >= 8),
        |pos AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(1, length(text) - 7)) AS i FROM d),
        |gr AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, substr(text, i, 8) AS g FROM pos),
        |nn AS MATERIALIZED (
        |  SELECT doc_id, count(*) AS ng FROM gr GROUP BY 1),
        |iv AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS iv
        |  FROM gr a JOIN gr b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST((20000 * iv + (na.ng + nb.ng - iv))
        |    // (2 * (na.ng + nb.ng - iv)) AS DOUBLE) / 10000 AS jaccard
        |FROM iv JOIN nn na ON na.doc_id = id_a
        |JOIN nn nb ON nb.doc_id = id_b
        |WHERE (20000 * iv + (na.ng + nb.ng - iv))
        |    // (2 * (na.ng + nb.ng - iv)) >= 8000""".stripMargin),

    // --- pipeline: image near-dup via perceptual aHash over REAL decoded
    // pixels. Payloads are synthetic block-pattern PNGs (doc_id % 7 + 1
    // white column blocks), so expected pairs are exactly derivable:
    // same pattern -> identical hash -> dist 0; different patterns are
    // >= 8 bits apart and never pair at maxDist 6 ----------------------
    Gate("pipe_image_dedup", (s, dir) => {
      val png = udf((p: Int) => pipeline.Multimodal.syntheticPng(p))
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 70)
        .withColumn("payload",
          png((pmod(col("doc_id"), lit(7)) + 1).cast("int")))
      pipeline.Multimodal.imagePairs(docs, "doc_id", "payload")
    },
      // same-pattern docs pair at hamming distance 0; cross-pattern pairs
      // are >= 8 bits apart and excluded by construction
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 70)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(0 AS INTEGER) AS dist
        |FROM d a JOIN d b
        |  ON a.doc_id % 7 = b.doc_id % 7 AND a.doc_id < b.doc_id"""
        .stripMargin),

    // --- pipeline: SimHash near-dup pairs (rows-only: bit-vote sketch) -----
    Gate("pipe_simhash_pairs", (s, dir) =>
      pipeline.Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        prefixBits = 12, maxDist = 16), {
      val bitSums = (0 until 60).map(b =>
        s"sum((hv >> $b) & 1) AS b$b").mkString(",\n        ")
      val sig = (0 until 60).map(b =>
        s"(CASE WHEN b$b * 2 > n THEN ${1L << b} ELSE 0 END)")
        .mkString(" +\n        ")
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(string_split_regex(lower(text), ' +'))) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(list_transform(string_split(
        |        substring(md5(t), 1, 15), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS hv
        |  FROM tok),
        |v AS (
        |  SELECT doc_id, count(*) AS n,
        |        $bitSums
        |  FROM h GROUP BY doc_id),
        |sg AS (
        |  SELECT doc_id,
        |        $sig AS sig
        |  FROM v)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.sig, b.sig)) AS dist
        |FROM sg a JOIN sg b
        |  ON (a.sig >> 48) = (b.sig >> 48) AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 16""".stripMargin
    }),

    // --- pipeline: embedding-cosine near-dup pairs (exact baseline) -------
    Gate("pipe_embed_dedup", (s, dir) =>
      pipeline.Dedup.embeddingPairsExact(
        t(s, dir, "embeddings").filter(col("vec_id") < 200),
        "vec_id", "embedding", 0.2)
        .withColumn("cos", round(col("cos"), 6)),
      """WITH v AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(range(1, 65), i ->
        |      CAST(a.embedding[i] AS DOUBLE)
        |        * CAST(b.embedding[i] AS DOUBLE))) AS dp,
        |    sqrt(list_sum(list_transform(range(1, 65), i ->
        |      CAST(a.embedding[i] AS DOUBLE)
        |        * CAST(a.embedding[i] AS DOUBLE)))) AS na,
        |    sqrt(list_sum(list_transform(range(1, 65), i ->
        |      CAST(b.embedding[i] AS DOUBLE)
        |        * CAST(b.embedding[i] AS DOUBLE)))) AS nb
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(dp / (na * nb), 6) AS cos
        |FROM p WHERE dp / (na * nb) >= 0.2""".stripMargin)
  )
}
