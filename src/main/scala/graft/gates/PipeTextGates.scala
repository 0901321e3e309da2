package graft
package gates

import org.apache.spark.sql.functions._
import Support._

/** Text-pipeline gates: cleaning, quality filters, language models,
  * tokenizers, contamination, export and the composite `pipe_curation_e2e`. */
object PipeTextGates {
  /** Shared bigram-LM oracle CTEs (see `LangModel.bigramNll`): ends in
    * `sc(doc_id, n_bigrams, sum_nll, sum_nll_units)` — the units column
    * is the exact BIGINT 1e-4-unit form of the decimal sum, the base of
    * integer rank keys downstream. */
  private val LmNllCtes: String =
    """tok AS (
      |  SELECT doc_id AS doc, i AS pos, sp[i] AS w
      |  FROM (SELECT doc_id,
      |          string_split_regex(lower(text), ' +') AS sp
      |        FROM documents),
      |    unnest(range(1, len(sp) + 1)) AS u(i)),
      |nt AS (
      |  SELECT doc, w,
      |    row_number() OVER (PARTITION BY doc ORDER BY pos) AS rn
      |  FROM tok WHERE w <> ''),
      |bg AS (
      |  SELECT doc, w1, w2 FROM (
      |    SELECT doc, w AS w1,
      |      lead(w) OVER (PARTITION BY doc ORDER BY rn) AS w2
      |    FROM nt) WHERE w2 IS NOT NULL),
      |big AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
      |uni AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
      |vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
      |sc AS (
      |  SELECT bg.doc AS doc_id,
      |    CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(sum(CAST(round(-ln((big.c12 + 0.5)
      |      / (uni.c1 + 0.5 * vv.v)), 4) AS DECIMAL(18,4))) AS DOUBLE)
      |      AS sum_nll,
      |    CAST(sum(CAST(round(-ln((big.c12 + 0.5)
      |      / (uni.c1 + 0.5 * vv.v)), 4) AS DECIMAL(18,4))) * 10000
      |      AS BIGINT) AS sum_nll_units
      |  FROM bg
      |    JOIN big ON bg.w1 = big.w1 AND bg.w2 = big.w2
      |    JOIN uni ON bg.w1 = uni.w1, vv
      |  GROUP BY bg.doc)""".stripMargin

  private val CompressRatioGolden: String =
    """(0, 0.6306), (1, 0.4458), (2, 0.5407), (3, 0.6735), (4, 0.556),
      |  (5, 0.5159), (6, 0.8205), (7, 0.4627), (8, 0.4277),
      |  (9, 0.4604), (10, 0.5794), (11, 0.5), (12, 0.4713),
      |  (13, 0.474), (14, 0.4202), (15, 0.5614), (16, 0.8333),
      |  (17, 0.4554), (18, 0.4515), (19, 1.0175), (20, 0.4543),
      |  (21, 0.5576), (22, 0.4405), (23, 0.6566), (24, 0.3981),
      |  (25, 0.4198), (26, 0.9683), (27, 0.4913), (28, 0.494),
      |  (29, 0.5918)""".stripMargin

  private val QualityClassifierGolden: String =
    """(0, 0.5092), (1, 0.4126), (2, 0.4393), (3, 0.4494), (4, 0.4286),
      |  (5, 0.4196), (6, 0.4821), (7, 0.4185), (8, 0.4151),
      |  (9, 0.4525), (10, 0.4391), (11, 0.4612), (12, 0.4461),
      |  (13, 0.4007), (14, 0.404), (15, 0.4293), (16, 0.4326),
      |  (17, 0.4236), (18, 0.4115), (19, 0.4891), (20, 0.3962),
      |  (21, 0.3967), (22, 0.4146), (23, 0.4369), (24, 0.4219),
      |  (25, 0.4386), (26, 0.4781), (27, 0.4404), (28, 0.4231),
      |  (29, 0.4098)""".stripMargin

  /** Golden oracles for the BPE gates (literal VALUES; the driver-side
    * merge loop is not SQL-expressible): regenerate with
    * `tools/gen_goldens.py` after a testdata change. The algorithm
    * itself is proven against the classic worked example (Sennrich
    * 2016) in PipelineSpec. */
  private val BpeMergesGolden: String =
    """(0, 'e', 'r'), (1, 'e', '</w>'), (2, 'n', '</w>'),
      |  (3, 'er', '</w>'), (4, 'o', 'w'), (5, 'ow', '</w>'),
      |  (6, 'o', 'r'), (7, 's', 't'), (8, 'h', '</w>'),
      |  (9, 'a', 't'), (10, 'l', 'u'), (11, 'i', 'n'),
      |  (12, 'a', '</w>'), (13, 'g', '</w>'), (14, 'y', '</w>'),
      |  (15, 'a', 'r'), (16, 'p', 'ar'), (17, 't', '</w>'),
      |  (18, 'i', 'n</w>'), (19, 'j', 'o'), (20, 'jo', 'in</w>'),
      |  (21, 'a', 's'), (22, 'as', 'h</w>'),
      |  (23, 'h', 'ash</w>')""".stripMargin

  private val BpeEncodeGolden: String =
    """(0, 104), (1, 277), (2, 181), (3, 103), (4, 169), (5, 221),
      |  (6, 58), (7, 263), (8, 324), (9, 260), (10, 147), (11, 199),
      |  (12, 223), (13, 240), (14, 349), (15, 159), (16, 65),
      |  (17, 291), (18, 293), (19, 44), (20, 262), (21, 134),
      |  (22, 329), (23, 112)""".stripMargin

  def all: Seq[Gate] = Seq(
    // --- pipeline: cap audit (generic bucket stats, SQL-checkable) ---------
    Gate("pipe_cap_report", (s, dir) =>
      pipeline.Dedup.bucketCapStats(t(s, dir, "documents"),
        Seq("text"), 4, "exact_text"),
      """WITH b AS (SELECT text, count(*) AS bn FROM documents
        |  GROUP BY text)
        |SELECT 'exact_text' AS family,
        |  CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(sum(CASE WHEN bn BETWEEN 2 AND 4 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_pairable,
        |  CAST(sum(CASE WHEN bn > 4 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_capped,
        |  CAST(sum(bn) AS BIGINT) AS rows_total,
        |  CAST(sum(CASE WHEN bn > 4 THEN bn ELSE 0 END) AS BIGINT)
        |    AS rows_capped
        |FROM b""".stripMargin),

    // --- pipeline: cap audit across the real pair families (oracled) ------
    Gate("pipe_cap_report_families", (s, dir) =>
      pipeline.Dedup.capReport(t(s, dir, "documents"), "doc_id", "text",
        maxBucketSize = 50).orderBy("family"), {
      // Replays all three pair-family bucketings independently: minhash
      // bands (same CTEs as pipe_minhash_pairs), simhash top-16-bit
      // buckets (same bit-vote sketch as pipe_simhash_pairs), and the
      // winnowing fingerprints themselves — Rabin-Karp k-gram poly-hash
      // mod 2^64 (HUGEINT arithmetic) + murmur fmix64 (split-multiply
      // mulmod to stay under HUGEINT's 2^127), then rightmost-min-per-
      // window selection reduced to DISTINCT per-window minima (the tie
      // rule only moves positions, never the selected VALUE, so the
      // distinct value set is window-min distinct).
      val bitSums = (0 until 60).map(b =>
        s"sum((hv >> $b) & 1) AS b$b").mkString(",\n        ")
      val sig = (0 until 60).map(b =>
        s"(CASE WHEN b$b * 2 > n THEN ${1L << b} ELSE 0 END)")
        .mkString(" +\n        ")
      // fmix64 stage: x -> (x ^ (x >>> 33)) * mult (mod 2^64), operands
      // split at 2^32 so every HUGEINT product stays < 2^97
      def mulmod(x: String, mult: String): String =
        s"""((CAST($x AS HUGEINT) % 4294967296) * $mult +
        |   (((CAST($x AS HUGEINT) // 4294967296) * $mult) % 4294967296)
        |     * 4294967296) % 18446744073709551616""".stripMargin
      def xs(h: String): String =
        s"xor(CAST($h AS UBIGINT), CAST($h AS UBIGINT) >> 33)"
      s"""WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(text), ' +') AS w
        |  FROM documents),
        |msh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      j -> concat(w[j], ' ', w[j+1], ' ', w[j+2]))) AS shingles
        |  FROM tok WHERE len(w) >= 3),
        |mmh AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 8), i ->
        |      list_min(list_transform(shingles, s ->
        |        CAST(('0x' || substr(md5(concat(s, '|', i // 4)),
        |          1 + 8 * (i % 4), 8)) AS BIGINT)))) AS sig
        |  FROM msh),
        |mbands AS (
        |  SELECT doc_id, b.band,
        |    md5(concat(CAST(sig[b.band*2+1] AS VARCHAR), '_',
        |      CAST(sig[b.band*2+2] AS VARCHAR))) AS bsig
        |  FROM mmh, (SELECT unnest(range(0,4)) AS band) b),
        |mh_b AS (SELECT count(*) AS bn FROM mbands GROUP BY band, bsig),
        |stok AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(string_split_regex(lower(text), ' +')))
        |      AS t
        |  FROM documents),
        |sh_h AS (
        |  SELECT doc_id,
        |    list_reduce(list_transform(string_split(
        |        substring(md5(t), 1, 15), ''),
        |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS hv
        |  FROM stok),
        |sv AS (
        |  SELECT doc_id, count(*) AS n,
        |        $bitSums
        |  FROM sh_h GROUP BY doc_id),
        |ssg AS (
        |  SELECT doc_id,
        |        $sig AS sig
        |  FROM sv),
        |sim_b AS (SELECT count(*) AS bn FROM ssg GROUP BY sig >> 44),
        |wd AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nt
        |  FROM documents),
        |wpos AS (
        |  SELECT doc_id, nt,
        |    unnest(range(1, greatest(length(nt) - 11, 1) + 1)) AS i
        |  FROM wd WHERE length(nt) > 0),
        |wraw AS (
        |  SELECT doc_id, i,
        |    list_reduce(list_transform(string_split(substr(nt, i, 12), ''),
        |      c -> CAST(unicode(c) AS HUGEINT)),
        |      (a, b) -> (a * 1099511628211 + b) % 18446744073709551616)
        |      AS h0
        |  FROM wpos),
        |f1 AS (SELECT doc_id, i, ${xs("h0")} AS x FROM wraw),
        |f2 AS (SELECT doc_id, i,
        |  ${mulmod("x", "18397679294719823053")} AS h FROM f1),
        |f3 AS (SELECT doc_id, i, ${xs("h")} AS x FROM f2),
        |f4 AS (SELECT doc_id, i,
        |  ${mulmod("x", "14181476777654086739")} AS h FROM f3),
        |f5 AS (SELECT doc_id, i,
        |  CAST(CASE WHEN ${xs("h")} >= 9223372036854775808
        |    THEN CAST(${xs("h")} AS HUGEINT) - 18446744073709551616
        |    ELSE CAST(${xs("h")} AS HUGEINT) END AS BIGINT) AS g
        |  FROM f4),
        |wmins AS (SELECT doc_id, i,
        |    min(g) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wmin,
        |    count(*) OVER (PARTITION BY doc_id) AS m
        |  FROM f5),
        |wsel AS (SELECT DISTINCT doc_id, wmin AS fp FROM wmins
        |  WHERE i <= greatest(m - 7, 1)),
        |win_b AS (SELECT count(*) AS bn FROM wsel GROUP BY fp),
        |stats AS (
        |  SELECT 'minhash' AS family, bn FROM mh_b
        |  UNION ALL SELECT 'simhash', bn FROM sim_b
        |  UNION ALL SELECT 'winnow', bn FROM win_b)
        |SELECT family,
        |  CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(sum(CASE WHEN bn BETWEEN 2 AND 50 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_pairable,
        |  CAST(sum(CASE WHEN bn > 50 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_capped,
        |  CAST(sum(bn) AS BIGINT) AS rows_total,
        |  CAST(sum(CASE WHEN bn > 50 THEN bn ELSE 0 END) AS BIGINT)
        |    AS rows_capped
        |FROM stats GROUP BY family ORDER BY family""".stripMargin
    }),

    // --- pipeline: text quality features -----------------------------------
    Gate("pipe_text_stats", (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        pipeline.Text.tokenCount(col("text")).as("n_tokens"),
        round(pipeline.Text.punctRatio(col("text")), 6).as("punct_ratio"),
        round(pipeline.Text.meanWordLen(col("text")), 6)
          .as("mean_word_len"))
    },
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), ' +')) AS n_tokens,
        |  round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
        |      AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
        |  round(CAST(length(regexp_replace(text, ' +', '', 'g')) AS DOUBLE)
        |    / greatest(len(string_split_regex(trim(text), ' +')), 1), 6)
        |    AS mean_word_len
        |FROM documents""".stripMargin),

    // --- Gopher/C4 repetition + structure filters over synthetic
    // multi-line docs (corpus lines grouped by doc_id % 50, both engines
    // build the identical documents) ---------------------------------------
    Gate("pipe_quality_filters", (s, dir) => {
      val docs2 = t(s, dir, "documents")
        .groupBy(pmod(col("doc_id"), lit(50L)).as("gid"))
        .agg(concat_ws("\n",
          transform(array_sort(collect_list(struct(col("doc_id"),
            col("text")))), x => x("text"))).as("text"))
      docs2.select(col("gid"),
        round(pipeline.Text.duplicateLineFraction(col("text")), 6)
          .as("dup_line_frac"),
        round(pipeline.Text.topNgramFraction(col("text"), 2), 6)
          .as("top_2gram_frac"),
        round(pipeline.Text.symbolToWordRatio(col("text")), 6)
          .as("symbol_word_ratio"))
    },
      """WITH docs2 AS (
        |  SELECT doc_id % 50 AS gid,
        |    string_agg(text, chr(10) ORDER BY doc_id) AS text
        |  FROM documents GROUP BY 1),
        |feats AS (
        |  SELECT gid, text,
        |    string_split(text, chr(10)) AS ls,
        |    string_split_regex(lower(text), ' +') AS w,
        |    string_split_regex(trim(text), ' +') AS tw
        |  FROM docs2),
        |grams AS (
        |  SELECT gid,
        |    list_extract(w, i) || ' ' || list_extract(w, i + 1) AS g
        |  FROM feats, unnest(range(1, len(w))) AS t(i)),
        |modal AS (
        |  SELECT gid, max(c) AS top FROM (
        |    SELECT gid, g, count(*) AS c FROM grams GROUP BY gid, g)
        |  GROUP BY gid)
        |SELECT f.gid,
        |  round((len(ls) - len(list_distinct(ls)))
        |    / CAST(greatest(len(ls), 1) AS DOUBLE), 6) AS dup_line_frac,
        |  round(CASE WHEN len(w) >= 2
        |    THEN least(m.top * 2 / CAST(len(w) AS DOUBLE), 1.0)
        |    ELSE 0.0 END, 6) AS top_2gram_frac,
        |  round(length(regexp_replace(f.text, '[a-zA-Z0-9\s]', '', 'g'))
        |    / CAST(greatest(len(tw), 1) AS DOUBLE), 6)
        |    AS symbol_word_ratio
        |FROM feats f LEFT JOIN modal m USING (gid)""".stripMargin),

    // --- unicode normalization (encoding hygiene before char-level
    // dedup): decomposed e+COMBINING-ACUTE sequences are synthesized
    // into every doc (the testdata is pure ASCII), NFC recomposes them
    // to é — DuckDB's independent nfc_normalize must agree char-for-
    // char, and the char-count delta counts the compositions ---------------
    Gate("pipe_unicode_nfc", (s, dir) => {
      val raw = regexp_replace(col("text"), "e",
        "e\u0301") // e + COMBINING ACUTE (decomposed)
      t(s, dir, "documents").select(col("doc_id"),
        pipeline.Text.normalizeUnicode(raw).as("nfc_text"),
        (length(raw) - length(pipeline.Text.normalizeUnicode(raw)))
          .cast("long").as("n_composed"))
    },
      // independent NFC: DuckDB's nfc_normalize vs java.text.Normalizer
      // on the same synthesized decomposed-accent corpus
      """WITH d AS (
        |  SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS raw
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(raw) AS nfc_text,
        |  length(raw) - length(nfc_normalize(raw)) AS n_composed
        |FROM d""".stripMargin),

    // --- HTML-to-text extraction (web-crawl ingestion): script/style
    // blocks dropped, tags stripped, entities decoded, whitespace
    // collapsed — deterministic synthetic markup around each doc -----------
    Gate("pipe_html_strip", (s, dir) => {
      val d = t(s, dir, "documents").withColumn("__h", concat(
        lit("<html><head><style>body{color:red}</style>" +
          "<script>var x = 1 < 2;</script></head><body><h1>Doc</h1><p>"),
        col("text"),
        lit("</p><div>&amp; &lt;tag&gt; &quot;q&#39;</div></body></html>")))
      d.select(col("doc_id"),
        pipeline.Text.stripHtml(col("__h")).as("clean"))
    },
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><style>body{color:red}</style>'
        |    || '<script>var x = 1 < 2;</script></head><body><h1>Doc</h1><p>'
        |    || text
        |    || '</p><div>&amp; &lt;tag&gt; &quot;q&#39;</div></body></html>'
        |      AS html
        |  FROM documents)
        |SELECT doc_id, trim(regexp_replace(
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |  html,
        |    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |    '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |    '<[^>]*>', ' ', 'g'),
        |    '&lt;', '<', 'g'), '&gt;', '>', 'g'),
        |    '&quot;', '"', 'g'), '&#39;', chr(39), 'g'), '&amp;', '&', 'g'),
        |  '\s+', ' ', 'g')) AS clean
        |FROM h""".stripMargin),

    // --- train/val leakage audit: near-dup pairs crossing a 90/10
    // deterministic split — split names stamp onto the pair stream as
    // a hash projection, no corpus join ---------------------------------------
    Gate("pipe_split_leakage", (s, dir) =>
      pipeline.Dedup.splitLeakage(t(s, dir, "documents"), "doc_id",
        "text", Seq("train" -> 900, "val" -> 100)),
      raw"""WITH ${minhashCandidateCtes("documents", keepShingles = true)},
        |pairs AS (
        |  SELECT id_a, id_b,
        |    CAST((20000 * len(list_intersect(sa.shingles, sb.shingles))
        |        + (len(sa.shingles) + len(sb.shingles)
        |           - len(list_intersect(sa.shingles, sb.shingles))))
        |      // (2 * (len(sa.shingles) + len(sb.shingles)
        |           - len(list_intersect(sa.shingles, sb.shingles))))
        |      AS DOUBLE) / 10000 AS jaccard
        |  FROM cand
        |  JOIN sh sa ON cand.id_a = sa.doc_id
        |  JOIN sh sb ON cand.id_b = sb.doc_id)
        |SELECT id_a, id_b, jaccard,
        |  CASE WHEN CAST(('0x' || substr(md5('split|'
        |      || CAST(id_a AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 900
        |    THEN 'train' ELSE 'val' END AS split_a,
        |  CASE WHEN CAST(('0x' || substr(md5('split|'
        |      || CAST(id_b AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 900
        |    THEN 'train' ELSE 'val' END AS split_b
        |FROM pairs
        |WHERE (CASE WHEN CAST(('0x' || substr(md5('split|'
        |      || CAST(id_a AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 900
        |    THEN 'train' ELSE 'val' END)
        |  <> (CASE WHEN CAST(('0x' || substr(md5('split|'
        |      || CAST(id_b AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 900
        |    THEN 'train' ELSE 'val' END)""".stripMargin),

    // --- C4-style blocklist screen: token-boundary word + phrase
    // matching, patterns broadcast, one generator pass per phrase
    // length — per-doc hit counts --------------------------------------------
    Gate("pipe_blocklist", (s, dir) =>
      pipeline.Text.blocklistHits(t(s, dir, "documents"), "doc_id",
        "text", Seq("spark", "table hash", "customer join")),
      """WITH pat AS (
        |  SELECT * FROM (VALUES ('spark'), ('table hash'),
        |    ('customer join')) AS p(g)),
        |ct AS (
        |  SELECT doc_id, string_split_regex(lower(text), ' +') AS w
        |  FROM documents),
        |g1 AS (SELECT doc_id, unnest(w) AS g FROM ct),
        |g2 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    j -> concat(w[j], ' ', w[j+1]))) AS g
        |  FROM ct WHERE len(w) >= 2),
        |hits AS (
        |  SELECT doc_id, g FROM g1 JOIN pat USING (g)
        |  UNION ALL
        |  SELECT doc_id, g FROM g2 JOIN pat USING (g))
        |SELECT doc_id, count(*) AS n_hits,
        |  count(DISTINCT g) AS n_patterns
        |FROM hits GROUP BY doc_id""".stripMargin),

    // --- exact token-8-gram decontamination (the PaLM-report method):
    // eval set = verbatim excerpts of every 97th doc (guaranteed
    // leakage), bench grams broadcast, one corpus generator pass -------------
    Gate("pipe_exact_decontam", (s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(97L)) === 3L)
        .select((col("doc_id") + 1000000L).as("bench_id"),
          substring(col("text"), 21, 200).as("text"))
      pipeline.Dedup.exactNgramDecontam(docs, "doc_id", "text",
        bench, "text", n = 8)
    },
      ExactDecontamOracleSql),

    // --- compression-ratio quality signal (deflate/raw bytes): the
    // cheap whole-doc complement to the token features; golden oracle
    // (zlib is not SQL-expressible) -----------------------------------------
    Gate("pipe_compress_ratio", (s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 30)
        .select(col("doc_id"),
          pipeline.Text.deflateRatio(col("text")).as("ratio")),
      s"""SELECT * FROM (VALUES
        |  $CompressRatioGolden) AS t(doc_id, ratio)""".stripMargin),

    // --- trainable quality classifier (CCNet-style linear filter):
    // distributed IRLS with order-free decimal reductions; golden
    // oracle (IRLS is not SQL-expressible), learning proven on
    // constructed classes in PipelineSpec -----------------------------------
    Gate("pipe_quality_classifier", (s, dir) =>
      pipeline.QualityClassifier.trainAndScore(t(s, dir, "documents"),
        "doc_id", "text", col("lang") === "en", iters = 6)
        .filter(col("doc_id") < 30)
        .select(col("doc_id"), round(col("p"), 4).as("p")),
      s"""SELECT * FROM (VALUES
        |  $QualityClassifierGolden) AS t(doc_id, p)""".stripMargin),

    // --- LM quantile filter: keep the half of the corpus most typical
    // under its own bigram LM (rank on the INTEGER 1e-10-unit mean
    // NLL — exact floor division of the unit sum, id ties) ------------------
    Gate("pipe_lm_filter", (s, dir) =>
      pipeline.LangModel.filterByNll(t(s, dir, "documents"), "doc_id",
        "text", q = 0.5)
        .select(col("doc_id"), col("n_bigrams"), col("sum_nll")),
      // quantile filter over the same scores: rank on the exact integer
      // mean key (1e-4-unit sum scaled by 1e6, floor-divided by the
      // count — no double rank key; see LangModel.filterByNll) with id
      // ties, keep floor(n * 0.5)
      s"""WITH $LmNllCtes,
        |r AS (SELECT *, (sum_nll_units * 1000000) // n_bigrams AS nll_r
        |      FROM sc),
        |k AS (SELECT CAST(floor(count(*) * 0.5) AS BIGINT) AS keep
        |      FROM r)
        |SELECT doc_id, n_bigrams, sum_nll FROM (
        |  SELECT r.*, row_number() OVER (ORDER BY nll_r, doc_id) AS rk
        |  FROM r), k
        |WHERE rk <= keep""".stripMargin),

    // --- BPE tokenizer training (Sennrich 2016): corpus -> word-freq
    // dictionary (one shuffle) -> driver-side merge loop over the
    // bounded dictionary. The merge table is a pure function of the
    // word frequencies; the oracle pins the golden literal (regenerate
    // with tools/gen_goldens.py after a corpus change) ----------------------
    Gate("pipe_bpe_merges", (s, dir) => {
      import s.implicits._
      pipeline.Bpe.trainFromCorpus(t(s, dir, "documents"), "text",
        numMerges = 24)
        .zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("rank", "lhs", "rhs")
    },
      // BPE golden literals (driver-side merge loop is not expressible in
      // SQL; regenerate with tools/gen_goldens.py from a Verify dump)
      s"""SELECT * FROM (VALUES
        |  $BpeMergesGolden) AS t(rank, lhs, rhs)""".stripMargin),

    // --- BPE encoding: per-doc subword token counts under the
    // corpus-trained merge table (narrow pass, merge table in the
    // closure); golden oracle like the training gate --------------------
    Gate("pipe_bpe_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = pipeline.Bpe.trainFromCorpus(docs, "text", 24)
      pipeline.Bpe.tokenCounts(docs.filter(col("doc_id") < 24),
        "doc_id", "text", merges)
    },
      s"""SELECT * FROM (VALUES
        |  $BpeEncodeGolden) AS t(doc_id, n_tokens)""".stripMargin),

    // --- corpus bigram-LM NLL (the CCNet-style perplexity quality
    // score): add-alpha bigram model trained on the corpus itself;
    // per-bigram NLL rounds to 4dp and sums exactly -------------------------
    Gate("pipe_lm_score", (s, dir) =>
      pipeline.LangModel.bigramNll(t(s, dir, "documents"), "doc_id",
        "text")
        // the mean is sum/count — its last-ulp rounding is the one step
        // two engines can disagree on; the gate checks the exact sum
        .select(col("doc_id"), col("n_bigrams"), col("sum_nll")),
      // Bigram-LM NLL: non-empty tokens re-ranked per doc, lead() forms
      // the bigram stream, add-0.5 smoothing over the conditioning
      // vocabulary; 4dp NLL terms summed as exact decimals.
      s"""WITH $LmNllCtes
        |SELECT doc_id, n_bigrams, sum_nll FROM sc""".stripMargin),

    // --- corpus vocabulary: doc/term frequencies + IDF, one explode +
    // one uniform-key groupBy (the tf-idf primitive) ------------------------
    Gate("pipe_vocab_idf", (s, dir) => {
      val docs = t(s, dir, "documents")
      pipeline.Text.vocab(docs, "doc_id", "text", docs.count(),
        minDocFreq = 5)
    },
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(text), ' +')) AS token
        |  FROM documents),
        |v AS (
        |  SELECT token, count(DISTINCT doc_id) AS doc_freq,
        |    count(*) AS term_freq
        |  FROM tok WHERE length(token) > 0
        |  GROUP BY token)
        |SELECT token, doc_freq, term_freq,
        |  round(ln(CAST((SELECT count(*) FROM documents) AS DOUBLE)
        |    / doc_freq), 6) AS idf
        |FROM v WHERE doc_freq >= 5""".stripMargin),

    // --- top-50 bigram document frequencies (deterministic ties) -----------
    Gate("pipe_top_bigrams", (s, dir) =>
      pipeline.Text.topBigrams(t(s, dir, "documents"), "text", 50),
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(lower(text), ' +') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(w)), j -> concat(w[j], ' ', w[j+1])))) AS bigram
        |  FROM tok WHERE len(w) >= 2)
        |SELECT bigram, count(*) AS n FROM sh GROUP BY bigram
        |ORDER BY n DESC, bigram LIMIT 50""".stripMargin),

    // --- JSONL shard delivery: write real text shards partitioned by a
    // deterministic md5 shard id, read them BACK from disk, and check
    // the (shard, line) set — end-to-end file IO, engine-reproducible
    // shard membership and line bytes ---------------------------------------
    Gate("pipe_export_jsonl", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "lang", "source")
      // fixed per-process path + overwrite mode: repeated invocations
      // (verify, bench iterations) replace the delivery, not accrete it
      val out = s"${System.getProperty("java.io.tmpdir")}" +
        s"/graft_jsonl_${ProcessHandle.current().pid()}"
      pipeline.Export.writeJsonlShards(docs, "doc_id",
        Seq("doc_id", "lang", "source"), out, numShards = 8)
      pipeline.Export.readJsonlShards(s, out)
    },
      """SELECT
        |  CAST(('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 8 AS shard,
        |  CAST(to_json(struct_pack(doc_id := doc_id, lang := lang,
        |    source := source)) AS VARCHAR) AS line
        |FROM documents""".stripMargin),

    // --- per-doc top-3 tf-idf terms (retrieval features) -------------------
    Gate("pipe_tfidf_topk", (s, dir) => {
      val docs = t(s, dir, "documents")
      pipeline.Text.tfidfTopK(docs, "doc_id", "text", docs.count(),
        k = 3, minDocFreq = 2)
    },
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(text), ' +')) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM tok
        |  WHERE length(token) > 0 GROUP BY 1, 2),
        |v AS (
        |  SELECT token, count(DISTINCT doc_id) AS df_ FROM tok
        |  WHERE length(token) > 0 GROUP BY 1),
        |idf AS (
        |  SELECT token,
        |    round(ln(CAST((SELECT count(*) FROM documents) AS DOUBLE)
        |      / df_), 6) AS idf
        |  FROM v WHERE df_ >= 2),
        |sc AS (
        |  SELECT tf.doc_id, tf.token,
        |    round(tf.tf * idf.idf, 6) AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY round(tf.tf * idf.idf, 6) DESC, tf.token) AS rk
        |  FROM tf JOIN idf USING (token))
        |SELECT doc_id, rk, token, score FROM sc WHERE rk <= 3"""
        .stripMargin),

    // --- PII scrub: emails / IPv4 / phone-shaped runs -> typed
    // placeholders, plus per-kind match counts. Deterministic PII is
    // synthesized onto each doc so all three patterns fire; RE2-safe
    // regexes keep Spark and DuckDB byte-identical ------------------------
    Gate("pipe_pii_redact", (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("__t", concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or "),
          lit("+1 (555) 010-"), pmod(col("doc_id"), lit(10000L)),
          lit(" at 10.0."), pmod(col("doc_id"), lit(256L)), lit(".1")))
      d.select(col("doc_id"),
        pipeline.Text.redactPii(col("__t")).as("redacted"),
        pipeline.Text.piiCounts(col("__t")).as("__c"))
        .select(col("doc_id"), col("redacted"),
          col("__c")("emails").cast("long").as("n_emails"),
          col("__c")("ips").cast("long").as("n_ips"),
          col("__c")("phones").cast("long").as("n_phones"))
    },
      """WITH d AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com or ' || '+1 (555) 010-'
        |      || CAST(doc_id % 10000 AS VARCHAR) || ' at 10.0.'
        |      || CAST(doc_id % 256 AS VARCHAR) || '.1' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
        |    '<EMAIL>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}',
        |    '<IP>', 'g'),
        |    '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(t,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
        |    AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t,
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))
        |    AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(t,
        |    '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS BIGINT) AS n_phones
        |FROM d""".stripMargin),

    // --- benchmark decontamination: corpus docs (doc_id % 17 != 0)
    // sharing a verbatim 19-char normalized run with any "benchmark"
    // doc (doc_id % 17 == 0); same independent substring-join oracle ------
    Gate("pipe_contamination", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(pmod(col("doc_id"), lit(17L)) =!= 0L)
      val bench = docs.filter(pmod(col("doc_id"), lit(17L)) === 0L)
      pipeline.Dedup.winnowContamination(corpus, "doc_id", "text",
        bench, "doc_id", "text")
    },
      s"""WITH $gram19Ctes
        |SELECT a.doc_id AS corpus_id, b.doc_id AS bench_id,
        |  count(*) AS n_shared
        |FROM g a JOIN g b ON a.gram = b.gram
        |WHERE a.doc_id % 17 <> 0 AND b.doc_id % 17 = 0
        |GROUP BY 1, 2""".stripMargin),

    // --- per-doc decontamination verdicts: the DROP LIST with
    // worst-overlap stats, one groupBy over the pair frame — output
    // <= |corpus| rows (linear) where the pair gate above is
    // answer-scaled (41M rows at the 100x decade) --------------------------
    Gate("pipe_contamination_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      pipeline.Dedup.contaminatedDocs(
        docs.filter(pmod(col("doc_id"), lit(17L)) =!= 0L),
        "doc_id", "text",
        docs.filter(pmod(col("doc_id"), lit(17L)) === 0L),
        "doc_id", "text")
    },
      // the same substring-join replay, rolled up to one verdict row per
      // contaminated corpus doc (sum(BIGINT) is HUGEINT in DuckDB — cast
      // back to match Spark's long)
      s"""WITH $gram19Ctes,
        |pairs AS (
        |  SELECT a.doc_id AS corpus_id, b.doc_id AS bench_id,
        |    count(*) AS n_shared
        |  FROM g a JOIN g b ON a.gram = b.gram
        |  WHERE a.doc_id % 17 <> 0 AND b.doc_id % 17 = 0
        |  GROUP BY 1, 2)
        |SELECT corpus_id,
        |  CAST(count(DISTINCT bench_id) AS BIGINT) AS n_bench_docs,
        |  max(n_shared) AS max_shared,
        |  CAST(sum(n_shared) AS BIGINT) AS total_shared
        |FROM pairs GROUP BY 1""".stripMargin),

    // --- the full corpus-cleaning pipeline COMPOSED end-to-end:
    // structural quality filter -> token-bag fingerprint dedup ->
    // minhash-LSH near-dup clustering with canonical-doc dedup ->
    // deterministic language mix. One gate proving the stages compose
    // (each is also gated alone); the oracle chains the same four
    // stages in SQL, incl. the recursive-CTE connected components ----------
    Gate("pipe_corpus_clean", (s, dir) => {
      val docs = t(s, dir, "documents")
      val q = docs.filter(length(col("text")) >= lit(100) &&
        pipeline.Text.symbolToWordRatio(col("text")) < lit(0.3))
      val fded = pipeline.Dedup.byFingerprint(q, "doc_id", "text")
        .drop("fp")
      val clusters = pipeline.Dedup.nearDupClusters(
        pipeline.Dedup.minhashPairs(fded, "doc_id", "text"))
      val ded = pipeline.Dedup.dedupByClusters(fded, "doc_id", clusters)
      pipeline.Sampling.stratifiedSample(ded, "doc_id", "lang",
        Map("en" -> 900, "de" -> 700, "fr" -> 700, "es" -> 700,
          "zh" -> 500))
        .select("doc_id", "lang")
    },
      raw"""WITH RECURSIVE q AS (
        |  SELECT doc_id, text, lang FROM documents
        |  WHERE length(text) >= 100
        |    AND length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))
        |      / CAST(greatest(len(string_split_regex(trim(text), ' +')),
        |          1) AS DOUBLE) < 0.3),
        |fded AS (
        |  SELECT doc_id, text, lang FROM (
        |    SELECT doc_id, text, lang,
        |      row_number() OVER (PARTITION BY md5(array_to_string(
        |        list_sort(list_distinct(string_split_regex(lower(text),
        |        ' +'))), ' ')) ORDER BY doc_id) AS rn
        |    FROM q) WHERE rn = 1),
        |${minhashClusterCtes("fded", keepShingles = false)},
        |clu AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
        |ded AS (
        |  SELECT f.doc_id, f.lang FROM fded f
        |  LEFT JOIN clu c ON f.doc_id = c.node
        |  WHERE c.cluster IS NULL OR c.cluster = f.doc_id)
        |SELECT doc_id, lang FROM ded
        |WHERE CAST(('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 1000 <
        |  CASE lang WHEN 'en' THEN 900 WHEN 'de' THEN 700
        |    WHEN 'fr' THEN 700 WHEN 'es' THEN 700 WHEN 'zh' THEN 500
        |    ELSE 0 END""".stripMargin),

    // --- composite end-to-end curation pipeline (the full training-
    // data run a 100 TB user executes): clean → exact dedup → minhash
    // near-dup clusters → representative dedup → integer-exact Gopher-
    // style quality gates → deterministic split assign → export
    // (write partitioned parquet, read back) → per-(split, lang)
    // summary. The deduped corpus is pinned ONCE (Materialize.fanout)
    // where BOTH the minhash pair chain and the representative-dedup
    // join consume it; the quality filter + split assign are narrow
    // projections that add NO exchange over the dedup join
    // (composition plan-audited). Every compared value is exact
    // integer arithmetic — token counts, char masses, md5 bucket
    // membership — so the DuckDB replay is bit-stable ----------------------
    Gate("pipe_curation_e2e", (s, dir) => {
      val docs = t(s, dir, "documents")
      val cleaned = docs.filter(length(col("text")) >= lit(100) &&
        pipeline.Text.symbolToWordRatio(col("text")) < lit(0.3))
      val ex = pipeline.Materialize.fanout(
        pipeline.Dedup.exact(cleaned, "doc_id", "text")
          .drop("content_hash"))
      val clusters = pipeline.Dedup.nearDupClusters(
        pipeline.Dedup.minhashPairs(ex, "doc_id", "text"))
      val ded = pipeline.Dedup.dedupByClusters(ex, "doc_id", clusters)
      val toks = pipeline.Text.tokenCount(col("text")).cast("long")
      val chars = length(regexp_replace(col("text"), "\\s", ""))
        .cast("long")
      val q = ded
        .withColumn("n_tokens", toks)
        .withColumn("n_chars", chars)
        .filter(col("n_tokens") >= 20L && col("n_tokens") <= 2000L &&
          col("n_chars") > col("n_tokens") * 2L &&
          col("n_chars") < col("n_tokens") * 12L)
      val split = pipeline.Sampling.assignSplit(
        q.select("doc_id", "lang", "n_tokens"), "doc_id",
        Seq("train" -> 980, "val" -> 10, "test" -> 10))
      val out = java.nio.file.Files
        .createTempDirectory("curation_e2e").toString + "/corpus"
      split.write.partitionBy("split").parquet(out)
      s.read.parquet(out)
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("docid_sum"),
          sum(col("n_tokens")).cast("long").as("token_sum"))
    },
      // full independent replay of the composite curation run: clean →
      // exact (md5 text, min id) dedup → the minhash/band/cluster chain
      // (same closed-form replay as pipe_corpus_clean, over the exact-
      // deduped corpus) → representative dedup → integer token/char
      // quality gates → md5 split assign → per-(split, lang) summary.
      // The partitioned-parquet export leg is value-preserving, so the
      // replay covers it by recomputing the same aggregate
      raw"""WITH RECURSIVE cleaned AS (
        |  SELECT doc_id, text, lang FROM documents
        |  WHERE length(text) >= 100
        |    AND length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))
        |      / CAST(greatest(len(string_split_regex(trim(text), ' +')),
        |          1) AS DOUBLE) < 0.3),
        |ex AS (
        |  SELECT doc_id, text, lang FROM (
        |    SELECT doc_id, text, lang,
        |      row_number() OVER (PARTITION BY md5(text)
        |        ORDER BY doc_id) AS rn
        |    FROM cleaned) WHERE rn = 1),
        |${minhashClusterCtes("ex", keepShingles = false)},
        |clu AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
        |ded AS (
        |  SELECT f.doc_id, f.lang, f.text FROM ex f
        |  LEFT JOIN clu c ON f.doc_id = c.node
        |  WHERE c.cluster IS NULL OR c.cluster = f.doc_id),
        |qf AS (
        |  SELECT doc_id, lang, n_tokens FROM (
        |    SELECT doc_id, lang,
        |      CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
        |        AS n_tokens,
        |      CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT)
        |        AS n_chars
        |    FROM ded)
        |  WHERE n_tokens >= 20 AND n_tokens <= 2000
        |    AND n_chars > n_tokens * 2 AND n_chars < n_tokens * 12),
        |spl AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CASE WHEN h < 980 THEN 'train' WHEN h < 990 THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM (
        |    SELECT *, CAST(('0x' || substr(md5('split|' ||
        |      CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS h
        |    FROM qf))
        |SELECT split, lang, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS docid_sum,
        |  CAST(sum(n_tokens) AS BIGINT) AS token_sum
        |FROM spl GROUP BY 1, 2""".stripMargin),

    // --- pipeline: language id + quality (rows-only: heuristic model) ------
    Gate("pipe_langid_quality", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), col("lang"),
        pipeline.Text.langId(col("text")).as("pred_lang"),
        pipeline.Text.qualityScore(col("text")).as("quality"),
        pipeline.Text.subwordCount(col("text")).as("n_subwords")),
      raw"""WITH w AS (
        |  SELECT doc_id, lang, text,
        |    string_split_regex(lower(text), ' +') AS toks,
        |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
        |      AS DOUBLE) / greatest(length(text), 1) AS pr,
        |    CAST(length(regexp_replace(text, ' +', '', 'g')) AS DOUBLE)
        |      / greatest(len(string_split_regex(trim(text), ' +')), 1) AS mwl
        |  FROM documents),
        |$langScoreCte
        |SELECT doc_id, lang,
        |  CASE WHEN cjk > length(text) * 0.2 THEN 'zh'
        |       WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
        |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |       WHEN s_fr >= s_es THEN 'fr'
        |       ELSE 'es' END AS pred_lang,
        |  round(least(length(text) / 500.0, 1.0) * 0.4
        |    + (CASE WHEN pr < 0.1 THEN 1.0 ELSE 0.3 END) * 0.3
        |    + (CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.2 END)
        |      * 0.3, 4) AS quality,
        |  len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]'))
        |    AS n_subwords
        |FROM sc""".stripMargin)
  )
}
