package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Calls

/** Helpers shared by more than one gate family (and `SparkEntry.entry`). */
private[graft] object Support {
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Exact, order-independent sum of a double column. Double SUMs go
    * through a DECIMAL(18,4) cast in BOTH engines: decimal addition is
    * exact and order-independent, so the hash compare cannot flake on
    * float summation order; values stay < 2^53/1e4 so the final cast
    * back to DOUBLE is exact. */
  def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 4))).cast("double")

  /** The committed 5-sample VCF that most genetics gates import. */
  def vcfFixture: String = Fixtures.path("oracle_sample.vcf")

  /** The `vcf_import` projection of a VCF-shaped entries frame: one row
    * per called genotype, the columns `VcfImportOracleSql` computes. */
  def genotypeDump(entries: DataFrame): DataFrame = entries
    .filter(col("GT").isNotNull)
    .select(col("contig"), col("position"), col("ref"),
      concat_ws(",", col("alt")).as("alts"),
      col("qual"),
      col("info")("DP").as("info_dp"),
      element_at(col("info")("AC"), 1).as("info_ac"),
      col("s"),
      Calls.allele1(col("GT")).as("a1"),
      Calls.allele2(col("GT")).as("a2"),
      Calls.isPhased(col("GT")).as("phased"),
      col("DP").as("dp"))

  /** `vcfParseCte` over the 5-sample fixture `vcfFixture`. */
  def sampleVcfCte: String =
    vcfParseCte(vcfFixture, 7, (1 to 5).map(i => s"S$i"))

  /** Oracle CTEs over `sampleVcfCte`: `d` holds each genotype's dosage,
    * `c` its mean-imputed, centred value `xc`, and `v` that value scaled
    * to a unit-norm vector per variant (`nr` holds the norms). */
  def unitDoseCtes: String =
    s"""WITH $sampleVcfCte,
      |d AS (SELECT contig, position, s, CAST(a1 + a2 AS DOUBLE) AS dose
      |  FROM q),
      |mu AS (SELECT contig, position, avg(dose) AS mu FROM d
      |  GROUP BY 1, 2),
      |c AS (
      |  SELECT d.contig, d.position, d.s,
      |    coalesce(d.dose, mu.mu) - mu.mu AS xc
      |  FROM d JOIN mu USING (contig, position)),
      |nr AS (SELECT contig, position, sqrt(sum(xc * xc)) AS nrm FROM c
      |  GROUP BY 1, 2),
      |v AS (SELECT c.contig, c.position, c.s, c.xc / nr.nrm AS v
      |  FROM c JOIN nr USING (contig, position))""".stripMargin

  /** MinHash oracle CTEs over `from`'s (doc_id, text): `tok` holds the
    * word lists, `sh` the distinct word 3-shingles, `mh` the 8 md5
    * minhashes (beside the shingles when `keepShingles`) and `bands` the
    * md5 of each 2-row band. */
  def minhashBandCtes(from: String, keepShingles: Boolean): String = {
    val sh = if (keepShingles) " shingles," else ""
    s"""tok AS (
      |  SELECT doc_id, string_split_regex(lower(text), ' +') AS w
      |  FROM $from),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(w)-1),
      |      j -> concat(w[j], ' ', w[j+1], ' ', w[j+2]))) AS shingles
      |  FROM tok WHERE len(w) >= 3),
      |mh AS (
      |  SELECT doc_id,$sh
      |    list_transform(range(0, 8), i ->
      |      list_min(list_transform(shingles, s ->
      |        CAST(('0x' || substr(md5(concat(s, '|', i // 4)),
      |          1 + 8 * (i % 4), 8)) AS BIGINT)))) AS sig
      |  FROM sh),
      |bands AS (
      |  SELECT doc_id, b.band,
      |    md5(concat(CAST(sig[b.band*2+1] AS VARCHAR), '_',
      |      CAST(sig[b.band*2+2] AS VARCHAR))) AS bsig
      |  FROM mh, (SELECT unnest(range(0,4)) AS band) b)""".stripMargin
  }

  /** `minhashBandCtes` and `cand`, the distinct pairs sharing a band. */
  def minhashCandidateCtes(from: String, keepShingles: Boolean): String =
    s"""${minhashBandCtes(from, keepShingles)},
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)""".stripMargin

  /** `minhashCandidateCtes` and the recursive `reach`: every doc reachable
    * from each candidate doc over the undirected pair `edges`. */
  def minhashClusterCtes(from: String, keepShingles: Boolean): String =
    s"""${minhashCandidateCtes(from, keepShingles)},
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM cand
      |  UNION SELECT id_b, id_a FROM cand),
      |reach AS (
      |  SELECT a AS node, a AS r FROM edges
      |  UNION
      |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a)""".stripMargin

  /** Oracle CTEs `d`, `pos`, `g`: each document's distinct 19-char runs
    * of its lowercased alphanumerics (19 = k + w - 1 of the Spark side's
    * winnowing parameters). */
  def gram19Ctes: String =
    """d AS (
      |  SELECT doc_id,
      |    regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nt
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, nt,
      |    unnest(generate_series(1, greatest(length(nt) - 18, 0))) AS i
      |  FROM d WHERE length(nt) >= 19),
      |g AS (SELECT DISTINCT doc_id, substr(nt, i, 19) AS gram FROM pos)""".stripMargin

  /** Shared by `pipe_winnow_pairs` and `stream_winnow_pairs`: the
    * independent all-pairs join on shared 19-char runs. */
  def WinnowPairsOracleSql: String =
    s"""WITH $gram19Ctes
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      |FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |GROUP BY 1, 2""".stripMargin

  /** Language-id oracle CTE `sc`: `w`'s rows with each language's
    * stopword hits in `toks` (`s_en`, `s_de`, `s_fr`, `s_es`) and the
    * CJK character count `cjk` of `text`. */
  def langScoreCte: String =
    """sc AS (
      |  SELECT *,
      |    len(list_intersect(toks,
      |      ['the','and','of','to','is','in','that','with'])) AS s_en,
      |    len(list_intersect(toks,
      |      ['der','die','das','und','ist','nicht','ein','mit'])) AS s_de,
      |    len(list_intersect(toks,
      |      ['le','la','les','et','est','une','dans','pour'])) AS s_fr,
      |    len(list_intersect(toks,
      |      ['el','los','las','es','una','que','por','como'])) AS s_es,
      |    length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g'))
      |      AS cjk
      |  FROM w)""".stripMargin

  /** Exact k-means oracle: `SELECT <cols>` ranking each vector of `e`
    * (integer units `v`) against the `centroids` states (unit sums `s`,
    * counts `n`) by exact rational squared distance, ties to the lowest
    * cluster `c`, keeping the nearest (`rk` = 1). `pad` is the indent of
    * the SELECT line; the text ends before the subquery's alias. */
  def nearestCentroid(cols: String, centroids: String, pad: String)
      : String =
    s"""SELECT $cols,
      |$pad  row_number() OVER (PARTITION BY e.id ORDER BY
      |$pad    CAST(list_reduce(list_transform(range(1, 65),
      |$pad      d -> (e.v[d]*i.n - i.s[d])*(e.v[d]*i.n - i.s[d])),
      |$pad      (a, b) -> a + b) AS DOUBLE) / (i.n*i.n), i.c) AS rk
      |${pad}FROM e, $centroids i) WHERE rk = 1""".stripMargin

  /** Exact k-means oracle CTEs over `e` (vector `id`, integer units `v`):
    * `init` seeds `k` centroid states from the lowest ids, then iteration
    * `it` assigns (`a<it>`), sums the members (`m<it>`) and updates the
    * states (`c<it>`); `c<iters>` holds the final centroids. */
  def kmeansCtes(k: Int, iters: Int): String = {
    val steps = (1 to iters).map { it =>
      val prev = if (it == 1) "init" else s"c${it - 1}"
      s"""a$it AS (
        |  SELECT id, v, c FROM (
        |    ${nearestCentroid("e.id, e.v, i.c", prev, "    ")}),
        |m$it AS (
        |  SELECT c, list(sd ORDER BY d) AS s, max(n) AS n FROM (
        |    SELECT a$it.c, t.d, CAST(sum(a$it.v[t.d]) AS BIGINT) AS sd,
        |      CAST(count(*) AS BIGINT) AS n
        |    FROM a$it, unnest(range(1, 65)) AS t(d)
        |    GROUP BY a$it.c, t.d) GROUP BY c),
        |c$it AS (
        |  SELECT i.c, COALESCE(m.s, i.s) AS s, COALESCE(m.n, i.n) AS n
        |  FROM $prev i LEFT JOIN m$it m ON i.c = m.c)""".stripMargin
    }
    s"""init AS (
      |  SELECT row_number() OVER (ORDER BY id) - 1 AS c, v AS s,
      |    CAST(1 AS BIGINT) AS n
      |  FROM (SELECT id, v FROM e ORDER BY id LIMIT $k)),
      |${steps.mkString(",\n")}""".stripMargin
  }

  /** DuckDB CTE `raw`: the text columns of a committed VCF fixture, one
    * row per variant, one column per sample. */
  def vcfReadCte(path: String, skip: Int, samples: Seq[String])
      : String = {
    val cols = samples.map(s => s"'$s':'VARCHAR'").mkString(",")
    s"""raw AS (
       |  SELECT * FROM read_csv('$path', delim='\t', header=false,
       |    skip=$skip,
       |    columns={'contig':'VARCHAR','position':'INTEGER',
       |      'rsid':'VARCHAR','ref':'VARCHAR','alts':'VARCHAR',
       |      'qual':'DOUBLE','filt':'VARCHAR','info':'VARCHAR',
       |      'fmt':'VARCHAR',$cols}))""".stripMargin
  }

  /** DuckDB CTE parsing a committed VCF fixture into one row per
    * (variant, sample) with gt/a1/a2/dp — shared by the genetics oracles. */
  def vcfParseCte(path: String, skip: Int, samples: Seq[String])
      : String = {
    val unions = samples.map(s =>
      s"SELECT contig, position, ref, alts, '$s' AS s, $s AS e FROM raw")
      .mkString("\n  UNION ALL ")
    s"""${vcfReadCte(path, skip, samples)},
       |unp AS ($unions),
       |pq AS (
       |  SELECT contig, position, ref, alts, s,
       |    string_split(e, ':')[1] AS gt,
       |    TRY_CAST(string_split(e, ':')[2] AS INTEGER) AS dp
       |  FROM unp),
       |q AS (
       |  SELECT *,
       |    CASE WHEN gt LIKE '.%' THEN NULL
       |      ELSE CAST(string_split_regex(gt, '[/|]')[1] AS INTEGER)
       |      END AS a1,
       |    CASE WHEN gt LIKE '.%' THEN NULL
       |      ELSE CAST(string_split_regex(gt, '[/|]')[2] AS INTEGER)
       |      END AS a2
       |  FROM pq)""".stripMargin
  }

  /** Shared by `agg_heavy_hitters` (batch) and `stream_heavy_hitters`
    * (Misra-Gries stream state + exact pass): both are exactly the
    * keys with trueCount * 64 > N over the engineered skewed stream. */
  val HeavyHittersOracleSql: String =
    """WITH k AS (
      |  SELECT CASE WHEN event_id % 4 <> 0 THEN 'hot_' || (event_id % 3)
      |              ELSE 'cold_' || event_id END AS key
      |  FROM events)
      |SELECT key, count(*) AS cnt
      |FROM k GROUP BY 1
      |HAVING count(*) * 64 > (SELECT count(*) FROM k)""".stripMargin

  /** Shared by `pipe_temperature_mix` (batch) and
    * `stream_temperature_mix` (the stateless streaming guard — same
    * rates, same integer md5 predicate, so the stream's complete
    * replay equals the batch answer row-for-row). */
  val TemperatureMixOracleSql: String =
    """WITH c AS (
      |  SELECT lang AS s, CAST(count(*) AS BIGINT) AS n
      |  FROM documents GROUP BY 1),
      |c2 AS (
      |  SELECT s, n,
      |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 2000000) AS BIGINT) AS s0,
      |    CAST(n AS HUGEINT) * 4000000000000 AS m
      |  FROM c),
      |c3 AS (
      |  SELECT s, n,
      |    ((s0 + (CASE
      |        WHEN CAST(s0 + 1 AS HUGEINT) * CAST(s0 + 1 AS HUGEINT) <= m
      |          THEN 1
      |        WHEN CAST(s0 AS HUGEINT) * CAST(s0 AS HUGEINT) > m THEN -1
      |        ELSE 0 END)) + 1) // 2 AS pu
      |  FROM c2),
      |z AS (SELECT CAST(sum(pu) AS HUGEINT) AS z FROM c3),
      |kk AS (SELECT count(*) // 10 AS k FROM documents),
      |r AS (
      |  SELECT s, least(1000, CAST(
      |    (2000 * CAST((SELECT k FROM kk) AS HUGEINT) * pu
      |       + (SELECT z FROM z) * n)
      |    // (2 * (SELECT z FROM z) * n) AS BIGINT)) AS ppt
      |  FROM c3)
      |SELECT d.doc_id, d.lang
      |FROM documents d JOIN r ON d.lang = r.s
      |WHERE CAST(('0x' || substr(md5('tmix|' || CAST(doc_id AS VARCHAR)),
      |    1, 15)) AS BIGINT) % 1000 < r.ppt""".stripMargin

  val ExactDecontamOracleSql: String =
    """WITH bench AS (
      |  SELECT substr(text, 21, 200) AS text
      |  FROM documents WHERE doc_id % 97 = 3),
      |bt AS (
      |  SELECT string_split_regex(lower(text), ' +') AS w FROM bench),
      |bg AS (
      |  SELECT DISTINCT CAST(('0x' || substr(md5('decon|' || g), 1, 15))
      |    AS BIGINT) AS h
      |  FROM (SELECT unnest(list_transform(range(1, len(w) - 6),
      |      j -> array_to_string(w[j:j+7], ' '))) AS g
      |    FROM bt WHERE len(w) >= 8)),
      |ct AS (
      |  SELECT doc_id, string_split_regex(lower(text), ' +') AS w
      |  FROM documents),
      |cg AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5('decon|' || g), 1, 15))
      |    AS BIGINT) AS h
      |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(w) - 6),
      |      j -> array_to_string(w[j:j+7], ' '))) AS g
      |    FROM ct WHERE len(w) >= 8))
      |SELECT doc_id, count(*) AS n_hits,
      |  count(DISTINCT h) AS n_distinct
      |FROM cg JOIN bg USING (h) GROUP BY doc_id""".stripMargin

  /** `vcfReadCte` over the 5-sample fixture `vcfFixture`. */
  def vcfRawCte: String =
    vcfReadCte(vcfFixture, 7, (1 to 5).map(i => s"S$i"))

  /** Shared oracle for `vcf_import` and every gate that must restore its
    * projection (`genotypeDump`). */
  def VcfImportOracleSql: String =
      raw"""WITH $vcfRawCte,
        |unp AS (
        |  SELECT contig, position, ref, alts, qual, info, 'S1' AS s, S1 AS e
        |    FROM raw
        |  UNION ALL SELECT contig, position, ref, alts, qual, info, 'S2', S2
        |    FROM raw
        |  UNION ALL SELECT contig, position, ref, alts, qual, info, 'S3', S3
        |    FROM raw
        |  UNION ALL SELECT contig, position, ref, alts, qual, info, 'S4', S4
        |    FROM raw
        |  UNION ALL SELECT contig, position, ref, alts, qual, info, 'S5', S5
        |    FROM raw),
        |p AS (
        |  SELECT contig, position, ref, alts, qual,
        |    TRY_CAST(NULLIF(regexp_extract(info, 'DP=(\d+)', 1), '')
        |      AS INTEGER) AS info_dp,
        |    TRY_CAST(NULLIF(regexp_extract(info, 'AC=(\d+)', 1), '')
        |      AS INTEGER) AS info_ac,
        |    s,
        |    string_split(e, ':')[1] AS gt,
        |    TRY_CAST(string_split(e, ':')[2] AS INTEGER) AS dp
        |  FROM unp)
        |SELECT contig, position, ref, alts, qual, info_dp, info_ac, s,
        |  CAST(string_split_regex(gt, '[/|]')[1] AS INTEGER) AS a1,
        |  CAST(string_split_regex(gt, '[/|]')[2] AS INTEGER) AS a2,
        |  contains(gt, '|') AS phased, dp
        |FROM p WHERE gt NOT LIKE '.%'""".stripMargin
}
