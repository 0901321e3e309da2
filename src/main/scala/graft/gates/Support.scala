package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

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

  /** DuckDB CTE parsing a committed VCF fixture into one row per
    * (variant, sample) with gt/a1/a2/dp — shared by the genetics oracles. */
  def vcfParseCte(path: String, skip: Int, samples: Seq[String])
      : String = {
    val cols = samples.map(s => s"'$s':'VARCHAR'").mkString(",")
    val unions = samples.map(s =>
      s"SELECT contig, position, ref, alts, '$s' AS s, $s AS e FROM raw")
      .mkString("\n  UNION ALL ")
    s"""raw AS (
       |  SELECT * FROM read_csv('$path', delim='\t', header=false,
       |    skip=$skip,
       |    columns={'contig':'VARCHAR','position':'INTEGER',
       |      'rsid':'VARCHAR','ref':'VARCHAR','alts':'VARCHAR',
       |      'qual':'DOUBLE','filt':'VARCHAR','info':'VARCHAR',
       |      'fmt':'VARCHAR',$cols})),
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

  /** Shared oracle for `vcf_import` and `matrix_write_read`. */
  def VcfImportOracleSql: String =
      raw"""WITH raw AS (
        |  SELECT * FROM read_csv(
        |    '${Fixtures.path("oracle_sample.vcf")}',
        |    delim='\t', header=false, skip=7,
        |    columns={'contig':'VARCHAR','position':'INTEGER',
        |      'rsid':'VARCHAR','ref':'VARCHAR','alts':'VARCHAR',
        |      'qual':'DOUBLE','filt':'VARCHAR','info':'VARCHAR',
        |      'fmt':'VARCHAR','S1':'VARCHAR','S2':'VARCHAR','S3':'VARCHAR',
        |      'S4':'VARCHAR','S5':'VARCHAR'})),
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
