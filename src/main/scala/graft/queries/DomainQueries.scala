package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{Catalog, DicomSummary, ProtocolMatcher}
import graft.queries.Tables.table

/** Oracle-checked queries that drive the Loris-domain operators
  * (SURVEY.md §2.2 J4/J5, §2.4 A6/A10) over the driver's testdata: the
  * `part` table plays the scan catalog, an inline protocol/checks fixture
  * plays `mri_protocol` / `mri_protocol_checks`, and the DuckDB oracle
  * re-derives the same semantics in ANSI SQL.
  */
object DomainQueries {

  /** part → scan mapping: p_size plays `time`, p_retailprice/1000 plays
    * RepetitionTime (so the engine's s→ms ×1000 scaling recovers it),
    * p_type plays SeriesDescription; the `carry` columns of part ride
    * along unchanged. */
  private[queries] def partAsScans(s: SparkSession, dir: String,
      carry: String*): DataFrame =
    ProtocolMatcher.padScanCols(
      table(s, dir, "part").select(Seq(
        col("p_partkey").as("scan_id"),
        col("p_type").as("SeriesDescription"),
        (col("p_retailprice") / 1000).as("RepetitionTime"),
        col("p_size").cast("double").as("time")
      ) ++ carry.map(col): _*))

  private[queries] def protocolFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    ProtocolMatcher.padProtocolCols(
      Seq(
        // (id, group, scanType, regex,        TR_min,        TR_max,       time_min)
        (1, 1, 201, None: Option[String], Some(900.005), Some(1200.005), None: Option[Double]),
        (2, 1, 202, Some("brass"), None, None, None),
        (3, 1, 203, None, None, None, Some(40.0))
      ).toDF("MriProtocolID", "MriProtocolGroupID", "MriScanTypeID",
        "series_description_regex", "TR_min", "TR_max", "time_min"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // J4+J5: the protocol-identification engine end-to-end, rolled up per
    // routing status (python/lib/imaging.py:639-704, mri_protocol.py:56-69)
    "q17_protocol_identification" -> { (s, dir) =>
      ProtocolMatcher.identify(partAsScans(s, dir), protocolFixture(s))
        .groupBy(col("protocol_status"), col("MriScanTypeID"))
        .agg(count(lit(1)).as("n_scans"))
    },

    // A6+P5/P4: the extra-checks engine: per-header OR-across-checks
    // evaluation with warning/exclude severities (python/lib/imaging.py:706-809)
    "q18_protocol_checks" -> { (s, dir) =>
      import s.implicits._
      val scansWithType = table(s, dir, "part").select(
        col("p_partkey").as("scan_id"),
        lit(201).as("MriScanTypeID"),
        lit(null).cast("int").as("ProjectID"),
        lit(null).cast("int").as("CohortID"),
        lit(null).cast("string").as("Visit_label")
      )
      val params = table(s, dir, "part").select(
        col("p_partkey").as("scan_id"),
        explode(map(
          lit("p_size"), col("p_size").cast("string"),
          lit("p_name"), col("p_name")
        )).as(Seq("header", "value"))
      )
      val checks = Seq(
        // (ID, group, scanType, header, severity, min, max, regex)
        (1, 900, 201, "p_size", "warning", Some(10.0), Some(25.0), None: Option[String]),
        (2, 900, 201, "p_size", "warning", Some(35.0), None, None),
        (3, 900, 201, "p_size", "exclude", Some(2.0), None, None),
        (4, 900, 201, "p_name", "exclude", None, None, Some("green|blue"))
      ).toDF("ID", "MriProtocolChecksGroupID", "MriScanTypeID", "Header",
        "Severity", "ValidMin", "ValidMax", "ValidRegex")
        .withColumn("ProjectID", lit(null).cast("int"))
        .withColumn("CohortID", lit(null).cast("int"))
        .withColumn("Visit_label", lit(null).cast("string"))
      ProtocolMatcher.runExtraChecks(scansWithType, params, checks)
        .select(col("scan_id"), col("Header"), col("Severity"), col("Value"),
          col("MriProtocolChecksGroupID"))
    },

    // J10 get-or-create: dictionary extended with unseen natural keys, new
    // ids = max(existing) + dense_rank (python/lib/database.py:210-253)
    "q19_get_or_create" -> { (s, dir) =>
      val part = table(s, dir, "part")
      val existing = part.filter(col("p_size") <= 10).select(col("p_brand")).distinct()
      // distinct brands -> global ordinal == dense_rank, assigned without an
      // unpartitioned Window (see Ordinals)
      val dict = graft.functions.Ordinals
        .withGlobalOrdinal(existing, Seq(col("p_brand")), "brand_id")
      Catalog.getOrCreate(dict.select(col("brand_id"), col("p_brand")),
        part, Seq("p_brand"), "brand_id")
    },

    // dicomSummary.pl -dbcompare diff report (dicomSummary.pl:106-107,
    // 229-254): directory summary vs DB-archived summary as a full-outer
    // join + long-form mismatch projection. Fixtures derive from part:
    // the "directory" side drops keys ≡3 (mod 11), the "DB" side drops
    // keys ≡5 (mod 13) and perturbs p_size for keys ≡0 (mod 7) — so
    // missing_left / missing_right / field_diff all populate at every sf
    "q278_summary_dbcompare" -> { (s, dir) =>
      val base = table(s, dir, "part")
        .select(col("p_partkey"), col("p_type"), col("p_size"), col("p_brand"))
      val dirSum = base.filter(pmod(col("p_partkey"), lit(11)) =!= 3)
      val dbSum = base.filter(pmod(col("p_partkey"), lit(13)) =!= 5)
        .withColumn("p_size",
          when(pmod(col("p_partkey"), lit(7)) === 0, col("p_size") + 1)
            .otherwise(col("p_size")))
      DicomSummary.compareSummaries(dirSum, dbSum, Seq("p_partkey"),
        Seq("p_type", "p_size", "p_brand"))
    },

    // A11 age-at-scan: reference formula years + months/12 + days/365 with
    // raw component differences (summary_write.py:147-163)
    "q20_age_at_scan" -> { (s, dir) =>
      table(s, dir, "orders")
        .join(table(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(
          col("o_orderkey"), col("l_linenumber"),
          DicomSummary.ageAtScan(col("l_shipdate"), col("o_orderdate")).as("age_years")
        )
    }
  )

  val oracle: Map[String, String] = Map(
    "q17_protocol_identification" ->
      """WITH prot(stype, regex, tr_min, tr_max, time_min) AS (
        |  VALUES (201, NULL, 900.005, 1200.005, NULL),
        |         (202, 'brass', NULL, NULL, NULL),
        |         (203, NULL, NULL, NULL, 40.0)
        |), scans AS (
        |  SELECT p_partkey AS scan_id, p_type AS descr,
        |         (p_retailprice/1000)*1000 AS tr_ms,
        |         CAST(p_size AS DOUBLE) AS tval
        |  FROM part
        |), m AS (
        |  SELECT scan_id, stype FROM scans CROSS JOIN prot
        |  WHERE CASE WHEN regex IS NOT NULL THEN regexp_matches(descr, regex, 'i')
        |        ELSE ((tr_min IS NULL AND tr_max IS NULL)
        |              OR (tr_ms IS NOT NULL
        |                  AND (tr_min IS NULL OR tr_ms >= tr_min)
        |                  AND (tr_max IS NULL OR tr_ms <= tr_max)))
        |         AND ((time_min IS NULL)
        |              OR (tval IS NOT NULL AND tval >= time_min))
        |        END
        |), agg AS (
        |  SELECT s.scan_id, COUNT(DISTINCT m.stype) AS n, MIN(m.stype) AS st
        |  FROM scans s LEFT JOIN m ON s.scan_id = m.scan_id
        |  GROUP BY s.scan_id
        |)
        |SELECT CASE WHEN n = 0 THEN 'unknown' WHEN n > 1 THEN 'ambiguous'
        |            ELSE 'identified' END AS "protocol_status",
        |       CASE WHEN n = 1 THEN st END AS "MriScanTypeID",
        |       COUNT(*) AS "n_scans"
        |FROM agg GROUP BY 1, 2""".stripMargin,

    "q18_protocol_checks" ->
      """WITH checks(id, grp, stype, header, sev, vmin, vmax, vregex) AS (
        |  VALUES (1, 900, 201, 'p_size', 'warning', 10.0, 25.0, NULL),
        |         (2, 900, 201, 'p_size', 'warning', 35.0, NULL, NULL),
        |         (3, 900, 201, 'p_size', 'exclude', 2.0, NULL, NULL),
        |         (4, 900, 201, 'p_name', 'exclude', NULL, NULL, 'green|blue')
        |), params AS (
        |  SELECT p_partkey AS scan_id, 'p_size' AS header,
        |         CAST(p_size AS VARCHAR) AS value, CAST(p_size AS DOUBLE) AS num
        |  FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'p_name', p_name, NULL FROM part
        |), ev AS (
        |  SELECT scan_id, header, sev, value, MIN(grp) AS grp,
        |    COALESCE(BOOL_OR(CASE
        |      WHEN (vmin IS NOT NULL AND vmin <> 0) OR (vmax IS NOT NULL AND vmax <> 0)
        |      THEN num IS NOT NULL
        |           AND (vmin IS NULL OR vmin = 0 OR num >= vmin)
        |           AND (vmax IS NULL OR vmax = 0 OR num <= vmax) END), TRUE) AS pass_range,
        |    COALESCE(BOOL_OR(CASE WHEN vregex IS NOT NULL AND vregex <> ''
        |      THEN regexp_matches(value, vregex, 'i') END), TRUE) AS pass_regex
        |  FROM checks JOIN params USING (header)
        |  GROUP BY scan_id, header, sev, value
        |)
        |SELECT scan_id, header AS "Header", sev AS "Severity",
        |       value AS "Value", grp AS "MriProtocolChecksGroupID"
        |FROM ev WHERE NOT (pass_range AND pass_regex)""".stripMargin,

    "q19_get_or_create" ->
      """WITH existing AS (
        |  SELECT DISTINCT p_brand FROM part WHERE p_size <= 10
        |), ex_ids AS (
        |  SELECT p_brand, CAST(DENSE_RANK() OVER (ORDER BY p_brand) AS BIGINT) AS brand_id
        |  FROM existing
        |), novel AS (
        |  SELECT DISTINCT p_brand FROM part
        |  WHERE p_brand NOT IN (SELECT p_brand FROM existing)
        |), mx AS (SELECT COALESCE(MAX(brand_id), 0) AS m FROM ex_ids)
        |SELECT brand_id, p_brand FROM ex_ids
        |UNION ALL
        |SELECT m + CAST(DENSE_RANK() OVER (ORDER BY p_brand) AS BIGINT), p_brand
        |FROM novel, mx""".stripMargin,

    // string-compared field diff (the rendered meta-file line is what the
    // reference sdiffs), same fixture derivation as the Spark side
    "q278_summary_dbcompare" ->
      """WITH l AS (
        |  SELECT p_partkey AS k, p_type, p_size, p_brand FROM part
        |  WHERE p_partkey % 11 <> 3
        |), r AS (
        |  SELECT p_partkey AS k, p_type,
        |    CASE WHEN p_partkey % 7 = 0 THEN p_size + 1 ELSE p_size END
        |      AS p_size, p_brand
        |  FROM part WHERE p_partkey % 13 <> 5
        |), j AS (
        |  SELECT COALESCE(l.k, r.k) AS p_partkey,
        |    l.k IS NOT NULL AS lp, r.k IS NOT NULL AS rp,
        |    CAST(l.p_type AS VARCHAR) AS lt, CAST(r.p_type AS VARCHAR) AS rt,
        |    CAST(l.p_size AS VARCHAR) AS ls, CAST(r.p_size AS VARCHAR) AS rs,
        |    CAST(l.p_brand AS VARCHAR) AS lb, CAST(r.p_brand AS VARCHAR) AS rb
        |  FROM l FULL OUTER JOIN r ON l.k = r.k
        |), x AS (
        |  SELECT p_partkey, 'p_type' AS field, lt AS left_value,
        |    rt AS right_value, lp, rp FROM j
        |  UNION ALL SELECT p_partkey, 'p_size', ls, rs, lp, rp FROM j
        |  UNION ALL SELECT p_partkey, 'p_brand', lb, rb, lp, rp FROM j
        |)
        |SELECT p_partkey, field, left_value, right_value,
        |  CASE WHEN NOT lp THEN 'missing_left'
        |       WHEN NOT rp THEN 'missing_right'
        |       WHEN left_value IS DISTINCT FROM right_value
        |         THEN 'field_diff'
        |       ELSE 'match' END AS status
        |FROM x
        |WHERE NOT (lp AND rp
        |  AND left_value IS NOT DISTINCT FROM right_value)""".stripMargin,

    // integer-scaled rounding (N/4380 cents via floor((N*100+2190)/4380)) —
    // must mirror DicomSummary.ageAtScan exactly; see its comment
    "q20_age_at_scan" ->
      """WITH n AS (
        |  SELECT o_orderkey, l_linenumber,
        |    4380 * (EXTRACT(year FROM l_shipdate) - EXTRACT(year FROM o_orderdate))
        |    + 365 * (EXTRACT(month FROM l_shipdate) - EXTRACT(month FROM o_orderdate))
        |    + 12 * (EXTRACT(day FROM l_shipdate) - EXTRACT(day FROM o_orderdate)) AS num
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |)
        |SELECT o_orderkey, l_linenumber,
        |  CAST(floor((num * 100 + 2190) / 4380.0) AS DOUBLE) / 100.0 AS age_years
        |FROM n""".stripMargin
  )
}
