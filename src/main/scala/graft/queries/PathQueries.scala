package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{BidsPath, TextFunctions}
import graft.operators.{Catalog, Eav, ProtocolMatcher, SessionResolver}
import graft.queries.Tables.table

/** Remaining SURVEY §2 coverage: J9 EAV-hash semi-join, A9 insertion
  * summary report, the patient-name decoder hook, and the BIDS filename
  * builder — each oracle-checked.
  */
object PathQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // J9 EAV hash semi-join (python/lib/db/queries/file.py:59-63): docs
    // whose content fingerprint appears under more than one source —
    // the "find file by hash value" lookup, set-oriented
    // EAV vertical end-to-end (SURVEY hard-part 5): BIDS-named long params
    // -> Alias->Name remap (imaging.py:531-553) -> typed store rows ->
    // read-all-params (File.pm:113) -> declared-set pivot, each lookup
    // against the one collected dictionary. The oracle
    // is the pipeline's algebraic collapse: SELECT key, brand, size FROM
    // part — an identity the whole EAV round-trip must reproduce.
    "q52_eav_pivot" -> { (s, dir) =>
      import s.implicits._
      val part = table(s, dir, "part")
      val bidsLong = part.selectExpr("p_partkey AS FileID",
        "stack(4, 'Brand', p_brand, 'Type', p_type, 'Size', CAST(p_size AS STRING), 'PartName', p_name) AS (Name, Value)")
      val pt = Eav.parameterTypes(Seq(
        (101L, "acq:brand", Some("Brand")),
        (102L, "acq:type", Option.empty[String]),
        (103L, "acq:size", Some("Size")),
        (104L, "acq:container", Option.empty[String])
      ).toDF("ParameterTypeID", "Name", "Alias"))
      val withLoris = Eav.bidsToLorisRemap(bidsLong, pt)
      // only dictionary-known names land in the store (insert-known-params)
      val store = Eav.insertKnownParams(withLoris, pt)
      Eav.pivotParams(Eav.readParams(store, pt), Seq("acq:brand", "acq:size"))
    },

    // Delete-cascade vertical (delete_imaging_upload.pl:885-1146): a
    // lineage fixture derived from orders/lineitem — linenumber-1 items are
    // "direct files" of the customer's archive, later linenumbers are
    // intermediary outputs of linenumber 1 — cascaded from the lowest
    // orderkey's upload. Output = the parameter_file rows to delete
    // (exercises seed -> semi fan-out -> J8 lineage -> U1 union-dedup).
    "q53_delete_cascade" -> { (s, dir) =>
      val orders = table(s, dir, "orders")
      val li = table(s, dir, "lineitem")
      val files = li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .select(
          (col("l_orderkey") * 8 + col("l_linenumber")).as("FileID"),
          when(col("l_linenumber") === 1, col("o_custkey")).as("TarchiveSource"),
          when(col("l_linenumber") > 1, col("l_orderkey") * 8 + 1).as("SourceFileID"))
        // testdata lineitem repeats (orderkey, linenumber) pairs; every
        // derived column is functionally determined by them, so distinct()
        // is a deterministic key-dedup for the fixture
        .distinct()
      val fi = files.filter(col("SourceFileID").isNotNull)
        .select(col("FileID").as("IntermedID"), col("SourceFileID").as("Input_FileID"),
          col("FileID").as("Output_FileID"))
      val pf = files.select((col("FileID") * 2).as("ParameterFileID"), col("FileID"))
      val up = orders.select(col("o_orderkey").as("UploadID"), col("o_custkey").as("TarchiveID"))
      val uploadId = orders.agg(min(col("o_orderkey"))).first().getLong(0)
      graft.operators.DeleteCascade.deleteImagingUpload(
        Map("mri_upload" -> up, "files" -> files,
          "files_intermediary" -> fi, "parameter_file" -> pf),
        uploadId)("parameter_file")
    },

    // The parameter-store ⋈ archive-catalog join under the reference's
    // Zipfian reality (one mega-site owns most of parameter_file):
    // per-lineitem EAV rows key by a TarchiveID that collapses 90% of
    // customers into site 0, then SkewJoin.autoJoin audits the key
    // distribution (one 1-row statistics read), salts the flagged hot
    // key, and joins the (too-big-to-broadcast-at-scale) archive dim.
    // Result equality with the plain join is the operator's contract —
    // the DuckDB oracle pins it — and at this fixture the salted branch
    // IS the branch taken (the audit flags key 0 at ~90% mass), so the
    // correctness row exercises the salt path, not the fallback.
    "q253_skewed_param_join" -> { (s, dir) =>
      val li = table(s, dir, "lineitem")
      val orders = table(s, dir, "orders")
      val params = li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .select(
          (col("l_orderkey") * 8 + col("l_linenumber")).as("ParameterFileID"),
          when(col("o_custkey") % 100 < 90, lit(0L))
            .otherwise(col("o_custkey")).as("TarchiveID"),
          col("l_quantity").cast("long").as("Value"))
      val archives = table(s, dir, "customer")
        .select(
          when(col("c_custkey") % 100 < 90, lit(0L))
            .otherwise(col("c_custkey")).as("TarchiveID"),
          col("c_nationkey"))
        .groupBy(col("TarchiveID"))
        .agg(min(col("c_nationkey")).as("SiteNation"))
      graft.operators.SkewJoin
        .autoJoin(params, archives, Seq("TarchiveID"))
        .groupBy(col("TarchiveID"), col("SiteNation"))
        .agg(count(lit(1)).as("n_params"), sum(col("Value")).as("sum_value"))
    },

    "q37_eav_hash_semijoin" -> { (s, dir) =>
      // fingerprint computed ONCE before the hash exchange; the semi-join
      // becomes a windowed distinct-source count over the h partitioning
      // (one shuffle total, no re-read of the expensive hash subtree)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
      Tables.spreadIfSmall(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.docFingerprint(col("text"), 5).as("h"))
        .withColumn("ns", size(collect_set(col("source")).over(w)))
        .filter(col("ns") > 1)
        .select("doc_id", "source")
    },

    // A9 insertion summary (dicom_archive_loader_pipeline.py:429-470):
    // per-archive routing counts + ordered joined name list
    "q38_insertion_summary" -> { (s, dir) =>
      ProtocolMatcher.identify(
        DomainQueries.partAsScans(s, dir, "p_brand", "p_name"),
        DomainQueries.protocolFixture(s))
        .groupBy(col("p_brand"))
        .agg(
          count(when(col("protocol_status") === "identified", 1)).as("n_inserted"),
          count(when(col("protocol_status") === "unknown", 1)).as("n_protocol_violated"),
          count(when(col("protocol_status") === "ambiguous", 1)).as("n_ambiguous"),
          concat_ws(", ",
            array_sort(collect_list(
              when(col("protocol_status") =!= "identified", col("p_name")))))
            .as("violated_names"))
    },

    // get_session_config hook (get_session_info.py:87-105): default
    // PSCID_CandID_Visit patient-name decoder
    "q39_patient_decode" -> { (s, dir) =>
      val named = table(s, dir, "customer").select(
        col("c_custkey"),
        concat(col("c_mktsegment"), lit("_"), col("c_custkey"), lit("_V1"))
          .as("patient_name"))
      named.select(
        col("c_custkey"),
        BidsPath.decodePatientName(col("patient_name")).as("d"))
        .select(col("c_custkey"), col("d.pscid").as("pscid"),
          col("d.cand_id").as("cand_id"), col("d.visit_label").as("visit_label"))
    },

    // BIDS filename builder (nifti_insertion_pipeline.py:464-514): fixed
    // entity order, conditional entities skipped when absent
    "q40_bids_filename" -> { (s, dir) =>
      val o = table(s, dir, "orders")
      val entities = map_filter(
        map(
          lit("sub"), col("o_custkey").cast("string"),
          lit("ses"), lower(col("o_orderstatus")),
          lit("acq"), when(col("o_totalprice") > 200000, lit("hi")),
          lit("run"), substring(col("o_orderpriority"), 1, 1)),
        (_, v) => v.isNotNull)
      o.select(
        col("o_orderkey"),
        BidsPath.bidsFilename(entities, lit("T1w"), lit(".nii.gz")).as("filename"))
    },

    // S7 JSON sidecar parsing: from_json over the events props column
    // (nifti_insertion_pipeline.py:255-271 sidecar load)
    "q41_json_sidecar" -> { (s, dir) =>
      CoreQueries.events(s, dir)
        .withColumn("k",
          from_json(col("props"),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.IntegerType))))
            .getField("k"))
        .groupBy(col("event_type"))
        .agg(
          count(col("k")).as("n_with_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          sum(col("k").cast("long")).as("sum_k"))
    },

    // W4 run-number assignment continuing above an existing per-entity max
    // (nifti_insertion_pipeline.py:456-461)
    "q42_run_numbers" -> { (s, dir) =>
      val li = table(s, dir, "lineitem")
      val existing = li.filter(col("l_linenumber") <= 2)
        .select(col("l_orderkey"), col("l_linenumber").as("run_number"))
      val incoming = li.filter(col("l_linenumber") > 2)
        .select(col("l_orderkey"), col("l_linenumber"))
      Catalog.assignRunNumbers(incoming, existing,
        Seq("l_orderkey"), "l_linenumber")
        .select(col("l_orderkey"), col("l_linenumber"), col("run_number"))
    },

    // §2.8 date family: multi-format fallback parse (participants.py:38-51)
    // - render each order date in a row-dependent format, then recover it
    // through the coalesce-of-parses chain
    "q48_multiformat_dates" -> { (s, dir) =>
      val o = table(s, dir, "orders")
      val rendered = o.withColumn("date_str",
        when(col("o_orderkey") % 3 === 0, date_format(col("o_orderdate"), "yyyy-MM-dd"))
          .when(col("o_orderkey") % 3 === 1, date_format(col("o_orderdate"), "yyyyMMdd"))
          .otherwise(date_format(col("o_orderdate"), "dd/MM/yyyy")))
      rendered.select(
        col("o_orderkey"), col("date_str"),
        graft.functions.Dates.multiFormatDate(col("date_str"),
          Seq("yyyy-MM-dd", "yyyyMMdd", "dd/MM/yyyy")).as("parsed"),
        (graft.functions.Dates.multiFormatDate(col("date_str"),
          Seq("yyyy-MM-dd", "yyyyMMdd", "dd/MM/yyyy"))
          === col("o_orderdate").cast("date")).as("roundtrip_ok"))
    },

    // §3.2 session resolution vertical: decode -> candidate validation ->
    // existing-session lookup / next-visit-number, rolled up per outcome
    "q49_session_resolution" -> { (s, dir) =>
      val c = table(s, dir, "customer")
      val scans = c.select(
        col("c_custkey").as("scan_id"),
        concat(
          when(col("c_custkey") % 7 === 0, lit("XX")).otherwise(col("c_mktsegment")),
          lit("_"), col("c_custkey"), lit("_V"), col("c_custkey") % 3 + 1)
          .as("patient_name"))
      val candidates = c.filter(col("c_custkey") < 1200)
        .select(col("c_custkey").as("CandID"), col("c_mktsegment").as("PSCID"))
      val sessions = table(s, dir, "orders")
        .filter(col("o_orderkey") % 10 === 0)
        .groupBy(col("o_custkey").as("CandID"))
        .agg(max(col("o_orderkey") % 7 + 1).cast("int").as("VisitNo"))
        .withColumn("Visit_label", concat(lit("V"), col("VisitNo") % 3 + 1))
      SessionResolver.resolve(scans, candidates, sessions)
        .groupBy(col("resolution"))
        .agg(count(lit(1)).as("n_scans"),
          sum(col("VisitNo").cast("long")).as("sum_visit_no"))
    }
  )

  val oracle: Map[String, String] = Map(
    // the EAV round-trip collapses to this identity (see the query comment)
    "q52_eav_pivot" ->
      """SELECT p_partkey AS FileID,
        |  p_brand AS "acq:brand",
        |  CAST(p_size AS VARCHAR) AS "acq:size"
        |FROM part""".stripMargin,

    // plain-join SQL: autoJoin's contract is exact result equality with
    // the unsalted join, so the oracle needs no salt modeling
    "q253_skewed_param_join" ->
      """WITH params AS (
        |  SELECT l_orderkey*8 + l_linenumber AS ParameterFileID,
        |    CASE WHEN o_custkey % 100 < 90 THEN 0 ELSE o_custkey END
        |      AS TarchiveID,
        |    CAST(l_quantity AS BIGINT) AS Value
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), archives AS (
        |  SELECT CASE WHEN c_custkey % 100 < 90 THEN 0 ELSE c_custkey END
        |      AS TarchiveID,
        |    MIN(c_nationkey) AS SiteNation
        |  FROM customer GROUP BY 1
        |)
        |SELECT TarchiveID, SiteNation,
        |  CAST(COUNT(*) AS BIGINT) AS n_params,
        |  CAST(SUM(Value) AS BIGINT) AS sum_value
        |FROM params JOIN archives USING (TarchiveID)
        |GROUP BY 1, 2""".stripMargin,

    "q53_delete_cascade" ->
      """WITH m AS (SELECT min(o_orderkey) AS uid FROM orders),
        |t AS (SELECT o_custkey AS tid FROM orders, m WHERE o_orderkey = uid),
        |f AS (
        |  SELECT l_orderkey*8 + l_linenumber AS FileID,
        |    CASE WHEN l_linenumber = 1 THEN o_custkey END AS src,
        |    CASE WHEN l_linenumber > 1 THEN l_orderkey*8 + 1 END AS parent
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), direct AS (SELECT FileID FROM f, t WHERE src = tid),
        |intermed AS (SELECT f.FileID FROM f JOIN direct d ON f.parent = d.FileID),
        |all_ids AS (SELECT FileID FROM direct UNION SELECT FileID FROM intermed)
        |SELECT FileID*2 AS ParameterFileID, FileID FROM all_ids""".stripMargin,

    "q37_eav_hash_semijoin" ->
      """WITH toks AS (
        |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, source,
        |    list_min(list_transform(
        |      list_transform(generate_series(1, greatest(len(tk) - 4, 0)),
        |                     i -> array_to_string(tk[i:i+4], ' ')),
        |      s -> CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT))) AS h
        |  FROM toks
        |), dup AS (
        |  SELECT h FROM sh GROUP BY h HAVING COUNT(DISTINCT source) > 1
        |)
        |SELECT doc_id, source FROM sh WHERE h IN (SELECT h FROM dup)""".stripMargin,

    "q38_insertion_summary" ->
      """WITH prot(stype, regex, tr_min, tr_max, time_min) AS (
        |  VALUES (201, NULL, 900.005, 1200.005, NULL),
        |         (202, 'brass', NULL, NULL, NULL),
        |         (203, NULL, NULL, NULL, 40.0)
        |), scans AS (
        |  SELECT p_partkey AS scan_id, p_brand, p_name, p_type AS descr,
        |         (p_retailprice/1000)*1000 AS tr_ms, CAST(p_size AS DOUBLE) AS tval
        |  FROM part
        |), m AS (
        |  SELECT scan_id, stype FROM scans CROSS JOIN prot
        |  WHERE CASE WHEN regex IS NOT NULL THEN regexp_matches(descr, regex, 'i')
        |        ELSE ((tr_min IS NULL AND tr_max IS NULL)
        |              OR (tr_ms IS NOT NULL AND (tr_min IS NULL OR tr_ms >= tr_min)
        |                  AND (tr_max IS NULL OR tr_ms <= tr_max)))
        |         AND ((time_min IS NULL) OR (tval IS NOT NULL AND tval >= time_min))
        |        END
        |), agg AS (
        |  SELECT s.scan_id, s.p_brand, s.p_name, COUNT(DISTINCT m.stype) AS n
        |  FROM scans s LEFT JOIN m ON s.scan_id = m.scan_id
        |  GROUP BY s.scan_id, s.p_brand, s.p_name
        |)
        |SELECT p_brand,
        |  COUNT(*) FILTER (WHERE n = 1) AS n_inserted,
        |  COUNT(*) FILTER (WHERE n = 0) AS n_protocol_violated,
        |  COUNT(*) FILTER (WHERE n > 1) AS n_ambiguous,
        |  COALESCE(string_agg(CASE WHEN n <> 1 THEN p_name END, ', '
        |                      ORDER BY CASE WHEN n <> 1 THEN p_name END), '')
        |    AS violated_names
        |FROM agg GROUP BY p_brand""".stripMargin,

    "q39_patient_decode" ->
      """WITH named AS (
        |  SELECT c_custkey,
        |    c_mktsegment || '_' || CAST(c_custkey AS VARCHAR) || '_V1' AS patient_name
        |  FROM customer
        |)
        |SELECT c_custkey,
        |  regexp_extract(patient_name, '^([^_]+)_([^_]+)_(.+)$', 1) AS pscid,
        |  regexp_extract(patient_name, '^([^_]+)_([^_]+)_(.+)$', 2) AS cand_id,
        |  regexp_extract(patient_name, '^([^_]+)_([^_]+)_(.+)$', 3) AS visit_label
        |FROM named""".stripMargin,

    "q40_bids_filename" ->
      """SELECT o_orderkey,
        |  'sub-' || CAST(o_custkey AS VARCHAR)
        |  || '_ses-' || lower(o_orderstatus)
        |  || CASE WHEN o_totalprice > 200000 THEN '_acq-hi' ELSE '' END
        |  || '_run-' || substr(o_orderpriority, 1, 1)
        |  || '_T1w.nii.gz' AS filename
        |FROM orders""".stripMargin,

    "q41_json_sidecar" ->
      """SELECT event_type,
        |  COUNT(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_with_k,
        |  MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type""".stripMargin,

    "q42_run_numbers" ->
      """WITH existing AS (
        |  SELECT l_orderkey, MAX(l_linenumber) AS mx
        |  FROM lineitem WHERE l_linenumber <= 2 GROUP BY l_orderkey
        |), incoming AS (
        |  SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_linenumber > 2
        |)
        |SELECT i.l_orderkey, i.l_linenumber,
        |  COALESCE(e.mx, 0) + CAST(ROW_NUMBER() OVER (
        |    PARTITION BY i.l_orderkey ORDER BY i.l_linenumber) AS INTEGER)
        |    AS run_number
        |FROM incoming i LEFT JOIN existing e ON i.l_orderkey = e.l_orderkey""".stripMargin,

    "q48_multiformat_dates" ->
      """WITH rendered AS (
        |  SELECT o_orderkey, o_orderdate,
        |    CASE WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%Y-%m-%d')
        |         WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%Y%m%d')
        |         ELSE strftime(o_orderdate, '%d/%m/%Y') END AS date_str
        |  FROM orders
        |)
        |SELECT o_orderkey, date_str,
        |  CAST(COALESCE(
        |    try_strptime(date_str, '%Y-%m-%d'),
        |    try_strptime(date_str, '%Y%m%d'),
        |    try_strptime(date_str, '%d/%m/%Y')) AS DATE) AS parsed,
        |  CAST(COALESCE(
        |    try_strptime(date_str, '%Y-%m-%d'),
        |    try_strptime(date_str, '%Y%m%d'),
        |    try_strptime(date_str, '%d/%m/%Y')) AS DATE)
        |    = CAST(o_orderdate AS DATE) AS roundtrip_ok
        |FROM rendered""".stripMargin,

    "q49_session_resolution" ->
      """WITH scans AS (
        |  SELECT c_custkey AS scan_id,
        |    (CASE WHEN c_custkey % 7 = 0 THEN 'XX' ELSE c_mktsegment END)
        |      || '_' || CAST(c_custkey AS VARCHAR)
        |      || '_V' || CAST(c_custkey % 3 + 1 AS VARCHAR) AS patient_name
        |  FROM customer
        |), decoded AS (
        |  SELECT scan_id, patient_name,
        |    regexp_extract(patient_name, '^([^_]+)_([^_]+)_(.+)$', 1) AS pscid,
        |    CAST(regexp_extract(patient_name, '^([^_]+)_([^_]+)_(.+)$', 2) AS INTEGER)
        |      AS cand_id,
        |    regexp_extract(patient_name, '^([^_]+)_([^_]+)_(.+)$', 3) AS visit_label
        |  FROM scans
        |), cand AS (
        |  SELECT c_custkey AS c_cand_id, c_mktsegment AS c_pscid
        |  FROM customer WHERE c_custkey < 1200
        |), sess AS (
        |  SELECT o_custkey AS s_cand_id,
        |    CAST(MAX(o_orderkey % 7 + 1) AS INTEGER) AS visit_no
        |  FROM orders WHERE o_orderkey % 10 = 0 GROUP BY o_custkey
        |), sess_lbl AS (
        |  SELECT s_cand_id, visit_no, 'V' || CAST(visit_no % 3 + 1 AS VARCHAR) AS s_visit
        |  FROM sess
        |), next_no AS (
        |  SELECT s_cand_id, COALESCE(MAX(visit_no), 0) + 1 AS nxt FROM sess_lbl
        |  GROUP BY s_cand_id
        |), joined AS (
        |  SELECT d.*, c.c_cand_id, c.c_pscid, sl.visit_no AS existing_visit_no,
        |    n.nxt
        |  FROM decoded d
        |  LEFT JOIN cand c ON d.cand_id = c.c_cand_id
        |  LEFT JOIN sess_lbl sl
        |    ON d.cand_id = sl.s_cand_id AND d.visit_label = sl.s_visit
        |  LEFT JOIN next_no n ON d.cand_id = n.s_cand_id
        |), res AS (
        |  SELECT *,
        |    CASE WHEN c_cand_id IS NULL THEN 'unknown_candidate'
        |         WHEN c_pscid <> pscid THEN 'candidate_mismatch'
        |         WHEN existing_visit_no IS NOT NULL THEN 'resolved'
        |         ELSE 'new_session' END AS resolution,
        |    CASE WHEN c_cand_id IS NULL THEN NULL
        |         WHEN c_pscid <> pscid THEN NULL
        |         WHEN existing_visit_no IS NOT NULL THEN existing_visit_no
        |         ELSE COALESCE(nxt, 1) END AS visit_assigned
        |  FROM joined
        |)
        |SELECT resolution, COUNT(*) AS n_scans,
        |  CAST(SUM(visit_assigned) AS BIGINT) AS sum_visit_no
        |FROM res GROUP BY resolution""".stripMargin
  )
}
