package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType
import graft.functions.Predicates._

/** Acquisition-protocol identification engine.
  *
  * Re-expresses the reference's per-scan Python loop as one projection:
  * every scan row evaluates the eligibility and match predicates against
  * the collected protocol table, then applies the group-ambiguity and
  * scan-type-ambiguity rules to the distinct groups and types it found.
  *
  * Reference semantics (cited file:line):
  *  - eligibility: `python/lib/database_lib/mri_protocol.py:56-69` —
  *    `(CenterID = c AND ScannerID = s) OR (CenterID IS NULL AND ScannerID IS
  *    NULL)`, and per target dimension: scan value present → `(tgt IS NULL OR
  *    tgt = v)`, scan value absent → `tgt IS NULL`.
  *  - group ambiguity: `python/lib/imaging.py:577-594` — >1 eligible
  *    MriProtocolGroupID → unidentifiable (ambiguous_group); 0 → no_group.
  *  - protocol match: `python/lib/imaging.py:658-704` — if
  *    `series_description_regex` set, the regex (case-insensitive, search
  *    semantics) alone decides; else conjunction of `in_range` checks over
  *    (time, TR, TE, TI, x/y/zstep, x/y/zspace, slice_thickness) with scan
  *    TR/TE/TI scaled s→ms (×1000), plus equality on
  *    PhaseEncodingDirection / EchoNumber / image_type when the protocol
  *    sets them (falsy protocol value = unconstrained).
  *  - resolution: `python/lib/imaging.py:654-666` — distinct matching scan
  *    types; 0 → unknown, >1 → ambiguous, 1 → identified (the Python
  *    pipeline's collect-all semantics, not Perl's first-match).
  *
  * Scale posture: protocol tables are O(10²) rows, so [[identify]]
  * collects them on the driver into one typed array literal and filters
  * it per scan row. The scan side stays a narrow, partition-parallel
  * projection: no join, no aggregation and no exchange of its own, and
  * its analysis does not grow with the protocol count.
  */
object ProtocolMatcher {

  /** Range dimensions: (scan column, protocol min column, protocol max
    * column, scale applied to the scan value before comparison). */
  val rangeDims: Seq[(String, String, String, Double)] = Seq(
    ("time", "time_min", "time_max", 1.0),
    ("RepetitionTime", "TR_min", "TR_max", 1000.0),
    ("EchoTime", "TE_min", "TE_max", 1000.0),
    ("InversionTime", "TI_min", "TI_max", 1000.0),
    ("xstep", "xstep_min", "xstep_max", 1.0),
    ("ystep", "ystep_min", "ystep_max", 1.0),
    ("zstep", "zstep_min", "zstep_max", 1.0),
    ("xspace", "xspace_min", "xspace_max", 1.0),
    ("yspace", "yspace_min", "yspace_max", 1.0),
    ("zspace", "zspace_min", "zspace_max", 1.0),
    ("slice_thickness", "slice_thickness_min", "slice_thickness_max", 1.0)
  )

  private val protocolCols = Seq(
    "MriProtocolID", "MriProtocolGroupID", "CenterID", "ScannerID",
    "MriScanTypeID", "series_description_regex",
    "PhaseEncodingDirection", "EchoNumber", "image_type",
    "ProjectID", "CohortID", "Visit_label"
  ) ++ rangeDims.flatMap { case (_, mn, mx, _) => Seq(mn, mx) }

  /** String "unset" test mirroring Python falsiness (`not db_prot[x]`). */
  private def unsetStr(c: Column): Column = c.isNull || c === ""

  /** The eligibility predicate (J4); `p` reads a protocol column. */
  def eligibility(p: String => Column): Column = {
    val centerScanner =
      (p("CenterID") === col("CenterID") && p("ScannerID") === col("ScannerID")) ||
        (p("CenterID").isNull && p("ScannerID").isNull)
    def target(dim: String): Column =
      when(col(dim).isNull, p(dim).isNull)
        .otherwise(p(dim).isNull || p(dim) === col(dim))
    centerScanner && target("ProjectID") && target("CohortID") && target("Visit_label")
  }

  /** The per-protocol match predicate (J5); `p` reads a protocol column. */
  def paramMatch(p: String => Column): Column = {
    val ranges = rangeDims.map { case (scanCol, mn, mx, scale) =>
      val v = if (scale == 1.0) col(scanCol) else col(scanCol) * scale
      inRange(v, p(mn), p(mx))
    }.reduce(_ && _)
    val equalities =
      (unsetStr(p("PhaseEncodingDirection")) ||
        col("PhaseEncodingDirection") === p("PhaseEncodingDirection")) &&
        (unsetStr(p("EchoNumber")) ||
          col("EchoNumber") === p("EchoNumber").cast("int")) &&
        (unsetStr(p("image_type")) || col("ImageType") === p("image_type"))
    when(!unsetStr(p("series_description_regex")),
      ciRegex(col("SeriesDescription"), p("series_description_regex")))
      .otherwise(ranges && equalities)
  }

  private val protocolColTypes: Map[String, String] = Map(
    "MriProtocolID" -> "int", "MriProtocolGroupID" -> "int",
    "CenterID" -> "int", "ScannerID" -> "int", "MriScanTypeID" -> "int",
    "series_description_regex" -> "string", "PhaseEncodingDirection" -> "string",
    "EchoNumber" -> "string", "image_type" -> "string", "ProjectID" -> "int",
    "CohortID" -> "int", "Visit_label" -> "string"
  ) ++ rangeDims.flatMap { case (_, mn, mx, _) => Seq(mn -> "double", mx -> "double") }

  private val scanColTypes: Map[String, String] = Map(
    "SeriesDescription" -> "string", "ImageType" -> "string",
    "PhaseEncodingDirection" -> "string", "EchoNumber" -> "int",
    "CenterID" -> "int", "ScannerID" -> "int", "ProjectID" -> "int",
    "CohortID" -> "int", "Visit_label" -> "string"
  ) ++ rangeDims.map { case (c, _, _, _) => c -> "double" }

  private def pad(df: DataFrame, types: Map[String, String]): DataFrame = {
    val missing = types.filterNot { case (c, _) => df.columns.contains(c) }
    if (missing.isEmpty) df
    else df.select(col("*") +: missing.map { case (c, tpe) =>
      lit(null).cast(tpe).as(c) }.toSeq: _*)
  }

  /** Add any missing protocol columns as typed NULLs (a sparse fixture or
    * catalog dump only needs the columns it actually constrains). */
  def padProtocolCols(df: DataFrame): DataFrame = pad(df, protocolColTypes)

  /** Add any missing scan columns as typed NULLs. */
  def padScanCols(df: DataFrame): DataFrame = pad(df, scanColTypes)

  /** Identify the acquisition protocol of every scan.
    *
    * @param scans     one row per scan; columns: `scan_id` + SeriesDescription,
    *                  RepetitionTime/EchoTime/InversionTime (seconds),
    *                  slice_thickness, time, x/y/zstep, x/y/zspace, ImageType,
    *                  PhaseEncodingDirection, EchoNumber (int), and session
    *                  columns CenterID, ScannerID, ProjectID, CohortID,
    *                  Visit_label (all nullable)
    * @param protocols `mri_protocol ⋈ mri_protocol_group_target` rows,
    *                  collected on the driver
    * @return one row per input scan row with a non-null `scan_id`, as the
    *         reference returns one result per file: its scan columns +
    *         (`MriScanTypeID` nullable int, `MriProtocolGroupID` nullable
    *         int, `protocol_status` in {identified, unknown, ambiguous,
    *         ambiguous_group, no_group})
    */
  def identify(scans: DataFrame, protocols: DataFrame): DataFrame = {
    val prot = protocols.select(protocolCols.map(col): _*)
    val rows = GraftColumnBridge.column(
      Literal.create(prot.collect().toSeq, ArrayType(prot.schema)))
    def distinctNonNull(a: Column, f: Column => Column): Column =
      array_distinct(filter(transform(a, f), _.isNotNull))
    val carried = scans.columns.toSeq.filterNot(_ == "scan_id").map(col)
    val groups = size(col("_groups"))
    val types = size(col("_types"))
    scans.filter(col("scan_id").isNotNull)
      .select(col("*"), filter(rows, r => eligibility(r.getField)).as("_eligible"))
      .select(col("*"),
        distinctNonNull(col("_eligible"), _.getField("MriProtocolGroupID"))
          .as("_groups"),
        distinctNonNull(col("_eligible"),
          r => when(paramMatch(r.getField), r.getField("MriScanTypeID")))
          .as("_types"))
      .select((col("scan_id") +: carried) :+
        when(groups === 1 && types === 1, element_at(col("_types"), 1))
          .as("MriScanTypeID") :+
        when(groups === 1, element_at(col("_groups"), 1)).as("MriProtocolGroupID") :+
        when(groups === 0, "no_group")
          .when(groups > 1, "ambiguous_group")
          .when(types === 0, "unknown")
          .when(types > 1, "ambiguous")
          .otherwise("identified").as("protocol_status"): _*)
  }

  /** Extra QC checks (`python/lib/imaging.py:706-809`).
    *
    * @param scansWithType output of [[identify]] restricted to identified
    *                      scans — needs scan_id, MriScanTypeID, ProjectID,
    *                      CohortID, Visit_label
    * @param scanParams    long-format parameters: (scan_id, header, value
    *                      string) — headers already normalized to the check
    *                      vocabulary (the reference's BIDS↔MINC alias mapping
    *                      happens at ingest)
    * @param checks        `mri_protocol_checks ⋈ group_target`: (ID,
    *                      MriProtocolChecksGroupID, MriScanTypeID, Header,
    *                      Severity, ValidMin, ValidMax, ValidRegex,
    *                      ProjectID, CohortID, Visit_label)
    * @return violations: (scan_id, Severity, Header, Value, ValidRange,
    *         ValidRegex, MriProtocolChecksGroupID) — one row per
    *         (scan, header, severity) that failed, mirroring
    *         `get_violations`' OR-across-checks semantics: the value passes
    *         if it is in ANY declared range AND matches ANY declared regex;
    *         a missing header is skipped; ValidMin/ValidMax follow Python
    *         truthiness (0 = unset).
    */
  def runExtraChecks(
      scansWithType: DataFrame,
      scanParams: DataFrame,
      checks: DataFrame
  ): DataFrame = {
    val c = checks.select(
      col("ID").as("c_id"),
      col("MriProtocolChecksGroupID").as("c_group"),
      col("MriScanTypeID").as("c_type"),
      col("Header").as("header"),
      col("Severity").as("c_severity"),
      col("ValidMin").as("c_min"),
      col("ValidMax").as("c_max"),
      col("ValidRegex").as("c_regex"),
      col("ProjectID").as("c_project"),
      col("CohortID").as("c_cohort"),
      col("Visit_label").as("c_visit")
    )

    def target(scanCol: String, checkCol: String): Column =
      when(col(scanCol).isNull, col(checkCol).isNull)
        .otherwise(col(checkCol).isNull || col(checkCol) === col(scanCol))

    val eligible = scansWithType
      .select("scan_id", "MriScanTypeID", "ProjectID", "CohortID", "Visit_label")
      .join(
        broadcast(c),
        col("c_type") === col("MriScanTypeID") &&
          target("ProjectID", "c_project") &&
          target("CohortID", "c_cohort") &&
          target("Visit_label", "c_visit")
      )

    // inner join: header absent from scan params -> check silently skipped
    val withValue = eligible.join(scanParams, Seq("scan_id", "header"))

    // Python truthiness: ValidMin/ValidMax of 0 (or NULL) = unset.
    val minSet = col("c_min").isNotNull && col("c_min") =!= 0.0
    val maxSet = col("c_max").isNotNull && col("c_max") =!= 0.0
    val rangeSet = minSet || maxSet
    val regexSet = col("c_regex").isNotNull && col("c_regex") =!= ""
    val rowRangePass = inRange(
      col("value").cast("double"),
      when(minSet, col("c_min")),
      when(maxSet, col("c_max"))
    )
    val rowRegexPass = ciRegex(col("value"), col("c_regex"))
    val rangeStr = concat_ws("-",
      coalesce(when(minSet, col("c_min")).cast("string"), lit("None")),
      coalesce(when(maxSet, col("c_max")).cast("string"), lit("None")))

    withValue
      .groupBy(col("scan_id"), col("header"), col("c_severity").as("Severity"))
      .agg(
        coalesce(bool_or(when(rangeSet, rowRangePass)), lit(true)).as("pass_range"),
        coalesce(bool_or(when(regexSet, rowRegexPass)), lit(true)).as("pass_regex"),
        first(col("value")).as("Value"),
        array_join(
          transform(
            array_sort(collect_list(when(rangeSet, struct(col("c_id"), rangeStr.as("s"))))),
            x => x.getField("s")),
          ",").as("ValidRange"),
        array_join(
          transform(
            array_sort(collect_list(when(regexSet, struct(col("c_id"), col("c_regex").as("s"))))),
            x => x.getField("s")),
          ",").as("ValidRegex"),
        min(col("c_group")).as("MriProtocolChecksGroupID")
      )
      .filter(!(col("pass_range") && col("pass_regex")))
      .select(
        col("scan_id"), col("Severity"), col("header").as("Header"), col("Value"),
        when(col("ValidRange") === "", lit(null)).otherwise(col("ValidRange")).as("ValidRange"),
        when(col("ValidRegex") === "", lit(null)).otherwise(col("ValidRegex")).as("ValidRegex"),
        col("MriProtocolChecksGroupID")
      )
  }

  /** Three-way routing (`python/lib/dcm2bids_imaging_pipeline_lib/
    * nifti_insertion_pipeline.py:113-185`): identified scans with no
    * `exclude` violation → files; unidentified → violated scans; any
    * `exclude` violation → excluded (violations log carries both
    * severities). */
  def route(identified: DataFrame, violations: DataFrame): RoutedScans = {
    val excludeIds = violations
      .filter(col("Severity") === "exclude")
      .select("scan_id").distinct()
    val idOk = identified.filter(col("protocol_status") === "identified")
    RoutedScans(
      files = idOk.join(excludeIds, Seq("scan_id"), "left_anti"),
      violatedScans = identified.filter(col("protocol_status") =!= "identified"),
      excluded = idOk.join(excludeIds, Seq("scan_id"), "left_semi"),
      violationsLog = violations
    )
  }
}

/** Routing result: the reference's three insert sinks
  * (`files`, `mri_protocol_violated_scans`, `mri_violations_log`). */
case class RoutedScans(
    files: DataFrame,
    violatedScans: DataFrame,
    excluded: DataFrame,
    violationsLog: DataFrame
)
