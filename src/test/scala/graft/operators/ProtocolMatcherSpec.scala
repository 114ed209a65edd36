package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Fixture-driven tests of the protocol engine, mirroring the reference's
  * corner cases (FIXTURES.md §4-5): wildcard (CenterID,ScannerID) rows,
  * regex rows, min-only bounds, scan-type ambiguity, group ambiguity,
  * TR s→ms scaling, NULL-value-vs-bounded-range failure, and the
  * warning/exclude checks engine with OR-across-checks semantics. */
class ProtocolMatcherSpec extends SparkSpec {

  private def df(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private val protSchema = StructType(Seq(
    StructField("MriProtocolID", IntegerType),
    StructField("MriProtocolGroupID", IntegerType),
    StructField("CenterID", IntegerType),
    StructField("ScannerID", IntegerType),
    StructField("MriScanTypeID", IntegerType),
    StructField("series_description_regex", StringType),
    StructField("PhaseEncodingDirection", StringType),
    StructField("EchoNumber", StringType),
    StructField("image_type", StringType),
    StructField("ProjectID", IntegerType),
    StructField("CohortID", IntegerType),
    StructField("Visit_label", StringType)
  ) ++ ProtocolMatcher.rangeDims.flatMap { case (_, mn, mx, _) =>
    Seq(StructField(mn, DoubleType), StructField(mx, DoubleType))
  })

  /** protocol row helper: all range bounds null except those given. */
  private def prot(
      id: Int, group: Int, center: Integer, scanner: Integer, scanType: Int,
      regex: String = null, ped: String = null, echoN: String = null,
      imageType: String = null, project: Integer = null,
      bounds: Map[String, Double] = Map.empty): Row = {
    val fixed = Seq[Any](id, group, center, scanner, scanType, regex, ped,
      echoN, imageType, project, null, null)
    val ranges = ProtocolMatcher.rangeDims.flatMap { case (_, mn, mx, _) =>
      Seq(bounds.get(mn).map(Double.box).orNull, bounds.get(mx).map(Double.box).orNull)
    }
    Row.fromSeq(fixed ++ ranges)
  }

  private val scanSchema = StructType(Seq(
    StructField("scan_id", LongType, nullable = false),
    StructField("SeriesDescription", StringType),
    StructField("RepetitionTime", DoubleType),
    StructField("EchoTime", DoubleType),
    StructField("InversionTime", DoubleType),
    StructField("slice_thickness", DoubleType),
    StructField("time", DoubleType),
    StructField("xstep", DoubleType), StructField("ystep", DoubleType),
    StructField("zstep", DoubleType),
    StructField("xspace", DoubleType), StructField("yspace", DoubleType),
    StructField("zspace", DoubleType),
    StructField("ImageType", StringType),
    StructField("PhaseEncodingDirection", StringType),
    StructField("EchoNumber", IntegerType),
    StructField("CenterID", IntegerType),
    StructField("ScannerID", IntegerType),
    StructField("ProjectID", IntegerType),
    StructField("CohortID", IntegerType),
    StructField("Visit_label", StringType)
  ))

  private def scan(
      id: Long, desc: String, trSec: java.lang.Double = null,
      teSec: java.lang.Double = null, time: java.lang.Double = null,
      ped: String = null, echoN: Integer = null, center: Integer = 1,
      scanner: Integer = 10, project: Integer = null): Row =
    Row(id, desc, trSec, teSec, null, null, time, null, null, null, null,
      null, null, null, ped, echoN, center, scanner, project, null, null)

  private lazy val protocols = df(protSchema,
    // group 1, wildcard center/scanner: t1 by TR range 2000-3000ms
    prot(1, 1, null, null, 101, bounds = Map("TR_min" -> 2000.0, "TR_max" -> 3000.0)),
    // group 1, wildcard: t2 by regex on description
    prot(2, 1, null, null, 102, regex = "t2.*weighted"),
    // group 1, wildcard: fmri needs time >= 100 (min-only bound)
    prot(3, 1, null, null, 103, bounds = Map("time_min" -> 100.0)),
    // group 1, wildcard: overlapping TR range -> ambiguity with protocol 1
    prot(4, 1, null, null, 104, bounds = Map("TR_min" -> 2900.0, "TR_max" -> 3100.0)),
    // group 1, specific center/scanner (2, 20): dwi with PED constraint
    prot(5, 1, 2, 20, 105, ped = "j-",
      bounds = Map("TE_min" -> 80.0, "TE_max" -> 90.0)),
    // group 2, project-targeted (ProjectID=7) -> group ambiguity for scans
    // with ProjectID=7 (both groups eligible)
    prot(6, 2, null, null, 106, project = 7,
      bounds = Map("TR_min" -> 0.0, "TR_max" -> 99999.0))
  )

  private lazy val scans = df(scanSchema,
    scan(1L, "T1 MPRAGE", trSec = 2.3),                    // t1: only protocol 1
    scan(2L, "T2 Weighted axial"),                         // regex match -> 102
    scan(3L, "resting fMRI", time = 150.0),                // min-only -> 103
    scan(4L, "mystery", trSec = 2.95),                     // TR 2950 matches 1 AND 4 -> ambiguous
    scan(5L, "unknown seq", trSec = 9.0),                  // matches nothing -> unknown
    scan(6L, "DWI", teSec = 0.085, ped = "j-", center = 2, scanner = 20), // specific row -> 105
    scan(7L, "DWI wrong ped", teSec = 0.085, ped = "j", center = 2, scanner = 20), // PED mismatch -> unknown
    scan(8L, "T1 MPRAGE", trSec = 2.3, project = 7),       // two eligible groups -> ambiguous_group
    scan(9L, "no params at all")                           // NULL TR fails protocol 1's bounded range -> unknown
  )

  private lazy val result =
    ProtocolMatcher.identify(scans, protocols)
      .select("scan_id", "MriScanTypeID", "protocol_status")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), r.getString(2))).toMap

  test("range match with TR s->ms scaling") {
    assert(result(1L) == (Some(101), "identified"))
  }
  test("regex match decides alone when regex set") {
    assert(result(2L) == (Some(102), "identified"))
  }
  test("min-only bound is unbounded above") {
    assert(result(3L) == (Some(103), "identified"))
  }
  test("two matching scan types -> ambiguous") {
    assert(result(4L) == (None, "ambiguous"))
  }
  test("no matching protocol -> unknown") {
    assert(result(5L) == (None, "unknown"))
  }
  test("center/scanner-specific row matches with PED equality") {
    assert(result(6L) == (Some(105), "identified"))
  }
  test("PED mismatch fails the specific row") {
    assert(result(7L)._2 == "unknown")
  }
  test("two eligible protocol groups -> ambiguous_group") {
    assert(result(8L) == (None, "ambiguous_group"))
  }
  test("NULL value fails a bounded range") {
    assert(result(9L)._2 == "unknown")
  }
  test("scans sharing a scan_id each keep their row and their own match") {
    // q90's series_number*100 + floor(TE) key collides across series
    val out = ProtocolMatcher.identify(df(scanSchema,
      scan(205L, "T1 MPRAGE", trSec = 2.3, teSec = 0.105),
      scan(205L, "T2 Weighted axial", teSec = 0.005)), protocols)
      .select("EchoTime", "MriScanTypeID", "protocol_status")
      .collect().map(r => r.getDouble(0) -> (Option(r.get(1)), r.getString(2)))
    assert(out.toMap == Map(
      0.105 -> (Some(101), "identified"), 0.005 -> (Some(102), "identified")))
    assert(out.length == 2)
  }

  // ---- extra checks engine ----

  private val checksSchema = StructType(Seq(
    StructField("ID", IntegerType),
    StructField("MriProtocolChecksGroupID", IntegerType),
    StructField("MriScanTypeID", IntegerType),
    StructField("Header", StringType),
    StructField("Severity", StringType),
    StructField("ValidMin", DoubleType),
    StructField("ValidMax", DoubleType),
    StructField("ValidRegex", StringType),
    StructField("ProjectID", IntegerType),
    StructField("CohortID", IntegerType),
    StructField("Visit_label", StringType)
  ))

  private val paramSchema = StructType(Seq(
    StructField("scan_id", LongType, nullable = false),
    StructField("header", StringType),
    StructField("value", StringType)
  ))

  test("checks engine: OR-across-ranges, severities, missing header skipped") {
    val checks = df(checksSchema,
      // EchoTime warning: two alternative valid ranges (OR semantics)
      Row(1, 10, 101, "EchoTime", "warning", Double.box(0.01), Double.box(0.02), null, null, null, null),
      Row(2, 10, 101, "EchoTime", "warning", Double.box(0.08), Double.box(0.09), null, null, null, null),
      // SliceThickness exclude range
      Row(3, 10, 101, "SliceThickness", "exclude", Double.box(1.0), Double.box(3.0), null, null, null, null),
      // Manufacturer regex check (exclude)
      Row(4, 10, 101, "Manufacturer", "exclude", null, null, "Siemens|Philips", null, null, null),
      // MissingHeader check should be skipped (no such param on scans)
      Row(5, 10, 101, "MissingHeader", "exclude", Double.box(1.0), null, null, null, null, null)
    )
    val scansWithType = df(StructType(Seq(
      StructField("scan_id", LongType, nullable = false),
      StructField("MriScanTypeID", IntegerType),
      StructField("ProjectID", IntegerType),
      StructField("CohortID", IntegerType),
      StructField("Visit_label", StringType))),
      Row(1L, 101, null, null, null),
      Row(2L, 101, null, null, null))
    val params = df(paramSchema,
      // scan 1: TE inside second range -> pass; thickness 5 -> exclude; GE -> regex exclude
      Row(1L, "EchoTime", "0.085"),
      Row(1L, "SliceThickness", "5.0"),
      Row(1L, "Manufacturer", "GE Medical"),
      // scan 2: TE between the two ranges -> warning; thickness fine; Siemens fine
      Row(2L, "EchoTime", "0.05"),
      Row(2L, "SliceThickness", "2.0"),
      Row(2L, "Manufacturer", "siemens healthineers")
    )
    val v = ProtocolMatcher.runExtraChecks(scansWithType, params, checks)
      .collect().map(r => (r.getAs[Long]("scan_id"), r.getAs[String]("Header"),
        r.getAs[String]("Severity"))).toSet
    assert(v == Set(
      (1L, "SliceThickness", "exclude"),
      (1L, "Manufacturer", "exclude"),
      (2L, "EchoTime", "warning")
    ))
  }

  test("routing: exclude violations pull identified scans out of files") {
    val identified = ProtocolMatcher.identify(scans, protocols)
    val violations = df(StructType(Seq(
      StructField("scan_id", LongType, nullable = false),
      StructField("Severity", StringType))),
      Row(1L, "exclude"), Row(2L, "warning"))
    val routed = ProtocolMatcher.route(identified, violations)
    val fileIds = routed.files.select("scan_id").collect().map(_.getLong(0)).toSet
    assert(!fileIds.contains(1L) && fileIds.contains(2L) && fileIds.contains(3L))
    assert(routed.excluded.select("scan_id").collect().map(_.getLong(0)).toSet == Set(1L))
    assert(routed.violatedScans.select("scan_id").collect().map(_.getLong(0)).toSet ==
      Set(4L, 5L, 7L, 8L, 9L))
  }
}
