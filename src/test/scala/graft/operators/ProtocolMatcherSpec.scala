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

  test("an empty protocol table gives every scan no_group") {
    val out = ProtocolMatcher.identify(scans, df(protSchema))
      .select("MriScanTypeID", "MriProtocolGroupID", "protocol_status")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)), r.getString(2)))
    assert(out.length == 9)
    assert(out.toSet == Set((None, None, "no_group")))
  }

  test("two identical scan rows give one result each") {
    val out = ProtocolMatcher.identify(df(scanSchema,
      scan(1L, "T1 MPRAGE", trSec = 2.3), scan(1L, "T1 MPRAGE", trSec = 2.3)),
      protocols)
      .select("scan_id", "MriScanTypeID", "protocol_status")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getString(2)))
    assert(out.toSeq == Seq.fill(2)((1L, Some(101), "identified")))
  }

  test("identify plans no join, broadcast or exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.functions._
    // a Range input: a local scan table would be folded away at planning
    val rangeScans = ProtocolMatcher.padScanCols(spark.range(0, 40).select(
      col("id").as("scan_id"), lit("T2 weighted").as("SeriesDescription"),
      (col("id") / 10).as("RepetitionTime")))
    val out = ProtocolMatcher.identify(rangeScans, protocols)
    assert(out.collect().length == 40)
    def flatten(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children.flatMap(flatten) ++ (p match {
        case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
        case q: QueryStageExec => flatten(q.plan)
        case _ => Seq.empty[SparkPlan]
      }))
    val plan = flatten(out.queryExecution.executedPlan)
    assert(!plan.exists {
      case _: BaseJoinExec | _: Exchange => true
      case _ => false
    }, out.queryExecution.executedPlan.toString)
  }

  test("a seeded 300-row protocol table matches the join+aggregate semantics") {
    import ProtocolMatcherSpec._
    val rnd = new scala.util.Random(20261020L)
    def opt[A](p: Double)(a: => A): Option[A] =
      if (rnd.nextDouble() < p) Some(a) else None
    def pick[A](xs: A*): A = xs(rnd.nextInt(xs.length))
    // a protocol targets its group's visit label, or else one site (any
    // visit): scans at such a site see a second group
    val prots = (1 to 300).map { id =>
      val group = rnd.nextInt(3) + 1
      val site = opt(0.05)(rnd.nextInt(10) + 1)
      val regex = opt(0.02)(pick("t1", "t2.*w", "flair", ""))
      val tr = if (regex.isEmpty || rnd.nextBoolean()) {
        val lo = rnd.nextInt(5000).toDouble
        Map("TR_min" -> lo, "TR_max" -> (lo + 30 + rnd.nextInt(60)))
      } else Map.empty[String, Double]
      val extra = opt(0.2)(pick("time_min", "TE_max"))
        .map(k => Map(k -> (rnd.nextInt(200) + 1).toDouble)).getOrElse(Map.empty)
      Prot(id, opt(0.97)(group), site, site.map(_ * 10),
        opt(0.97)(100 + rnd.nextInt(40)), regex, opt(0.15)(pick("j", "j-", "")),
        opt(0.15)(pick("1", "2", "")), opt(0.05)(pick("ORIGINAL", "")),
        opt(0.1)(7), if (site.isEmpty) Some(s"V$group") else None, tr ++ extra)
    }
    val scanRows = (1 to 400).map { id =>
      val center = rnd.nextInt(10) + 1
      Scan(id.toLong, opt(0.9)(pick("T1 MPRAGE", "t2 Weighted", "FLAIR ax", "dwi")),
        opt(0.95)(rnd.nextInt(5200) / 1000.0), opt(0.7)(rnd.nextInt(220) / 1000.0),
        opt(0.7)(rnd.nextInt(220).toDouble), opt(0.5)(pick("j", "j-")),
        opt(0.5)(pick(1, 2)), opt(0.5)("ORIGINAL"), center,
        if (rnd.nextDouble() < 0.1) 99 else center * 10,
        opt(0.15)(7), opt(0.9)(pick("V1", "V2", "V3")))
    }
    def boxI(o: Option[Int]) = o.map(Int.box).orNull
    def boxD(m: Map[String, Double], k: String) = m.get(k).map(Double.box).orNull
    val protDf = df(protSchema, prots.map { p =>
      Row.fromSeq(Seq[Any](p.id, boxI(p.group), boxI(p.center), boxI(p.scanner),
        boxI(p.scanType), p.regex.orNull, p.ped.orNull, p.echoN.orNull,
        p.imageType.orNull, boxI(p.project), null, p.visit.orNull) ++
        ProtocolMatcher.rangeDims.flatMap { case (_, mn, mx, _) =>
          Seq(boxD(p.bounds, mn), boxD(p.bounds, mx)) })
    }: _*)
    val scanDf = df(scanSchema, scanRows.map { c =>
      def d(o: Option[Double]) = o.map(Double.box).orNull
      Row(c.id, c.desc.orNull, d(c.trSec), d(c.teSec), null, null, d(c.time),
        null, null, null, null, null, null, c.imageType.orNull, c.ped.orNull,
        boxI(c.echoN), c.center, c.scanner, boxI(c.project), null,
        c.visit.orNull)
    }: _*)
    val got = ProtocolMatcher.identify(scanDf, protDf)
      .select("scan_id", "MriScanTypeID", "MriProtocolGroupID", "protocol_status")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), r.getString(3))).toMap
    val want = scanRows.map(c => c.id -> joinAggregate(c, prots)).toMap
    assert(got == want)
    // the seed reaches every rung of the status ladder
    val statuses = want.values.groupBy(_._3).map { case (k, v) => k -> v.size }
    assert(statuses.keySet ==
      Set("identified", "unknown", "ambiguous", "ambiguous_group", "no_group"),
      statuses)
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

object ProtocolMatcherSpec {
  case class Prot(id: Int, group: Option[Int], center: Option[Int],
      scanner: Option[Int], scanType: Option[Int], regex: Option[String],
      ped: Option[String], echoN: Option[String], imageType: Option[String],
      project: Option[Int], visit: Option[String], bounds: Map[String, Double])
  case class Scan(id: Long, desc: Option[String], trSec: Option[Double],
      teSec: Option[Double], time: Option[Double], ped: Option[String],
      echoN: Option[Int], imageType: Option[String], center: Int, scanner: Int,
      project: Option[Int], visit: Option[String])

  /** The join+aggregate form written out: the eligible protocol rows of a
    * scan (the J4 join), their distinct groups, the distinct scan types of
    * the eligible rows it matches (J5), then the status ladder. SQL NULL
    * comparisons read as not-true, as a join or filter condition does. */
  def joinAggregate(s: Scan, prots: Seq[Prot]): (Option[Int], Option[Int], String) = {
    def target[A](scan: Option[A], prot: Option[A]) =
      if (scan.isEmpty) prot.isEmpty else prot.isEmpty || prot == scan
    def eligible(p: Prot) =
      ((p.center.contains(s.center) && p.scanner.contains(s.scanner)) ||
        (p.center.isEmpty && p.scanner.isEmpty)) &&
        target(s.project, p.project) && target(s.visit, p.visit)
    def inRange(v: Option[Double], mn: Option[Double], mx: Option[Double]) =
      (mn.isEmpty && mx.isEmpty) ||
        v.exists(x => mn.forall(x >= _) && mx.forall(x <= _))
    def scanValue(dim: String): Option[Double] = dim match {
      case "time" => s.time
      case "RepetitionTime" => s.trSec
      case "EchoTime" => s.teSec
      case _ => None
    }
    def unset(v: Option[String]) = v.forall(_.isEmpty)
    def matches(p: Prot) =
      if (!unset(p.regex))
        s.desc.exists(d => java.util.regex.Pattern.compile("(?i)" + p.regex.get)
          .matcher(d).find())
      else ProtocolMatcher.rangeDims.forall { case (dim, mn, mx, scale) =>
        inRange(scanValue(dim).map(_ * scale), p.bounds.get(mn), p.bounds.get(mx))
      } && (unset(p.ped) || (s.ped.isDefined && s.ped == p.ped)) &&
        (unset(p.echoN) || s.echoN.exists(n => p.echoN.get.toInt == n)) &&
        (unset(p.imageType) || (s.imageType.isDefined && s.imageType == p.imageType))
    val joined = prots.filter(eligible)
    val groups = joined.flatMap(_.group).distinct
    val types = joined.filter(matches).flatMap(_.scanType).distinct
    val status =
      if (groups.isEmpty) "no_group"
      else if (groups.size > 1) "ambiguous_group"
      else if (types.isEmpty) "unknown"
      else if (types.size > 1) "ambiguous"
      else "identified"
    (if (status == "identified") types.headOption else None,
      if (groups.size == 1) groups.headOption else None, status)
  }
}
