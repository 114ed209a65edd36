package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DICOM directory source (SURVEY.md §2.1 S1/S2): the distributed form of
  * the reference's recursive per-file header scan
  * (`dicom-archive/DICOM/DCMSUM.pm:722-817`,
  * `python/loris_dicom_importer/.../summary_get.py:21-63`).
  *
  * `spark.read.format("binaryFile")` gives (path, modificationTime, length,
  * content) partition-parallel; header extraction is the STUB boundary —
  * this container carries no DICOM codec, so [[extractHeaderStub]] derives
  * deterministic pseudo-headers from the byte stream (magic check at offset
  * 128 is real DICOM structure: "DICM" preamble). A production build swaps
  * the stub for a real tag parser inside the same projection; everything
  * else (scan parallelism, md5, schema) is final.
  */
object DicomSource {

  /** Recursive binary scan of a directory tree. */
  def scanDir(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(dir)

  /** binaryFile's `path` column holds a URI STRING — percent-encoded
    * (space → `%20`, `#` → `%23`). Building a Hadoop Path from the raw
    * string (or its `stripPrefix("file:")` tail) keeps the encoding and
    * resolves to a nonexistent file, silently skipping the row. Parse as a
    * URI first so the encoding round-trips; the raw-string fallback covers
    * plain paths that are not valid URIs. */
  def pathOf(uriString: String): org.apache.hadoop.fs.Path =
    try new org.apache.hadoop.fs.Path(new java.net.URI(uriString))
    catch {
      case _: java.net.URISyntaxException | _: IllegalArgumentException =>
        new org.apache.hadoop.fs.Path(uriString)
    }

  /** Task-local whole-file read of a scan row's sibling (CTF `.meg4`,
    * EEGLAB `.fdt`): any failure yields None — EXCEPT the single-array
    * bound: a file over ~2 GiB cannot load into one JVM byte array, and
    * silently dropping it would be data loss, so that case THROWS with an
    * actionable message (such recordings need the format's own file-split
    * convention, e.g. CTF's 2 GB `.N.meg4` continuation files). */
  def readSiblingBytes(conf: org.apache.hadoop.conf.Configuration,
      p: org.apache.hadoop.fs.Path): Option[Array[Byte]] = {
    try {
      val fs = p.getFileSystem(conf)
      val len = fs.getFileStatus(p).getLen
      if (len > Int.MaxValue - 16)
        throw new IllegalArgumentException(
          s"sibling file $p is $len bytes — beyond the 2 GiB single-array " +
            "bound; split the recording (the formats' own convention) " +
            "instead of silently dropping it")
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](len.toInt)
        in.readFully(0, buf)
        Some(buf)
      } finally in.close()
    } catch {
      case e: IllegalArgumentException => throw e
      case _: Exception => None // missing/unreadable sibling: row-local skip
    }
  }

  /** Real part: DICM magic at offset 128 (DICOM Part 10 preamble). */
  def isDicomMagic(content: Column): Column =
    length(content) >= 132 &&
      substring(content, 129, 4).cast("string") === "DICM"

  /** `dicom_tags(content)`: the 26 DCMSUM summary fields as a string map
    * (null for non-DICOM bytes) via the zero-dependency explicit/implicit-VR
    * walker [[DicomTagParser]]. */
  def dicomTags(content: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.expressions.DicomTagsExpr(
      GraftColumnBridge.expression(content)))
  }

  /** Real header extraction (replaces the round-1 md5 stub): every DCMSUM
    * field typed like the reference records it — IS tags to int, DS tags to
    * double with the reference's `nearest(0.01)` rounding on TE/TR/TI/slice
    * thickness (`DCMSUM.pm:806-809`), dates kept as raw `YYYYMMDD` strings
    * for [[graft.functions.Dates.dicomDate]]. Non-DICOM files keep their
    * scan row with null headers (the reference's `$fileIsDicom` branch).
    * Input columns other than `path` and `content` pass through first, so
    * callers keep member keys without joining them back from a second
    * scan; they must not share a name with the header columns. */
  def extractHeaders(df: DataFrame): DataFrame = {
    val nearest01 = (c: Column) =>
      graft.functions.Predicates.nearest(0.01, c.cast("double"))
    val carried = df.columns.toSeq.filterNot(Set("path", "content"))
      .map(c => col(s"`$c`"))
    df.select(carried ++ Seq(
        col("path").as("file_path"),
        md5(col("content")).as("md5"),
        isDicomMagic(col("content")).as("is_dicom"),
        dicomTags(col("content")).as("h")): _*)
      .select(carried ++ Seq(
        col("file_path"), col("md5"), col("is_dicom"),
        col("h")("study_uid").as("study_uid"),
        col("h")("series_number").cast("int").as("series_number"),
        col("h")("echo_number").cast("int").as("echo_number"),
        col("h")("instance_number").cast("int").as("instance_number"),
        nearest01(col("h")("repetition_time")).as("repetition_time"),
        nearest01(col("h")("echo_time")).as("echo_time"),
        nearest01(col("h")("inversion_time")).as("inversion_time"),
        col("h")("study_date").as("study_date"),
        col("h")("patient_name").as("patient_name"),
        col("h")("patient_dob").as("patient_dob"),
        col("h")("patient_id").as("patient_id"),
        col("h")("series_description").as("series_description"),
        col("h")("patient_sex").as("patient_sex"),
        col("h")("scanner_model").as("scanner_model"),
        col("h")("software_version").as("software_version"),
        col("h")("institution").as("institution"),
        col("h")("sequence_name").as("sequence_name"),
        nearest01(col("h")("slice_thickness")).as("slice_thickness"),
        col("h")("phase_encoding").as("phase_encoding"),
        col("h")("manufacturer").as("manufacturer"),
        col("h")("scanner_serial").as("scanner_serial"),
        col("h")("series_uid").as("series_uid"),
        col("h")("modality").as("modality")): _*)
  }

  /** `get_dicom_info.pl` field-selection table
    * (`dicom-archive/get_dicom_info.pl:128-195`): one output row per DICOM
    * image file, one column per requested field IN THE REQUESTED ORDER
    * (the CLI's option order; `-labels` prints the header line — here the
    * column names ARE the labels). Fields are the DCMSUM tag names
    * ([[DicomTagParser.wantedTags]]) plus the two pseudo-fields the
    * reference computes: `filename` and `slicepos` (ImagePositionPatient
    * · slice direction cosine, where the cosine is the sign-corrected
    * normalized cross product of the converted ImageOrientationPatient
    * column/row vectors — `get_dicom_info.pl:137-160,254-333`). Empty or
    * absent tag values print `errorString` (`-error_string`, default
    * UNDEF); files without a 3-value ImagePositionPatient are SKIPPED
    * entirely when `slicepos` is requested (the reference's croft list);
    * an invalid orientation degrades to slicepos 0.0 (the reference warns
    * and continues with zero vectors). Non-DICOM files produce no row
    * (the `isDicomImage` gate).
    *
    * Scale posture: a single row-local flatMap over the binary scan — no
    * shuffle anywhere; the projection to ordered columns is a map-typed
    * select Catalyst codegens. */
  def fieldTable(spark: SparkSession, files: DataFrame, fields: Seq[String],
      errorString: String = "UNDEF"): DataFrame = {
    import spark.implicits._
    val wantSlice = fields.contains("slicepos")
    val parsed = files.select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val elems = DicomTagParser.describe(bytes)
        if (elems.isEmpty) None
        else {
          // first non-empty value wins per tag (the reference reads each
          // tag once); keep both the named-field map and the two
          // geometry tags
          val byName = scala.collection.mutable.Map.empty[String, String]
          var posRaw: String = null
          var orientRaw: String = null
          elems.foreach { e =>
            if (e.value != null && e.value.nonEmpty) {
              if (e.field_name != null && !byName.contains(e.field_name))
                byName(e.field_name) = e.value
              val tag = (e.group << 16) | e.element
              if (tag == 0x00200032 && posRaw == null) posRaw = e.value
              if (tag == 0x00200037 && orientRaw == null) orientRaw = e.value
            }
          }
          def dicomList(v: String): Array[Double] =
            if (v == null) Array.empty
            else v.split("\\\\").map { x =>
              try x.trim.toDouble catch { case _: NumberFormatException => 0.0 }
            }
          // convert_coordinates: negate x and y (DICOM LPS -> scanner XYZ)
          def convert(a: Array[Double]): Array[Double] =
            Array(-a(0), -a(1), a(2))
          val pos = dicomList(posRaw)
          if (wantSlice && pos.length != 3) None // croft skip
          else {
            val slicepos: Double =
              if (!wantSlice) 0.0
              else {
                val o = dicomList(orientRaw)
                val (c, r) =
                  if (o.length == 6) (convert(o.take(3)), convert(o.drop(3)))
                  else (Array(0.0, 0.0, 0.0), Array(0.0, 0.0, 0.0))
                val n = Array(
                  c(1) * r(2) - c(2) * r(1),
                  c(2) * r(0) - c(0) * r(2),
                  c(0) * r(1) - c(1) * r(0))
                var mag = math.sqrt(n(0) * n(0) + n(1) * n(1) + n(2) * n(2))
                if (mag <= 0) mag = 1
                var mx = n(0)
                if (math.abs(n(1)) > math.abs(mx)) mx = n(1)
                if (math.abs(n(2)) > math.abs(mx)) mx = n(2)
                if (mx < 0) mag = -mag
                val p = convert(pos)
                (p(0) * n(0) + p(1) * n(1) + p(2) * n(2)) / mag
              }
            Some((path, byName.toMap, slicepos))
          }
        }
      }
    parsed.toDF("__file", "__vals", "__slicepos")
      .select(fields.map {
        case "filename" => col("__file").as("filename")
        case "slicepos" => col("__slicepos").as("slicepos")
        case f => coalesce(element_at(col("__vals"), lit(f)),
          lit(errorString)).as(f)
      }: _*)
  }

  /** Bridge the scan schema to [[graft.operators.DicomSummary]]'s input
    * (the `dicom_files` fixture shape): DICOM `YYYYMMDD` strings become
    * dates, scanner fields take the tarchive-facing names. Completes the
    * dir-scan → header-parse → study-summary vertical on REAL headers. */
  def toSummaryInput(headers: DataFrame): DataFrame =
    // the archive of a scanned file is its DIRECTORY (the reference's
    // per-study-dir summary, "other files" included: summary_get.py:57-58)
    headers
      .withColumn("archive_path",
        regexp_replace(col("file_path"), "/[^/]+$", ""))
      .withColumn("study_date", graft.functions.Dates.dicomDate(col("study_date")))
      .withColumn("patient_dob", graft.functions.Dates.dicomDate(col("patient_dob")))
      .withColumnRenamed("manufacturer", "scanner_manufacturer")
      .withColumnRenamed("software_version", "scanner_software")
}
