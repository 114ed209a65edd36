package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Maintenance

/** Catalog-maintenance tool family under the driver's correctness gate
  * (one query per [[graft.operators.Maintenance]] operator).
  *
  * q127 derives its tarchive rows from `orders.parquet` so the oracle is
  * COMPUTED in DuckDB (two nested global literal `replace`s — the exact
  * twin of the operator's quoted-literal `regexp_replace` pair). The other
  * seven run catalog verticals whose quirky Perl semantics (case-fold
  * first-occurrence strips, `$#paths > 1` skip gates, Perl string
  * truthiness) are pinned as constant oracle rows over deterministic
  * inline fixtures — the q117-q125 discipline. */
object MaintQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MakeArchiveLocationRelative.pl over real table data: the oracle
    // recomputes the global dir strip, so the replace semantics (prefix,
    // already-relative passthrough, mid-path quirk) are cross-checked
    // rather than pinned
    "q127_relativize_archive" -> { (s, dir) =>
      val o = Tables.table(s, dir, "orders")
        .filter(col("o_orderkey") < 200)
      val loc = when(col("o_orderkey") % 3 === 0,
          concat(lit("/data/tarchive/"), col("o_custkey").cast("string"),
            lit("/DCM_"), col("o_orderkey").cast("string"), lit(".tar")))
        .when(col("o_orderkey") % 3 === 1,
          concat(lit("DCM_"), col("o_orderkey").cast("string"), lit(".tar")))
        .otherwise(concat(lit("x/data/tarchive/DCM_"),
          col("o_orderkey").cast("string"), lit(".tar")))
      Maintenance.relativizeArchiveLocation(
        o.select(col("o_orderkey").as("TarchiveID"),
          loc.as("ArchiveLocation")),
        "/data/tarchive")
    },

    // database_files_update.pl: LIKE '%dir%' gate (CI) + FIRST-occurrence
    // CI strip across files + two parameter_file parameter names. Rows 3/4
    // of each fixture prove the gate (no-match filtered, wrong param name
    // filtered); file 5 is the gate-passes-strip-misses quirk (`/database`
    // contains `/data` but not `/data/`)
    "q128_relativize_db_paths" -> { (s, _) =>
      import s.implicits._
      val files = Seq(
        (1L, "/data/assembly/t1.mnc"),
        (2L, "/DATA/assembly/t2.mnc"),
        (3L, "assembly/t3.mnc"),
        (4L, "/data/sub/data/x.mnc"),
        (5L, "/database/y.mnc")).toDF("FileID", "File")
      val params = Seq(
        (1L, "check_pic_filename", "/data/pic/t1.png"),
        (2L, "tarchiveLocation", "/DATA/tarchive/a.tar"),
        (3L, "check_pic_filename", "pic/rel.png"),
        (4L, "other_param", "/data/zz.png"))
        .toDF("FileID", "Name", "Value")
      Maintenance.relativizeDbPaths(files, params, "/data")
    },

    // cleanupTarchives.pl classification: real-file match, cross-year
    // duplicate removal, md5-mismatch keep, missing-on-disk, and the
    // `_\d` basename normalization that groups DCM_D_1/DCM_D_2
    "q129_tarchive_cleanup" -> { (s, _) =>
      import s.implicits._
      val db = Seq(
        ("2024/DCM_A.tar", "aaa  /tank/2024/DCM_A.tar"),
        ("2024/DCM_B.tar", "ccc  /tank/2024/DCM_B.tar"),
        ("2024/DCM_C.tar", "eee  /tank/2024/DCM_C.tar"),
        ("2024/DCM_D_1.tar", "fff  /tank/2024/DCM_D_1.tar"))
        .toDF("ArchiveLocation", "md5sumArchive")
      val fs = Seq(
        ("/tank/2024/DCM_A.tar", "aaa"),
        ("/tank/2023/DCM_A.tar", "bbb"),
        ("/tank/2024/DCM_B.tar", "ddd"),
        ("/tank/2024/DCM_D_1.tar", "fff"),
        ("/tank/2024/DCM_D_2.tar", "ggg")).toDF("fs_path", "fs_md5")
      Maintenance.tarchiveDuplicates(db, fs, "/tank")
    },

    // create_nifti_bval_bvec.pl: the `.,` / trailing-dot bval cleanup,
    // the quote/comma bvec cleanup, and Perl truthiness gates ('' and '0'
    // both block; '0' direction blocks bvec while bval still writes)
    "q130_dwi_sidecars" -> { (s, _) =>
      import s.implicits._
      val files = Seq(
        (1L, "a/dwi25.mnc"), (2L, "a/dwi65.mnc"),
        (3L, "a/noscan.mnc"), (4L, "a/dwi0.mnc")).toDF("FileID", "File")
      val params = Seq(
        (1L, "acquisition:bvalues", "0. 1000. 2000."),
        (1L, "acquisition:direction_x", "\"0.1,0.2\""),
        (1L, "acquisition:direction_y", "0.3"),
        (1L, "acquisition:direction_z", "0.5,"),
        (2L, "acquisition:bvalues", "5.,"),
        (2L, "acquisition:direction_x", "0"),
        (2L, "acquisition:direction_y", "1"),
        (2L, "acquisition:direction_z", "1"),
        (3L, "acquisition:bvalues", ""),
        (4L, "acquisition:bvalues", "0"))
        .toDF("FileID", "Name", "Value")
      Maintenance.dwiBvalBvec(files, params)
    },

    // BackPopulateSNRAndAcquisitionOrder.pl: modality gate, empty-output
    // skip, changed-value notification vs fresh set
    "q131_snr_backpopulate" -> { (s, _) =>
      import s.implicits._
      val files = Seq(
        (1L, "t1w", "52.1"), (2L, "t1w", "48.0"), (3L, "t2w", "33.0"),
        (4L, "t1w", ""), (5L, "dwi", "20.0"))
        .toDF("FileID", "ScanType", "snr_value")
      val old = Seq((2L, "47.0"), (3L, "33.0")).toDF("FileID", "Value")
      Maintenance.backpopulateSnr(files, old, Seq("t1w", "t2w"))
    },

    // cleanup_paths_of_violation_tables.pl: trashbin re-point for the two
    // plain tables; the violations-log ladder — registered file at 1
    // match, lowest-FileID file at exactly 2 (the `$#paths > 1` quirk),
    // skip at 3+, trashbin at 0
    "q132_violation_trashbin" -> { (s, _) =>
      import s.implicits._
      val candErrors = Seq((101L, "assembly/s1/v1.mnc"))
        .toDF("ID", "MincFile")
      val violatedScans = Seq((201L, "assembly/s2/v2.mnc"))
        .toDF("ID", "minc_location")
      val vlog = Seq(
        (301L, "uidA", "assembly/s3/v3.mnc"),
        (302L, "uidB", "assembly/s4/v4.mnc"),
        (303L, "uidC", "assembly/s5/v5.mnc"),
        (304L, "uidD", "assembly/s6/v6.mnc"))
        .toDF("LogID", "SeriesUID", "MincFile")
      val files = Seq(
        (9001L, "reg/a.mnc", "uidA"),
        (9010L, "reg/b1.mnc", "uidB"), (9011L, "reg/b2.mnc", "uidB"),
        (9012L, "reg/b3.mnc", "uidB"),
        (9021L, "reg/d_hi.mnc", "uidD"), (9020L, "reg/d_lo.mnc", "uidD"))
        .toDF("FileID", "File", "SeriesUID")
      Maintenance.violationTrashbinPaths(candErrors, violatedScans, vlog,
        files)
    },

    // seriesuid2fileid.pl report: full row, localizer exclude, all-empty,
    // patient+description violation match, multi-violation count with
    // lowest-ID pick, zspace*time with Perl undef arithmetic defaults
    "q133_seriesuid_report" -> { (s, _) =>
      import s.implicits._
      val in = Seq("U1", "U2", "U3", "U4", "U5").toDF("series_uid")
      val ts = Seq(
        ("U1", 10L, "ep2d_dti", 60),
        ("U2", 11L, "AAHScout localizer", 12),
        ("U4", 12L, "t1_mprage", 176),
        ("U5", 13L, "dwi_b1000", 60))
        .toDF("SeriesUID", "TarchiveID", "SeriesDescription",
          "NumberOfFiles")
      val tar = Seq(
        (10L, "AAA_111111_V1"), (11L, "AAA_111111_V1"),
        (12L, "BBB_222222_V2"), (13L, "CCC_333333_V1"))
        .toDF("TarchiveID", "PatientName")
      val files = Seq(
        (9001L, "reg/a/u1.mnc", "U1"), (9002L, "reg/b/u4.mnc", "U4"),
        (9003L, "reg/c/u5a.mnc", "U5"), (9004L, "reg/c/u5b.mnc", "U5"))
        .toDF("FileID", "File", "SeriesUID")
      val viol = Seq(
        (21L, "U1", "ZZZ_999999_V9", "something"),
        (22L, "UX", "BBB_222222_V2", "t1_mprage"),
        (31L, "U5", "nobody", "none"), (32L, "U5", "nobody", "none"))
        .toDF("ID", "SeriesUID", "PatientName", "series_description")
      val vlog = Seq((41L, "U1", "warning"))
        .toDF("LogID", "SeriesUID", "Severity")
      val params = Seq(
        (9001L, "zspace", "30"), (9001L, "time", "2"),
        (9003L, "zspace", "10")).toDF("FileID", "Name", "Value")
      Maintenance.seriesUidReport(in, files, ts, tar, viol, vlog, params)
    },

    // get_dicom_files.pl: patient LIKE + scan-type EXISTS tarchive
    // selection, the seconds-vs-ms EchoTime tolerance residual on the
    // SeriesUID join, and the `_([^_]+_\d+).mnc$` out-dir capture
    "q134_dicom_file_select" -> { (s, _) =>
      import s.implicits._
      val candidate = Seq((1001L, 111111L, "AAA001"),
        (1002L, 222222L, "BBB001")).toDF("ID", "CandID", "PSCID")
      val session = Seq((501L, 1001L, "V1"), (502L, 1002L, "V1"))
        .toDF("ID", "CandidateID", "Visit_label")
      val tarchive = Seq(
        (10L, 501L, "AAA001_111111_V1", "2024-01-05"),
        (11L, 502L, "BBB001_222222_V1", "2024-01-06"),
        (12L, 501L, "AAA001_111111_V1", "2024-02-01"))
        .toDF("TarchiveID", "SessionID", "PatientName", "DateAcquired")
      val files = Seq(
        ("assembly/1/AAA001_111111_V1_t1w_001.mnc", "S1", 0.0025, 301, 10L),
        ("assembly/1/AAA001_111111_V1_dwi65_002.mnc", "S2", 0.08, 302, 10L),
        ("assembly/2/BBB001_222222_V1_t1w_001.mnc", "S3", 0.0025, 301, 11L),
        ("assembly/3/AAA001_111111_V1_pd_003.mnc", "S4", 0.01, 302, 12L))
        .toDF("File", "SeriesUID", "EchoTime", "MriScanTypeID",
          "TarchiveSource")
      val scanTypes = Seq((301, "t1w"), (302, "dwi65b"))
        .toDF("MriScanTypeID", "MriScanTypeName")
      val series = Seq(
        (7001L, "S1", 2.5, "t1 mprage"), (7002L, "S2", 80.0, "dwi"),
        (7003L, "S3", 2.5, "t1"))
        .toDF("TarchiveSeriesID", "SeriesUID", "EchoTime",
          "SeriesDescription")
      val tfiles = Seq(
        (7001L, "IM-0001.dcm", "m1"), (7001L, "IM-0002.dcm", "m2"),
        (7002L, "IM-0003.dcm", "m3"), (7003L, "IM-0004.dcm", "m4"))
        .toDF("TarchiveSeriesID", "FileName", "md5sum")
      Maintenance.dicomFileSelection(tarchive, session, candidate, files,
        scanTypes, series, tfiles,
        namePatterns = Seq("AAA%"), typePatterns = Seq("t1%"))
    },

    // updateHeaders.pl -series 2 -set: PatientName MODIFIED in place,
    // InstitutionName INSERTED (tag absent in the fixture), series 3
    // untouched, the stray text member carried through — all read back
    // from the REBUILT archive (write → tar → gzip → tar → parse)
    "q136_update_headers" -> { (s, _) =>
      import graft.sources.{SyntheticFixtures, TarSink}
      val dir = graft.sources.SyntheticFixtures.freshDir("q136")
      def slice(series: Int, instance: Int): Array[Byte] =
        SyntheticFixtures.dicomBytes(Seq(
          SyntheticFixtures.dicomElem(0x0008, 0x0020, "DA", "20240102"),
          SyntheticFixtures.dicomElem(0x0008, 0x0060, "CS", "MR"),
          SyntheticFixtures.dicomElem(0x0010, 0x0010, "PN", "SUB^ONE"),
          SyntheticFixtures.dicomElem(0x0010, 0x0020, "LO", "SUB001"),
          SyntheticFixtures.dicomElem(0x0020, 0x000D, "UI", "1.2.3.9000"),
          SyntheticFixtures.dicomElem(0x0020, 0x000E, "UI",
            s"1.2.3.9000.$series"),
          SyntheticFixtures.dicomElem(0x0020, 0x0011, "IS", series.toString),
          SyntheticFixtures.dicomElem(0x0020, 0x0013, "IS",
            instance.toString)))
      val inner = TarSink.tarBytes(Seq(
        "study/" -> Array.emptyByteArray,
        "study/001.dcm" -> slice(2, 1),
        "study/002.dcm" -> slice(2, 2),
        "study/003.dcm" -> slice(3, 1)))
      val outer = TarSink.tarBytes(Seq(
        "upload/notes.txt" -> "operator log".getBytes("US-ASCII"),
        "upload/study.tar.gz" -> TarSink.gzipBytes(inner)))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "DCM_q136.tar"), outer)
      graft.operators.HeaderUpdater.reparse(
        graft.operators.HeaderUpdater.updateArchives(s, dir,
          sets = Seq("PatientName" -> "FOO^BAR", "(0008,0080)" -> "BIC"),
          targetSeries = Some(2), glob = "*.tar"))
    },

    // run_defacing_script.pl plan: image_type-gated selection (special
    // fieldmap LIKE filter drops the phase image), the Perl STRING-sort
    // t1 reference pick (FileID 1001 beats 999), whole-session skip when
    // a '-defaced' file exists, no-t1 fail-closed, register_processed
    // -ready rows
    "q137_defacing_plan" -> { (s, _) =>
      import s.implicits._
      val scanTypes = Seq((301, "t1w"), (302, "flair"), (303, "fieldmap"),
        (304, "t2w"), (305, "t1w-defaced"))
        .toDF("MriScanTypeID", "MriScanTypeName")
      val paramType = Seq((901, "acquisition:image_type"),
        (902, "other_param")).toDF("ParameterTypeID", "Name")
      val sessions = Seq((41L, 11L, "V1"), (42L, 11L, "V2"),
        (43L, 12L, "V1")).toDF("ID", "CandidateID", "Visit_label")
      val candidates = Seq((11L, 300001L), (12L, 300002L))
        .toDF("ID", "CandID")
      val files = Seq(
        (999L, 41L, 301, "assembly/c1/V1/mri/c1_V1_t1w_001.mnc"),
        (1001L, 41L, 301, "assembly/c1/V1/mri/c1_V1_t1w_002.mnc"),
        (1003L, 41L, 302, "assembly/c1/V1/mri/c1_V1_flair_001.mnc"),
        (1004L, 41L, 303, "assembly/c1/V1/mri/c1_V1_fieldmap_001.mnc"),
        (1005L, 41L, 303, "assembly/c1/V1/mri/c1_V1_fieldmap_002.mnc"),
        (1006L, 41L, 304, "assembly/c1/V1/mri/c1_V1_t2w_001.mnc"),
        (2001L, 42L, 301, "assembly/c1/V2/mri/c1_V2_t1w_001.mnc"),
        (2999L, 42L, 305, "assembly/c1/V2/mri/c1_V2_t1w_001_defaced.mnc"),
        (3001L, 43L, 302, "assembly/c2/V1/mri/c2_V1_flair_001.mnc"))
        .toDF("FileID", "SessionID", "MriScanTypeID", "File")
      val paramFile = Seq(
        (999L, 901, "ORIGINAL PRIMARY M ND"),
        (1001L, 901, "ORIGINAL PRIMARY M ND"),
        (1003L, 901, "ORIGINAL PRIMARY M ND"),
        (1004L, 901, "ORIGINAL PRIMARY M ND"),
        (1005L, 901, "ORIGINAL PRIMARY P ND"),
        (1006L, 901, "ORIGINAL PRIMARY M ND"),
        (2001L, 901, "ORIGINAL PRIMARY M ND"),
        (3001L, 901, "ORIGINAL PRIMARY M ND"),
        (1003L, 902, "unrelated"))
        .toDF("FileID", "ParameterTypeID", "Value")
      val selected = graft.operators.Defacing.selectFiles(files, scanTypes,
        paramFile, paramType,
        modalities = Seq("t1w", "flair", "fieldmap"),
        specialFilters = Map("fieldmap" -> "%PRIMARY M ND"))
      graft.operators.Defacing.planDefacing(selected, files, scanTypes,
        sessions, candidates)
    },

    // mass_pic.pl backfill: anti-join selection (a NULL-valued pic
    // parameter still selects — the temp table excludes NULL Values),
    // the `.mnc(.gz)?` base strip, `<base>_<FileID>_check.jpg` naming
    // under pic/<CandID>/, and the burned-in caption
    "q138_mass_pic" -> { (s, _) =>
      import s.implicits._
      val scanTypes = Seq((301, "t1w"), (302, "flair"))
        .toDF("MriScanTypeID", "MriScanTypeName")
      val sessions = Seq((41L, 11L, "V1"), (42L, 12L, "V2"))
        .toDF("ID", "CandidateID", "Visit_label")
      val candidates = Seq((11L, 300001L), (12L, 300002L))
        .toDF("ID", "CandID")
      val files = Seq(
        (1001L, 41L, 301, "assembly/c1/t1_001.mnc", "mnc"),
        (1002L, 41L, 302, "assembly/c1/flair_001.mnc.gz", "mnc"),
        (1003L, 42L, 301, "assembly/c2/t1_001.mnc", "mnc"),
        (1004L, 41L, 301, "assembly/c1/t1_002.xml", "xml"),
        (1005L, 42L, 301, "assembly/c2/t1_003.mnc", "mnc"))
        .toDF("FileID", "SessionID", "MriScanTypeID", "File", "FileType")
      val params = Seq(
        (1003L, "check_pic_filename", Some("300002/x.jpg")),
        (1005L, "check_pic_filename", None),
        (1001L, "other_param", Some("z")))
        .toDF("FileID", "Name", "Value")
      Maintenance.massPicBackfill(files, params, sessions, candidates,
        scanTypes)
    },

    // mass_nii.pl backfill: s/mnc$/nii/ + .gz naming, DWI sidecar
    // parameters riding the q130 truthiness gates, non-mnc and
    // already-converted files excluded
    "q139_mass_nii" -> { (s, _) =>
      import s.implicits._
      val files = Seq(
        (2001L, "a/dwi25.mnc", "mnc"),
        (2002L, "a/t1.mnc", "mnc"),
        (2003L, "a/has_nii.mnc", "mnc"),
        (2004L, "a/doc.pdf", "pdf"))
        .toDF("FileID", "File", "FileType")
      val params = Seq(
        (2001L, "acquisition:bvalues", "0. 1000."),
        (2001L, "acquisition:direction_x", "0.1"),
        (2001L, "acquisition:direction_y", "0.2"),
        (2001L, "acquisition:direction_z", "0.3"),
        (2003L, "check_nii_filename", "a/has_nii.nii.gz"))
        .toDF("FileID", "Name", "Value")
      Maintenance.massNiiBackfill(files, params)
    },

    // gzip_nifti_files.pl: .nii.gz skip, missing-on-fs warn, and the
    // BY-VALUE update quirk — rows 3004/3005 share one path and flip
    // together
    "q140_gzip_nifti" -> { (s, _) =>
      import s.implicits._
      val params = Seq(
        (3001L, "check_nii_filename", "a/t1.nii"),
        (3002L, "check_nii_filename", "a/flair.nii.gz"),
        (3003L, "check_nii_filename", "a/gone.nii"),
        (3004L, "check_nii_filename", "a/shared.nii"),
        (3005L, "check_nii_filename", "a/shared.nii"),
        (3006L, "other_param", "a/t1.nii"))
        .toDF("FileID", "Name", "Value")
      val fs = Seq("a/t1.nii", "a/shared.nii", "a/flair.nii.gz")
        .toDF("path")
      Maintenance.gzipNiftiUpdates(params, fs)
    },

    // remove_jiv_data_from_db_and_filesystem.pl: per-table deletion
    // footprint keyed on the jiv_path parameter type
    "q141_remove_jiv" -> { (s, _) =>
      import s.implicits._
      val paramType = Seq((901L, "jiv_path"), (902L, "check_pic_filename"))
        .toDF("ParameterTypeID", "Name")
      val paramFile = Seq(
        (1L, 901L, "jiv/a"), (2L, 901L, "jiv/b"), (3L, 902L, "pic/c"))
        .toDF("FileID", "ParameterTypeID", "Value")
      Maintenance.removeJivFootprint(paramType, paramFile)
    },

    // ProdToConfig.pl: updated vs kept-default vs no-config-row, and the
    // if_sge→is_qsub rename with is_qsub overriding
    "q142_prod_to_config" -> { (s, _) =>
      import s.implicits._
      val prod = Seq(
        ("dataDirBasepath", Some("/data/project")),
        ("prefix", None),
        ("if_sge", Some("0")),
        ("is_qsub", Some("1")),
        ("niak_path", Some("/opt/niak")))
        .toDF("name", "value")
      val configSettings = Seq(
        (11L, "dataDirBasepath"), (12L, "prefix"), (13L, "is_qsub"))
        .toDF("ID", "Name")
      val config = Seq(
        (11L, "/data/default"), (12L, "loris-"), (13L, "0"))
        .toDF("ConfigID", "Value")
      Maintenance.prodToConfig(prod, configSettings, config)
    },

    // delete_physiological_file.py cascade footprint: the sequential-state
    // quirks are all exercised — electrode-held point 74 SURVIVES the
    // sweep (electrodes delete later), the file's own coord system 51
    // survives (electrode_rel deletes later — the two-run quirk), orphan
    // coord 53 and pre-existing orphan point 76 are swept, shared point
    // 73 and the other file's rows are untouched
    "q143_physio_delete" -> { (s, _) =>
      import s.implicits._
      val tables = Map(
        "physiological_file" ->
          Seq(100L, 200L).toDF("PhysiologicalFileID"),
        "physiological_event_file" ->
          Seq((11L, 100L), (12L, 200L))
            .toDF("EventFileID", "PhysiologicalFileID"),
        "physiological_event_parameter" ->
          Seq((21L, 11L), (22L, 12L))
            .toDF("EventParameterID", "EventFileID"),
        "physiological_event_parameter_category_level" ->
          Seq((31L, 21L), (32L, 22L))
            .toDF("CategoryLevelID", "EventParameterID"),
        "physiological_channel" ->
          Seq((41L, 100L), (42L, 200L))
            .toDF("ChannelID", "PhysiologicalFileID"),
        "physiological_coord_system_electrode_rel" ->
          Seq((51L, 61L, 100L), (52L, 62L, 200L))
            .toDF("PhysiologicalCoordSystemID", "PhysiologicalElectrodeID",
              "PhysiologicalFileID"),
        "physiological_coord_system" ->
          Seq(51L, 52L, 53L).toDF("PhysiologicalCoordSystemID"),
        "physiological_coord_system_point_3d_rel" ->
          Seq((51L, 71L), (51L, 73L), (52L, 72L), (52L, 73L))
            .toDF("PhysiologicalCoordSystemID", "Point3DID"),
        "point_3d" ->
          Seq(71L, 72L, 73L, 74L, 75L, 76L).toDF("Point3DID"),
        "physiological_electrode" ->
          Seq((61L, 74L), (62L, 75L))
            .toDF("PhysiologicalElectrodeID", "Point3DID"),
        "physiological_parameter_file" ->
          Seq((81L, 100L), (82L, 200L))
            .toDF("ParameterID", "PhysiologicalFileID"),
        "physiological_archive" ->
          Seq((91L, 100L)).toDF("ArchiveID", "PhysiologicalFileID"),
        "physiological_event_archive" ->
          Seq((95L, 100L)).toDF("EventArchiveID", "PhysiologicalFileID"),
        "physiological_task_event" ->
          Seq((101L, 100L), (102L, 200L))
            .toDF("PhysiologicalTaskEventID", "PhysiologicalFileID"),
        "physiological_task_event_opt" ->
          Seq((111L, 101L), (112L, 102L))
            .toDF("OptID", "PhysiologicalTaskEventID"),
        "physiological_task_event_hed_rel" ->
          Seq((121L, 101L)).toDF("HedRelID", "PhysiologicalTaskEventID"))
      graft.operators.PhysioDelete.deleteFootprint(s,
        Seq(100L).toDF("file_id"), tables)
    },

    // addSeriesAndFileRecords.pl: archive → DCMSUM collapse → tarchive
    // lookup (DicomArchiveID + ArchiveLocation LIKE %basename) →
    // re-insertable tarchive_series records (echo splits the series, the
    // q79/q90 collapse)
    "q144_series_records" -> { (s, _) =>
      seriesRecords(s)._1
    },

    // ... and the tarchive_files records: per-file rows where non-DICOM
    // members keep md5 + name with NULL series fields
    // (`addSeriesAndFileRecords.pl:183-202`)
    "q145_file_records" -> { (s, _) =>
      seriesRecords(s)._2
    },

    // tools/dcmconvTarchive.pl over REAL archives: the one-inner-.tar.gz
    // gate (a .tgz does NOT count), per-member StudyUID DICOM probe,
    // dcmconv selection counts, and the dicomTar rebuild command
    "q153_dcmconv_plan" -> { (s, _) =>
      import graft.sources.{DicomSource, SyntheticFixtures, TarGzSource,
        TarSink}
      val dir = SyntheticFixtures.freshDir("q153")
      def put(name: String, bytes: Array[Byte]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, name), bytes)
      def dcm(uid: String): Array[Byte] = SyntheticFixtures.dicomBytes(Seq(
        SyntheticFixtures.dicomElem(0x0020, 0x000D, "UI", uid),
        SyntheticFixtures.dicomElem(0x0008, 0x0060, "CS", "MR")))
      val innerGood = TarSink.gzipBytes(TarSink.tarBytes(Seq(
        "study9/" -> Array.emptyByteArray,
        "study9/001.dcm" -> dcm("1.2.9"),
        "study9/002.dcm" -> dcm("1.2.9"),
        "study9/notes.txt" -> "not a dicom".getBytes("US-ASCII"))))
      // exactly one inner .tar.gz + a top-level stray file
      put("good.tar", TarSink.tarBytes(Seq(
        "meta.txt" -> "x".getBytes("US-ASCII"),
        "study9.tar.gz" -> innerGood)))
      // no inner .tar.gz at all (.tgz does not match the readdir grep)
      put("bad0.tar", TarSink.tarBytes(Seq(
        "study0.tgz" -> TarSink.gzipBytes(TarSink.tarBytes(Seq(
          "study0/a.dcm" -> dcm("1.2.0")))))))
      // two inner .tar.gz bundles
      put("bad2.tar", TarSink.tarBytes(Seq(
        "s1.tar.gz" -> innerGood, "s2.tar.gz" -> innerGood)))
      val members = DicomSource.extractHeaders(
        TarGzSource.members(s, dir, glob = "*.tar").toDF()
          .withColumn("path", col("member_path")))
      Maintenance.dcmconvPlan(members, binDir = "/opt/mri",
        database = true, profile = Some("prod"))
        // the fixture lives in a temp dir: basename the archive and
        // neutralize the target dir so the pinned oracle is
        // location-independent
        .withColumn("archive_path",
          element_at(split(col("archive_path"), "/"), -1))
        .withColumn("rebuild_command",
          regexp_replace(col("rebuild_command"),
            "pl <tmp>/(\\S+) \\S+ -clobber",
            "pl <tmp>/$1 <dir> -clobber"))
    },

    // tools/updateHeadersBatch.pl: spec-file-driven batch header update —
    // tab-separated spec rows keyed by '(XXXX,YYYY)' tag pairs (-keys=1:
    // SeriesNumber), per-file key-hash lookup, dcmodify insert-or-modify
    // per matched set pair, comment/blank lines skipped, trailing odd
    // field ignored ($i<$#bits), unmatched series and the stray text
    // member untouched — all read back from the REBUILT archive
    "q247_update_headers_batch" -> { (s, _) =>
      import graft.sources.{SyntheticFixtures, TarSink}
      val dir = SyntheticFixtures.freshDir("q247")
      def slice(series: Int, instance: Int): Array[Byte] =
        SyntheticFixtures.dicomBytes(Seq(
          SyntheticFixtures.dicomElem(0x0008, 0x0020, "DA", "20240102"),
          SyntheticFixtures.dicomElem(0x0008, 0x0060, "CS", "MR"),
          SyntheticFixtures.dicomElem(0x0010, 0x0010, "PN", "SUB^ONE"),
          SyntheticFixtures.dicomElem(0x0010, 0x0020, "LO", "SUB001"),
          SyntheticFixtures.dicomElem(0x0020, 0x000D, "UI", "1.2.3.9100"),
          SyntheticFixtures.dicomElem(0x0020, 0x000E, "UI",
            s"1.2.3.9100.$series"),
          SyntheticFixtures.dicomElem(0x0020, 0x0011, "IS", series.toString),
          SyntheticFixtures.dicomElem(0x0020, 0x0013, "IS",
            instance.toString)))
      val inner = TarSink.tarBytes(Seq(
        "study/" -> Array.emptyByteArray,
        "study/001.dcm" -> slice(2, 1),
        "study/002.dcm" -> slice(2, 2),
        "study/003.dcm" -> slice(3, 1),
        "study/004.dcm" -> slice(4, 1),
        "study/005.dcm" -> slice(5, 1)))
      val outer = TarSink.tarBytes(Seq(
        "upload/notes.txt" -> "operator log".getBytes("US-ASCII"),
        "upload/study.tar.gz" -> TarSink.gzipBytes(inner)))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "DCM_q247.tar"), outer)
      val specLines = Seq(
        "# batch header fixes for study 1.2.3.9100",
        "",
        "(0020,0011)\t2\tPatientName\tFOO^BAR\t(0008,0080)\tBIC",
        "(0020,0011)\t3\tPatientID\tNEW01",
        // trailing odd field: ORPHAN is dropped by the $i<$#bits loop
        "(0020,0011)\t4\tPatientName\tX^FOUR\tORPHAN")
      graft.operators.HeaderUpdater.reparse(
        graft.operators.HeaderUpdater.updateArchivesBatch(s, dir,
          specLines, keyCols = 1, glob = "*.tar"))
    },

    // tools/batch_run_pipeline_qc_face_script.pl: counter-indexed logs,
    // .mnc→.jpg output naming, Perl quotemeta escaping, qsub job names
    "q154_qcface_batch" -> { (s, _) =>
      import s.implicits._
      val lines = Seq(
        (1L, "/data/assembly/123456/V01/mri/t1w-defaced_001.mnc"),
        (2L, "/data/assembly/123457/V01/mri/t2w-defaced_001.mnc"),
        (3L, "/data/in/flair.nii"))
        .toDF("line_no", "file_in")
      graft.operators.BatchUploader.qcFaceCommands(lines,
        dataDir = "/data/p", outBasedir = "/out/qc", isQsub = true)
    },

    // tools/dicomDescribe.pl (DICOM::DICOM::printContents): the FULL
    // per-element header dump of a file — file-meta group included, tag
    // pair in hex, VR, value length, decoded text values, and the DCMSUM
    // field name for the summary tags. A non-DICOM sibling proves the
    // no-rows branch.
    "q155_dicom_describe" -> { (s, _) =>
      import s.implicits._
      import graft.sources.{DicomSource, DicomTagParser, SyntheticFixtures}
      val dir = SyntheticFixtures.freshDir("q155")
      def put(name: String, bytes: Array[Byte]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, name), bytes)
      put("scan.dcm", SyntheticFixtures.dicomBytes(Seq(
        SyntheticFixtures.dicomElem(0x0008, 0x0020, "DA", "20240102"),
        SyntheticFixtures.dicomElem(0x0008, 0x0060, "CS", "MR"),
        SyntheticFixtures.dicomElem(0x0010, 0x0010, "PN",
          "MTL0001_300001_V1"),
        SyntheticFixtures.dicomElem(0x0020, 0x000D, "UI", "1.2.3.9000"))))
      put("notes.txt", "not a dicom".getBytes("US-ASCII"))
      DicomSource.scanDir(s, dir)
        .select(element_at(split(col("path"), "/"), -1).as("file"),
          col("content"))
        .as[(String, Array[Byte])]
        .flatMap { case (f, b) =>
          DicomTagParser.describe(b).map(e =>
            (f, f"${e.group}%04X", f"${e.element}%04X", e.vr, e.vl,
              e.value, e.field_name))
        }
        .toDF("file", "tag_group", "tag_element", "vr", "vl", "value",
          "field_name")
    },

    // get_dicom_info.pl field-selection mode (get_dicom_info.pl:128-195):
    // ordered field table over a DICOM file list — requested-order
    // columns, UNDEF for empty fields, the computed slicepos pseudo-field
    // (position · sign-corrected orientation normal), and the croft skip
    // for files lacking ImagePositionPatient. Exactly-representable
    // position values make the pinned rows float-stable: axial
    // (1\0\0\0\1\0) -> slicepos = z; coronal (1\0\0\0\0\-1) -> normal
    // (0,-1,0) flips to (0,1,0) -> slicepos = -y
    "q280_dicom_info_table" -> { (s, _) =>
      import graft.sources.{DicomSource, SyntheticFixtures}
      val dir = SyntheticFixtures.freshDir("q280")
      def put(name: String, bytes: Array[Byte]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, name), bytes)
      def scan(series: String, te: String, pname: String,
          posOrient: Seq[(Int, Int, String, String)]): Array[Byte] =
        SyntheticFixtures.dicomBytes(
          Seq(SyntheticFixtures.dicomElem(0x0008, 0x0060, "CS", "MR"),
            SyntheticFixtures.dicomElem(0x0010, 0x0010, "PN", pname)) ++
          (if (te.isEmpty) Nil
           else Seq(SyntheticFixtures.dicomElem(0x0018, 0x0081, "DS", te))) ++
          Seq(SyntheticFixtures.dicomElem(0x0020, 0x0011, "IS", series)) ++
          posOrient.map { case (g, e, vr, v) =>
            SyntheticFixtures.dicomElem(g, e, vr, v) })
      put("axial.dcm", scan("2", "25.5", "SUB01", Seq(
        (0x0020, 0x0032, "DS", "12.5\\-25.25\\100.5"),
        (0x0020, 0x0037, "DS", "1\\0\\0\\0\\1\\0"))))
      put("coronal.dcm", scan("3", "80", "SUB02", Seq(
        (0x0020, 0x0032, "DS", "5\\-37.75\\10"),
        (0x0020, 0x0037, "DS", "1\\0\\0\\0\\0\\-1"))))
      put("no_te.dcm", scan("4", "", "SUB03", Seq(
        (0x0020, 0x0032, "DS", "0\\0\\-50.25"),
        (0x0020, 0x0037, "DS", "1\\0\\0\\0\\1\\0"))))
      put("no_pos.dcm", scan("5", "30", "SUB04", Nil)) // croft skip
      put("notes.txt", "not a dicom".getBytes("US-ASCII"))
      DicomSource.fieldTable(s,
        DicomSource.scanDir(s, dir)
          .withColumn("path", element_at(split(col("path"), "/"), -1)),
        Seq("filename", "series_number", "echo_time", "patient_name",
          "slicepos"))
    },

    // DTI.pm getRejectedDirections + DTIPrepRegister insertPipelineSummary
    // (DTI.pm:1151-1233, DTIPrepRegister.pl:1252-1300): QC XML reports ->
    // minc-header feedback rows. Report 2 is DTIPrepNoReg: intergradient
    // header skipped, its count subtracted from total_rejected
    "q281_dtiprep_qc_feedback" -> { (s, _) =>
      import s.implicits._
      def grad(n: String, st: String) =
        s"""<entry parameter="gradient_$n"><processing>$st</processing></entry>"""
      val xml1 = s"""<?xml version="1.0"?><QCResultSettings>
        |<entry parameter="DWI Check">
        |${grad("0000", "INCLUDE")}${grad("0001", "EXCLUDE_SLICECHECK")}
        |${grad("0002", "INCLUDE")}${grad("0003", "EXCLUDE_GRADIENTCHECK")}
        |${grad("0007", "EXCLUDE_SLICECHECK")}
        |${grad("0010", "EXCLUDE_INTERLACECHECK")}${grad("0011", "INCLUDE")}
        |</entry></QCResultSettings>""".stripMargin
      val xml2 = s"""<?xml version="1.0"?><QCResultSettings>
        |<entry parameter="DWI Check">
        |${grad("0000", "INCLUDE")}${grad("0001", "EXCLUDE_GRADIENTCHECK")}
        |${grad("0002", "EXCLUDE_SLICECHECK")}${grad("0003", "INCLUDE")}
        |</entry></QCResultSettings>""".stripMargin
      val reports = Seq((1, xml1, "DTIPrepReg"), (2, xml2, "DTIPrepNoReg"))
        .toDF("file_id", "xml", "scan_type")
      graft.operators.DtiQc.pipelineSummaryHeaders(
        reports, "file_id", "xml", "scan_type")
    },

    // DTI.pm createDTIhashref/determinePreprocOutputs (DTI.pm:324-397):
    // protocol-XML-driven output naming per raw DWI file
    "q282_dtiprep_outputs" -> { (s, _) =>
      import s.implicits._
      val prot = Seq((1, dtiProtocolXml)).toDF("prot_id", "xml")
      val protRows = graft.operators.DtiQc.protocolRows(prot, "prot_id", "xml")
      val files = Seq("native/sub1_dti.mnc", "native/sub2_run-02_dti.mnc")
        .toDF("file_path")
      graft.operators.DtiQc.preprocOutputs(files, "file_path",
        "/data/out/DTIPrep", "protocol.xml", protRows)
    },

    // DTI.pm readDTIPrepXMLprot (DTI.pm:282-293): the XML protocol as a
    // (path, name, value) relation — nested entries extend the path,
    // repeated <value> leaves (IMAGE_size) produce one row each in
    // document order (XML::Simple's ForceArray)
    "q283_dtiprep_protocol" -> { (s, _) =>
      import s.implicits._
      graft.operators.DtiQc.protocolRows(
        Seq((1, dtiProtocolXml)).toDF("prot_id", "xml"), "prot_id", "xml")
    }
  )

  /** Shared DTIPrep XML protocol fixture for q282/q283. */
  private val dtiProtocolXml: String =
    """<?xml version="1.0"?><ProtocolSettings>
      |<entry parameter="QC_QCedDWIFileNameSuffix"><value>_QCed.nrrd</value></entry>
      |<entry parameter="QC_reportFileNameSuffix"><value>_QCReport.txt</value></entry>
      |<entry parameter="DTI_bCompute"><value>Yes</value></entry>
      |<entry parameter="IMAGE_bCheck">
      |<entry parameter="IMAGE_size"><value>96</value><value>96</value><value>65</value></entry>
      |<value>Yes</value>
      |</entry></ProtocolSettings>""".stripMargin

  /** Shared composition for q144/q145 — the addSeriesAndFileRecords.pl
    * vertical over a two-series fixture archive. */
  private def seriesRecords(s: SparkSession): (DataFrame, DataFrame) = {
    import graft.sources.{DicomSource, SyntheticFixtures, TarGzSource, TarSink}
    import s.implicits._
    val dir = SyntheticFixtures.freshDir("q144")
    def slice(series: Int, desc: String, et: String, instance: Int,
              echoNo: String): Array[Byte] =
      SyntheticFixtures.dicomBytes(Seq(
        SyntheticFixtures.dicomElem(0x0008, 0x0020, "DA", "20240102"),
        SyntheticFixtures.dicomElem(0x0008, 0x0060, "CS", "MR"),
        SyntheticFixtures.dicomElem(0x0008, 0x103E, "LO", desc),
        SyntheticFixtures.dicomElem(0x0010, 0x0020, "LO", "SUB001"),
        SyntheticFixtures.dicomElem(0x0018, 0x0024, "SH", "*tfl3d1"),
        SyntheticFixtures.dicomElem(0x0018, 0x0050, "DS", "1"),
        SyntheticFixtures.dicomElem(0x0018, 0x0080, "DS", "2300"),
        SyntheticFixtures.dicomElem(0x0018, 0x0081, "DS", et),
        SyntheticFixtures.dicomElem(0x0018, 0x0082, "DS", "900"),
        SyntheticFixtures.dicomElem(0x0018, 0x0086, "IS", echoNo),
        SyntheticFixtures.dicomElem(0x0018, 0x1312, "CS", "ROW"),
        SyntheticFixtures.dicomElem(0x0020, 0x000D, "UI", "1.2.3.9144"),
        SyntheticFixtures.dicomElem(0x0020, 0x000E, "UI",
          s"1.2.3.9144.$series"),
        SyntheticFixtures.dicomElem(0x0020, 0x0011, "IS", series.toString),
        SyntheticFixtures.dicomElem(0x0020, 0x0013, "IS",
          instance.toString)))
    // the non-DICOM README sits INSIDE the DICOM dir: the reference's
    // find() walks only $tempdir/$dcmdir, so outer-tar strays (notes.txt)
    // are never summarized but in-dir non-DICOM files get NULL-field rows
    val inner = TarSink.tarBytes(Seq(
      "study/" -> Array.emptyByteArray,
      "study/001.dcm" -> slice(2, "t1 mprage", "25.5", 1, "1"),
      "study/002.dcm" -> slice(2, "t1 mprage", "25.5", 2, "1"),
      "study/003.dcm" -> slice(3, "dwi b1000", "80", 1, "1"),
      "study/README.txt" -> "scanner operator notes".getBytes("US-ASCII")))
    val outer = TarSink.tarBytes(Seq(
      "upload/notes.txt" -> "operator log".getBytes("US-ASCII"),
      "upload/study.tar.gz" -> TarSink.gzipBytes(inner)))
    val archiveName = "DCM_q144.tar"
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, archiveName), outer)
    val headers = DicomSource.extractHeaders(
      TarGzSource.members(s, dir, glob = "*.tar").toDF()
        .filter(col("nested_in").isNotNull && !col("is_dir"))
        .select(col("archive_path"), col("member_path").as("path"),
          col("content")))
    // the reference's tarchive lookup: DicomArchiveID=? AND ArchiveLocation
    // LIKE %basename (`addSeriesAndFileRecords.pl:100-116`)
    val tarchive = broadcast(Seq(
      (77L, "1.2.3.9144", "2024/DCM_q144.tar"),
      (78L, "1.2.3.9999", "2024/DCM_other.tar"))
      .toDF("TarchiveID", "DicomArchiveID", "ArchiveLocation"))
    def bound(uid: Column): Column =
      col("DicomArchiveID") === uid &&
        col("ArchiveLocation").endsWith(archiveName)
    val seriesDf = graft.operators.DicomSummary.series(
        headers.filter(col("is_dicom")))
      .join(tarchive, bound(col("study_uid")))
      .select(col("TarchiveID").as("tarchive_id"),
        col("SeriesNumber").as("series_number"),
        col("SeriesDescription").as("series_description"),
        col("SequenceName").as("sequence_name"),
        col("EchoTime").as("echo_time"),
        col("RepetitionTime").as("repetition_time"),
        col("InversionTime").as("inversion_time"),
        col("SliceThickness").as("slice_thickness"),
        col("PhaseEncoding").as("phase_encoding"),
        col("NumberOfFiles").as("number_of_files"),
        col("SeriesUID").as("series_uid"))
    // every member of an archive, non-DICOM ones too, takes the
    // archive's study uid
    val filesDf = headers
      .withColumn("__uid", min(when(col("is_dicom"), col("study_uid")))
        .over(Window.partitionBy(col("archive_path"))))
      .join(tarchive, bound(col("__uid")))
      .select(col("TarchiveID").as("tarchive_id"),
        when(col("is_dicom"), col("series_number")).as("series_number"),
        when(col("is_dicom"), col("instance_number")).as("file_number"),
        when(col("is_dicom"), col("echo_number")).as("echo_number"),
        when(col("is_dicom"), col("series_description"))
          .as("series_description"),
        col("md5").as("md5sum"),
        element_at(split(col("file_path"), "/"), -1).as("file_name"))
    (seriesDf, filesDf)
  }

  val oracle: Map[String, String] = Map(
    "q127_relativize_archive" ->
      """WITH t AS (
        |  SELECT o_orderkey AS tarchive_id,
        |    CASE WHEN o_orderkey % 3 = 0
        |      THEN '/data/tarchive/' || CAST(o_custkey AS VARCHAR)
        |        || '/DCM_' || CAST(o_orderkey AS VARCHAR) || '.tar'
        |    WHEN o_orderkey % 3 = 1
        |      THEN 'DCM_' || CAST(o_orderkey AS VARCHAR) || '.tar'
        |    ELSE 'x/data/tarchive/DCM_' || CAST(o_orderkey AS VARCHAR)
        |      || '.tar' END AS archive_location
        |  FROM orders WHERE o_orderkey < 200)
        |SELECT tarchive_id, archive_location,
        |  replace(replace(archive_location, '/data/tarchive/', ''),
        |          '/data/tarchive', '') AS new_archive_location
        |FROM t""".stripMargin,

    "q128_relativize_db_paths" ->
      """SELECT * FROM (VALUES
        |  ('files', CAST(1 AS BIGINT), CAST(NULL AS VARCHAR),
        |   '/data/assembly/t1.mnc', 'assembly/t1.mnc'),
        |  ('files', 2, NULL, '/DATA/assembly/t2.mnc', 'assembly/t2.mnc'),
        |  ('files', 4, NULL, '/data/sub/data/x.mnc', 'sub/data/x.mnc'),
        |  ('files', 5, NULL, '/database/y.mnc', '/database/y.mnc'),
        |  ('parameter_file', 1, 'check_pic_filename', '/data/pic/t1.png',
        |   'pic/t1.png'),
        |  ('parameter_file', 2, 'tarchiveLocation', '/DATA/tarchive/a.tar',
        |   'tarchive/a.tar')
        |) AS t(table_name, file_id, param_name, old_path, new_path)""".stripMargin,

    "q129_tarchive_cleanup" ->
      """SELECT * FROM (VALUES
        |  ('2024/DCM_A.tar', '/tank/2024/DCM_A.tar', 'match'),
        |  ('2024/DCM_A.tar', '/tank/2023/DCM_A.tar', 'remove_duplicate'),
        |  ('2024/DCM_B.tar', '/tank/2024/DCM_B.tar', 'keep_no_real'),
        |  ('2024/DCM_C.tar', CAST(NULL AS VARCHAR), 'no_fs_match'),
        |  ('2024/DCM_D_1.tar', '/tank/2024/DCM_D_1.tar', 'match'),
        |  ('2024/DCM_D_1.tar', '/tank/2024/DCM_D_2.tar', 'remove_duplicate')
        |) AS t(archive_location, fs_path, status)""".stripMargin,

    "q130_dwi_sidecars" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'a/dwi25.mnc', 'a/dwi25.bval',
        |   '0. 1000. 2000', 'a/dwi25.bvec',
        |   '0.10.2' || chr(10) || '0.3' || chr(10) || '0.5' || chr(10)),
        |  (2, 'a/dwi65.mnc', 'a/dwi65.bval', '5', CAST(NULL AS VARCHAR),
        |   CAST(NULL AS VARCHAR)),
        |  (3, 'a/noscan.mnc', NULL, NULL, NULL, NULL),
        |  (4, 'a/dwi0.mnc', NULL, NULL, NULL, NULL)
        |) AS t(file_id, file, bval_filename, bval_content, bvec_filename,
        |       bvec_content)""".stripMargin,

    "q131_snr_backpopulate" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 't1w', '52.1', 'snr_set'),
        |  (2, 't1w', '48.0', 'snr_updated'),
        |  (3, 't2w', '33.0', 'snr_set'),
        |  (4, 't1w', CAST(NULL AS VARCHAR), 'snr_empty'),
        |  (5, 'dwi', NULL, 'unsupported_modality')
        |) AS t(file_id, scan_type, snr, action)""".stripMargin,

    "q132_violation_trashbin" ->
      """SELECT * FROM (VALUES
        |  ('MRICandidateErrors', CAST(101 AS BIGINT), 'assembly/s1/v1.mnc',
        |   'trashbin/s1/v1.mnc'),
        |  ('mri_protocol_violated_scans', 201, 'assembly/s2/v2.mnc',
        |   'trashbin/s2/v2.mnc'),
        |  ('mri_violations_log', 301, 'assembly/s3/v3.mnc', 'reg/a.mnc'),
        |  ('mri_violations_log', 302, 'assembly/s4/v4.mnc',
        |   CAST(NULL AS VARCHAR)),
        |  ('mri_violations_log', 303, 'assembly/s5/v5.mnc',
        |   'trashbin/s5/v5.mnc'),
        |  ('mri_violations_log', 304, 'assembly/s6/v6.mnc', 'reg/d_lo.mnc')
        |) AS t(table_name, row_id, old_path, new_path)""".stripMargin,

    "q133_seriesuid_report" ->
      """SELECT * FROM (VALUES
        |  ('U1', 'ep2d_dti', '10 (60)', '21 (1)', 'warning', '9001 (60)',
        |   'u1.mnc'),
        |  ('U2', 'AAHScout localizer', '11 (12)', '', '', 'exclude', ''),
        |  ('U3', '', '', '', '', '', ''),
        |  ('U4', 't1_mprage', '12 (176)', '22 (1)', '', '9002 (0)',
        |   'u4.mnc'),
        |  ('U5', 'dwi_b1000', '13 (60)', '31 (2)', '', '9003 (10)',
        |   'u5a.mnc')
        |) AS t(series_uid, series_description, tarchive_id, m_p_v_s_id,
        |       mri_v_log, file_id, file_name)""".stripMargin,

    "q134_dicom_file_select" ->
      """SELECT * FROM (VALUES
        |  (CAST(10 AS BIGINT), 'assembly/1/AAA001_111111_V1_t1w_001.mnc',
        |   'IM-0001.dcm', 'm1', '111111/V1/2024-01-05/t1w_001_t1 mprage'),
        |  (10, 'assembly/1/AAA001_111111_V1_t1w_001.mnc', 'IM-0002.dcm',
        |   'm2', '111111/V1/2024-01-05/t1w_001_t1 mprage')
        |) AS t(tarchive_id, minc_file, dicom_file, md5sum, out_dir)""".stripMargin,

    "q136_update_headers" ->
      """SELECT * FROM (VALUES
        |  ('study/001.dcm', '2', 'FOO^BAR', 'SUB001', 'BIC'),
        |  ('study/002.dcm', '2', 'FOO^BAR', 'SUB001', 'BIC'),
        |  ('study/003.dcm', '3', 'SUB^ONE', 'SUB001', CAST(NULL AS VARCHAR))
        |) AS t(member_path, series_number, patient_name, patient_id,
        |       institution)""".stripMargin,

    "q247_update_headers_batch" ->
      """SELECT * FROM (VALUES
        |  ('study/001.dcm', '2', 'FOO^BAR', 'SUB001', 'BIC'),
        |  ('study/002.dcm', '2', 'FOO^BAR', 'SUB001', 'BIC'),
        |  ('study/003.dcm', '3', 'SUB^ONE', 'NEW01', CAST(NULL AS VARCHAR)),
        |  ('study/004.dcm', '4', 'X^FOUR', 'SUB001', CAST(NULL AS VARCHAR)),
        |  ('study/005.dcm', '5', 'SUB^ONE', 'SUB001', CAST(NULL AS VARCHAR))
        |) AS t(member_path, series_number, patient_name, patient_id,
        |       institution)""".stripMargin,

    "q137_defacing_plan" ->
      """SELECT * FROM (VALUES
        |  (CAST(41 AS BIGINT), CAST(300001 AS BIGINT), 'V1',
        |   CAST(999 AS BIGINT), 't1w', 'other', 'deface', 't1w-defaced',
        |   'deface/300001/V1/c1_V1_t1w_001_defaced.mnc', 'MINC_deface',
        |   'defaced', 'native', CAST(999 AS BIGINT)),
        |  (41, 300001, 'V1', 1001, 't1w', 'ref', 'deface', 't1w-defaced',
        |   'deface/300001/V1/c1_V1_t1w_002_defaced.mnc', 'MINC_deface',
        |   'defaced', 'native', 1001),
        |  (41, 300001, 'V1', 1003, 'flair', 'other', 'deface',
        |   'flair-defaced', 'deface/300001/V1/c1_V1_flair_001_defaced.mnc',
        |   'MINC_deface', 'defaced', 'native', 1003),
        |  (41, 300001, 'V1', 1004, 'fieldmap', 'other', 'deface',
        |   'fieldmap-defaced',
        |   'deface/300001/V1/c1_V1_fieldmap_001_defaced.mnc',
        |   'MINC_deface', 'defaced', 'native', 1004),
        |  (42, 300001, 'V2', 2001, 't1w', CAST(NULL AS VARCHAR),
        |   'skip_already_defaced', CAST(NULL AS VARCHAR),
        |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS BIGINT)),
        |  (43, 300002, 'V1', 3001, 'flair', NULL, 'no_t1_reference', NULL,
        |   NULL, NULL, NULL, NULL, NULL)
        |) AS t(session_id, cand_id, visit_label, file_id, scan_type, role,
        |       status, defaced_scan_type, defaced_path, source_pipeline,
        |       output_type, coordinate_space, source_file_id)""".stripMargin,

    "q138_mass_pic" ->
      """SELECT * FROM (VALUES
        |  (CAST(1001 AS BIGINT), CAST(300001 AS BIGINT), 'V1', 't1w',
        |   't1_001_1001_check.jpg', '300001/t1_001_1001_check.jpg',
        |   '300001.V1.t1w'),
        |  (1002, 300001, 'V1', 'flair', 'flair_001_1002_check.jpg',
        |   '300001/flair_001_1002_check.jpg', '300001.V1.flair'),
        |  (1005, 300002, 'V2', 't1w', 't1_003_1005_check.jpg',
        |   '300002/t1_003_1005_check.jpg', '300002.V2.t1w')
        |) AS t(file_id, cand_id, visit_label, scan_type, pic_basename,
        |       check_pic_filename, caption)""".stripMargin,

    "q139_mass_nii" ->
      """SELECT * FROM (VALUES
        |  (CAST(2001 AS BIGINT), 'a/dwi25.mnc', 'a/dwi25.nii.gz',
        |   'a/dwi25.bval', 'a/dwi25.bvec'),
        |  (2002, 'a/t1.mnc', 'a/t1.nii.gz', CAST(NULL AS VARCHAR),
        |   CAST(NULL AS VARCHAR))
        |) AS t(file_id, file, check_nii_filename, check_bval_filename,
        |       check_bvec_filename)""".stripMargin,

    "q140_gzip_nifti" ->
      """SELECT * FROM (VALUES
        |  (CAST(3001 AS BIGINT), 'a/t1.nii', 'a/t1.nii.gz', 'gzipped'),
        |  (3002, 'a/flair.nii.gz', CAST(NULL AS VARCHAR),
        |   'already_gzipped'),
        |  (3003, 'a/gone.nii', NULL, 'missing_on_fs'),
        |  (3004, 'a/shared.nii', 'a/shared.nii.gz', 'gzipped'),
        |  (3005, 'a/shared.nii', 'a/shared.nii.gz', 'gzipped')
        |) AS t(file_id, value, new_value, action)""".stripMargin,

    "q141_remove_jiv" ->
      """SELECT * FROM (VALUES
        |  ('parameter_file', CAST(2 AS BIGINT)),
        |  ('parameter_type', CAST(1 AS BIGINT))
        |) AS t(table_name, n_deleted)""".stripMargin,

    "q142_prod_to_config" ->
      """SELECT * FROM (VALUES
        |  ('dataDirBasepath', '/data/default', '/data/project', 'updated'),
        |  ('prefix', 'loris-', 'loris-', 'kept_default'),
        |  ('is_qsub', '0', '1', 'updated'),
        |  ('niak_path', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |   'no_config_row')
        |) AS t(config_name, old_value, new_value, action)""".stripMargin,

    "q143_physio_delete" ->
      """SELECT * FROM (VALUES
        |  ('physiological_event_parameter_category_level',
        |   CAST(1 AS BIGINT)),
        |  ('physiological_event_parameter', 1),
        |  ('physiological_channel', 1),
        |  ('physiological_coord_system_point_3d_rel', 2),
        |  ('point_3d', 2),
        |  ('physiological_coord_system', 1),
        |  ('physiological_coord_system_electrode_rel', 1),
        |  ('physiological_electrode', 1),
        |  ('physiological_parameter_file', 1),
        |  ('physiological_archive', 1),
        |  ('physiological_event_archive', 1),
        |  ('physiological_task_event_opt', 1),
        |  ('physiological_task_event_hed_rel', 1),
        |  ('physiological_task_event', 1),
        |  ('physiological_event_file', 1),
        |  ('physiological_file', 1)
        |) AS t(table_name, n_deleted)""".stripMargin,

    "q144_series_records" ->
      """SELECT * FROM (VALUES
        |  (CAST(77 AS BIGINT), 2, 't1 mprage', '*tfl3d1',
        |   CAST(25.5 AS DOUBLE), CAST(2300.0 AS DOUBLE),
        |   CAST(900.0 AS DOUBLE), CAST(1.0 AS DOUBLE), 'ROW', 2,
        |   '1.2.3.9144.2'),
        |  (77, 3, 'dwi b1000', '*tfl3d1', 80.0, 2300.0, 900.0, 1.0,
        |   'ROW', 1, '1.2.3.9144.3')
        |) AS t(tarchive_id, series_number, series_description,
        |       sequence_name, echo_time, repetition_time, inversion_time,
        |       slice_thickness, phase_encoding, number_of_files,
        |       series_uid)""".stripMargin,

    // md5 literals pinned from the deterministic fixture bytes (the
    // builders are timestamp-free, so the hashes are stable)
    "q145_file_records" ->
      """SELECT * FROM (VALUES
        |  (CAST(77 AS BIGINT), 2, 1, 1, 't1 mprage',
        |   '4b7c4d8cd2f9dad553aee36509684d31', '001.dcm'),
        |  (77, 2, 2, 1, 't1 mprage',
        |   '39b47027b83e9ca86f6cfa3b0f9b6e87', '002.dcm'),
        |  (77, 3, 1, 1, 'dwi b1000',
        |   'cd5bab147fe88f3efa4c90422d279242', '003.dcm'),
        |  (77, CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
        |   CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR),
        |   'da542bb513e9ec0ec15bdb76d2c44ed4', 'README.txt')
        |) AS t(tarchive_id, series_number, file_number, echo_number,
        |       series_description, md5sum, file_name)""".stripMargin,

    "q153_dcmconv_plan" ->
      """SELECT * FROM (VALUES
        |  ('good.tar', 'rebuilt', 'study9', CAST(3 AS BIGINT),
        |   CAST(2 AS BIGINT), CAST(1 AS BIGINT),
        |   '/opt/mri/dicom-archive/dicomTar.pl <tmp>/study9 <dir> -clobber -database -profile prod'),
        |  ('bad0.tar', 'no_inner_tar', CAST(NULL AS VARCHAR), NULL, NULL,
        |   NULL, CAST(NULL AS VARCHAR)),
        |  ('bad2.tar', 'multiple_inner_tars', NULL, NULL, NULL, NULL,
        |   NULL)
        |) AS t(archive_path, status, dcm_dir, n_files, n_dicom_converted,
        |       n_non_dicom_skipped, rebuild_command)""".stripMargin,

    "q154_qcface_batch" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT),
        |   '/data/assembly/123456/V01/mri/t1w-defaced_001.mnc',
        |   '/out/qc/t1w-defaced_001.jpg',
        |   'pipeline_qc_face.pl \/data\/assembly\/123456\/V01\/mri\/t1w\-defaced_001\.mnc \/out\/qc\/t1w\-defaced_001\.jpg',
        |   '/data/p/batch_output/defaceqcstdout.log1',
        |   '/data/p/batch_output/defaceqcstderr.log1',
        |   'process_qc_deface_1'),
        |  (2, '/data/assembly/123457/V01/mri/t2w-defaced_001.mnc',
        |   '/out/qc/t2w-defaced_001.jpg',
        |   'pipeline_qc_face.pl \/data\/assembly\/123457\/V01\/mri\/t2w\-defaced_001\.mnc \/out\/qc\/t2w\-defaced_001\.jpg',
        |   '/data/p/batch_output/defaceqcstdout.log2',
        |   '/data/p/batch_output/defaceqcstderr.log2',
        |   'process_qc_deface_2'),
        |  (3, '/data/in/flair.nii', '/out/qc/flair.nii.jpg',
        |   'pipeline_qc_face.pl \/data\/in\/flair\.nii \/out\/qc\/flair\.nii\.jpg',
        |   '/data/p/batch_output/defaceqcstdout.log3',
        |   '/data/p/batch_output/defaceqcstderr.log3',
        |   'process_qc_deface_3')
        |) AS t(line_no, file_in, file_out, command, stdout_log,
        |       stderr_log, qsub_job_name)""".stripMargin,

    "q155_dicom_describe" ->
      """SELECT * FROM (VALUES
        |  ('scan.dcm', '0002', '0010', 'UI', CAST(20 AS BIGINT),
        |   '1.2.840.10008.1.2.1', CAST(NULL AS VARCHAR)),
        |  ('scan.dcm', '0008', '0020', 'DA', 8, '20240102', 'study_date'),
        |  ('scan.dcm', '0008', '0060', 'CS', 2, 'MR', 'modality'),
        |  ('scan.dcm', '0010', '0010', 'PN', 18, 'MTL0001_300001_V1',
        |   'patient_name'),
        |  ('scan.dcm', '0020', '000D', 'UI', 10, '1.2.3.9000',
        |   'study_uid')
        |) AS t(file, tag_group, tag_element, vr, vl, value,
        |       field_name)""".stripMargin,

    // get_dicom_info.pl: requested-order field table; no_pos.dcm (croft
    // skip) and notes.txt (isDicomImage gate) produce no row; all three
    // slicepos values are exactly representable doubles
    "q280_dicom_info_table" ->
      """SELECT * FROM (VALUES
        |  ('axial.dcm', '2', '25.5', 'SUB01', CAST(100.5 AS DOUBLE)),
        |  ('coronal.dcm', '3', '80', 'SUB02', CAST(37.75 AS DOUBLE)),
        |  ('no_te.dcm', '4', 'UNDEF', 'SUB03', CAST(-50.25 AS DOUBLE))
        |) AS t(filename, series_number, echo_time, patient_name,
        |       slicepos)""".stripMargin,

    // DTI.pm QC feedback: report 1 (DTIPrepReg) carries all four headers;
    // report 2 (DTIPrepNoReg) skips intergradient and subtracts its count
    // from total (2 excluded - 1 intergradient = 1)
    "q281_dtiprep_qc_feedback" ->
      """SELECT * FROM (VALUES
        |  ('1', 'processing:slicewise_rejected', '''Directions 1,7(2)'''),
        |  ('1', 'processing:interlace_rejected', '''Directions 10(1)'''),
        |  ('1', 'processing:intergradient_rejected',
        |   '''Directions 3(1)'''),
        |  ('1', 'processing:total_rejected', '4'),
        |  ('2', 'processing:slicewise_rejected', '''Directions 2(1)'''),
        |  ('2', 'processing:interlace_rejected', '''Directions (0)'''),
        |  ('2', 'processing:total_rejected', '1')
        |) AS t(file_id, header, value)""".stripMargin,

    "q282_dtiprep_outputs" ->
      """SELECT * FROM (VALUES
        |  ('native/sub1_dti.mnc',
        |   '/data/out/DTIPrep/sub1_dti.nrrd',
        |   '/data/out/DTIPrep/protocol.xml',
        |   '/data/out/DTIPrep/sub1_dti_XMLQCResult.xml',
        |   '/data/out/DTIPrep/sub1_dti_QCReport.txt',
        |   '/data/out/DTIPrep/sub1_dti_QCed.nrrd',
        |   '/data/out/DTIPrep/sub1_dti_QCed.mnc'),
        |  ('native/sub2_run-02_dti.mnc',
        |   '/data/out/DTIPrep/sub2_run-02_dti.nrrd',
        |   '/data/out/DTIPrep/protocol.xml',
        |   '/data/out/DTIPrep/sub2_run-02_dti_XMLQCResult.xml',
        |   '/data/out/DTIPrep/sub2_run-02_dti_QCReport.txt',
        |   '/data/out/DTIPrep/sub2_run-02_dti_QCed.nrrd',
        |   '/data/out/DTIPrep/sub2_run-02_dti_QCed.mnc')
        |) AS t(file_path, raw_nrrd, qc_protocol, qc_report_xml,
        |       qc_report_txt, qced_nrrd, qced_minc)""".stripMargin,

    // repeated <value> leaves (IMAGE_size) produce one row EACH — the
    // two '96' rows are intentional duplicates
    "q283_dtiprep_protocol" ->
      """SELECT * FROM (VALUES
        |  ('1', 'QC_QCedDWIFileNameSuffix', 'value', '_QCed.nrrd'),
        |  ('1', 'QC_reportFileNameSuffix', 'value', '_QCReport.txt'),
        |  ('1', 'DTI_bCompute', 'value', 'Yes'),
        |  ('1', 'IMAGE_bCheck/IMAGE_size', 'value', '96'),
        |  ('1', 'IMAGE_bCheck/IMAGE_size', 'value', '96'),
        |  ('1', 'IMAGE_bCheck/IMAGE_size', 'value', '65'),
        |  ('1', 'IMAGE_bCheck', 'value', 'Yes')
        |) AS t(prot_id, path, name, value)""".stripMargin
  )
}
