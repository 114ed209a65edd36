package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.EphysChunker
import graft.sources.{BidsTabular, BrainVisionReader, CtfReader, DicomSource, EdfReader, EeglabReader, EphysSource, SyntheticFixtures, TarGzSource}

/** Binary-ingest verticals under the driver's correctness gate.
  *
  * The tar/DICOM and EDF sources have no parquet inputs in the testdata
  * dirs (they read raw archives/recordings), so these queries synthesize
  * byte-exact fixtures ([[SyntheticFixtures]]) at run time and pin the
  * verticals' outputs as constant oracle rows — the same pinning discipline
  * as the HED parser, giving the end-to-end ingest paths a three-check
  * CORRECTNESS row instead of spec-only coverage. Outputs carry only
  * relative member paths and exactly-representable numerics, so the rows
  * are environment- and float-stable. */
object IngestQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §3.1 composed loader: the run_dicom_archive_loader lifecycle as ONE
    // plan — tar archive -> DICOM tag walk -> single-study assert ->
    // acquisition collapse (series, echo) -> protocol identification.
    // DICOM TE is ms; the matcher's x1000 scale expects seconds, so the
    // protocol ranges here are in scaled units (25.5 -> 25500).
    "q90_archive_loader" -> { (s, _) =>
      import s.implicits._
      import graft.operators.{DicomSummary, ProtocolMatcher}
      val dir = SyntheticFixtures.materialize(
        "q90", "upload.tar", SyntheticFixtures.studyArchiveBytes())
      val members = TarGzSource.members(s, dir, glob = "*.tar").toDF()
        .filter(!col("is_dir"))
        .select(col("member_path").as("path"), col("content"))
      val headers = DicomSummary.withSingleStudyGuard(
        DicomSource.extractHeaders(members).filter(col("is_dicom")))
      val acq = headers
        .groupBy(col("series_number"), col("echo_time"))
        .agg(count(lit(1)).as("n_files"),
          min(col("series_description")).as("SeriesDescription"),
          min(col("repetition_time")).as("RepetitionTime"))
      val scans = ProtocolMatcher.padScanCols(acq.select(
        (col("series_number") * 100 + floor(col("echo_time")))
          .cast("long").as("scan_id"),
        col("series_number"), col("echo_time").as("EchoTime"),
        col("n_files"), col("SeriesDescription"), col("RepetitionTime")))
      val protocols = ProtocolMatcher.padProtocolCols(Seq(
        (1, 1, 301, Some(25000.0), Some(26000.0)),
        (2, 1, 302, Some(49000.0), Some(51000.0))
      ).toDF("MriProtocolID", "MriProtocolGroupID", "MriScanTypeID",
        "TE_min", "TE_max"))
      ProtocolMatcher.identify(scans, protocols)
        .select(col("series_number"), col("EchoTime").as("echo_time"),
          col("n_files"), col("MriScanTypeID"), col("protocol_status"))
    },

    // S12 + S1/S2 end to end: upload .tar -> nested .tar.gz -> DICOM tag
    // parse (imaging.py:1150-1174 into DCMSUM.pm:751-817)
    "q61_archive_ingest" -> { (s, _) =>
      val dir = SyntheticFixtures.materialize(
        "q61", "upload.tar", SyntheticFixtures.studyArchiveBytes())
      val files = TarGzSource.members(s, dir, glob = "*.tar").toDF()
        .filter(!col("is_dir"))
        .select(col("member_path"), col("nested_in"),
          col("member_path").as("path"), col("content"))
      DicomSource.extractHeaders(files)
        .select(col("member_path"), col("nested_in"), col("is_dicom"),
          col("study_uid"), col("series_number"), col("instance_number"),
          col("patient_id"), col("echo_time"), col("modality"))
    },

    // S14 end to end: EDF bytes -> calibrated channels -> long format ->
    // T1 chunk stats (edf_to_chunks.py into chunking.py)
    "q62_edf_ingest" -> { (s, _) =>
      val dir = SyntheticFixtures.materialize(
        "q62", "r1.edf", SyntheticFixtures.recordingBytes())
      EphysChunker.chunkStats(
        EdfReader.asLongFormat(EdfReader.channels(s, dir)), chunkSize = 4)
    },

    // q62's pipeline through the DataSource V2 connector instead of the
    // binaryFile scan: spark.read.format("edf") with column pruning +
    // channel-skip at the scan (EdfDataSource). Oracle is q62's VERBATIM,
    // so the driver checks connector/binaryFile equivalence end to end.
    "q116_edf_dsv2" -> { (s, _) =>
      val dir = SyntheticFixtures.materialize(
        "q116", "r1.edf", SyntheticFixtures.recordingBytes())
      EphysChunker.chunkStats(
        EphysSource.channelArraysToLong(s.read.format("edf").load(dir)),
        chunkSize = 4)
    },

    // The connector's MICRO_BATCH_READ surface under the gate: stream the
    // recording dir with the seen-file-log source (the Spark-native
    // imaging_upload_file_cronjob.pl), pruned to the header-only columns,
    // drained into a memory sink. Exactly-once + restart semantics are
    // spec-verified; this pins the streamed rows themselves.
    "q119_edf_stream_ingest" -> { (s, _) =>
      val dir = SyntheticFixtures.freshDir("q119")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "r1.edf"),
        SyntheticFixtures.recordingBytes())
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "r2.edf"),
        SyntheticFixtures.recordingBytes())
      val ckpt = SyntheticFixtures.freshDir("q119_ckpt")
      val q = s.readStream.format("edf").load(dir)
        .select(element_at(split(col("file_path"), "/"), -1).as("file_name"),
          col("channel"), col("sampling_rate_hz"), col("n_samples"))
        .writeStream.format("memory").queryName("q119_sink")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      s.table("q119_sink")
    },

    // S14 BrainVision end to end: vhdr header parse → broadcast pair with
    // the .eeg payload → INT_16 decode with per-channel resolution →
    // chunker (eeg/main.py:249 registers the vhdr/vmrk/eeg triple)
    "q75_brainvision_ingest" -> { (s, _) =>
      val (vhdr, eeg, vmrk) = SyntheticFixtures.brainVisionBytes()
      val dir = SyntheticFixtures.materialize("q75", "rec1.vhdr", vhdr)
      SyntheticFixtures.materialize("q75", "rec1.eeg", eeg)
      SyntheticFixtures.materialize("q75", "rec1.vmrk", vmrk)
      EphysChunker.chunkStats(
        BrainVisionReader.asLongFormat(BrainVisionReader.channels(s, dir)),
        chunkSize = 4)
    },

    // S14 CTF MEG end to end: res4 big-endian header parse (self-sized
    // run-description/filter navigation, clean_names) → sibling meg4
    // int32-BE trial blocks → calibrate raw/(properGain·qGain) → chunker
    // (ctf_to_chunks.py:1-75 does the same via MNE's read_raw_ctf)
    "q101_ctf_ingest" -> { (s, _) =>
      val (res4, meg4) = SyntheticFixtures.ctfRecordingBytes()
      val dir = SyntheticFixtures.materialize("q101", "rec1.res4", res4)
      SyntheticFixtures.materialize("q101", "rec1.meg4", meg4)
      EphysChunker.chunkStats(
        CtfReader.asLongFormat(CtfReader.channels(s, dir)), chunkSize = 4)
    },

    // S14 EEGLAB end to end: .set MAT v6 walk (EEG struct → data matrix,
    // srate, chanlocs labels; trials concatenated column-major) → chunker
    // (eeglab_to_chunks.py:1-66 does the same via MNE's read_raw_eeglab)
    "q102_eeglab_ingest" -> { (s, _) =>
      val (set, _) = SyntheticFixtures.eeglabRecordingBytes()
      val dir = SyntheticFixtures.materialize("q102", "rec1.set", set)
      EphysChunker.chunkStats(
        EeglabReader.asLongFormat(EeglabReader.channels(s, dir)), chunkSize = 4)
    },

    // S5/S6/U4/P8 end to end: TSV ingest with 'n/a'/''→NULL, union-of-keys
    // merge, anti-join append guard, then a writeTsv→readTsv round trip
    // (tsv.py:23-73, utilities.py:42-84) — NULLs survive as 'n/a' on disk
    "q76_tsv_ingest" -> { (s, _) =>
      val f1 = "participant_id\tage\tsex\n" +
        "sub-01\t25\tM\n" + "sub-02\tn/a\tF\n" + "sub-03\t30\tn/a\n"
      val f2 = "participant_id\tage\tgroup\n" +
        "sub-03\t31\tctrl\n" + "sub-04\t\tpat\n"
      val d1 = SyntheticFixtures.materialize("q76", "participants.tsv",
        f1.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      SyntheticFixtures.materialize("q76", "extra.tsv",
        f2.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val a = BidsTabular.readTsv(s, s"$d1/participants.tsv")
      val b = BidsTabular.readTsv(s, s"$d1/extra.tsv")
      val merged = BidsTabular.appendNewRows(a, b, Seq("participant_id"))
      val outDir = s"$d1/roundtrip"
      BidsTabular.writeTsv(merged, outDir)
      BidsTabular.readTsv(s, outDir)
        .select(col("participant_id"), col("age"), col("sex"), col("group"))
    },

    // S10 end to end: targeted UPDATE-by-key over real tables — updates
    // fan in multiple rows per key (one per 1995 order status), the
    // deterministic winner survives, untouched rows/columns pass through
    // (database.py:188-208)
    "q77_update_by_key" -> { (s, dir) =>
      val customer = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val updates = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .select(col("o_custkey").as("c_custkey"),
          concat(lit("st_"), col("o_orderstatus")).as("c_mktsegment"))
      graft.sources.Sinks.updateByKey(customer, updates,
        keys = Seq("c_custkey"), updateCols = Seq("c_mktsegment"))
    },

    // S13 + T4 end to end: chunk arrays at two pyramid levels → partitioned
    // chunk sink (downsampling/channel pruning keys) → read back → joined
    // with the MERGED manifest (new-side channel ranges, widened series
    // range) — the chunker's protobuf-tree + index.json analog as parquet
    "q78_chunk_sink" -> { (s, _) =>
      val dir = SyntheticFixtures.materialize(
        "q78", "r1.edf", SyntheticFixtures.recordingBytes())
      val long0 = EdfReader.asLongFormat(EdfReader.channels(s, dir))
      val ds = EphysChunker.downsampleAvg(long0, 4)
      val chunks = EphysChunker.chunkArrays(long0, 4)
        .withColumn("downsampling", lit(0))
        .unionByName(EphysChunker.chunkArrays(ds, 4)
          .withColumn("downsampling", lit(1)))
      val outDir = s"$dir/chunks_out"
      graft.sources.Sinks.writeChunks(chunks, outDir)
      val manifest = EphysChunker.mergeManifest(
        EphysChunker.channelRanges(long0).withColumnRenamed("channel", "index"),
        EphysChunker.channelRanges(ds).withColumnRenamed("channel", "index"))
      s.read.parquet(outDir)
        .join(manifest, col("channel") === col("index"))
        .select(col("downsampling"), col("channel"), col("chunk_index"),
          array_join(transform(col("values"), _.cast("string")), ",").as("vals"),
          col("valid_samples"), col("channel_min"), col("channel_max"),
          col("series_min"), col("series_max"))
    },

    // S3 end to end: NIfTI-1 header parse (real dim int16 + pixdim float32
    // bit-cast, nifti.py:7-31); the junk file proves the magic gate
    "q63_nifti_ingest" -> { (s, _) =>
      val dir = SyntheticFixtures.materialize("q63", "scan1.nii",
        SyntheticFixtures.niftiBytes(Seq(64, 64, 32), Seq(2.0f, 2.5f, 3.0f)))
      SyntheticFixtures.materialize("q63", "junk.bin",
        Array.fill[Byte](400)('x'.toByte))
      graft.sources.ImagingHeaders
        .readNiftiHeaders(DicomSource.scanDir(s, dir))
        .filter(col("is_nifti"))
        .select(
          regexp_extract(col("file_path"), "([^/]+)$", 1).as("file_name"),
          col("dims.ndim").as("ndim"), col("dims.xspace").as("xspace"),
          col("dims.yspace").as("yspace"), col("dims.zspace").as("zspace"),
          col("xstep"), col("ystep"), col("zstep"))
    },

    // A2/A3/P7 end to end: the dicomTar.pl study summarization — archive
    // members → real header parse → one tarchive summary row per archive
    // with file counts (A2) where the modality gate (P7) splits Dicom vs
    // NonDicom members, asserting a single study (A3, throws on violation)
    // in the same aggregation
    "q79_dicom_summary" -> { (s, _) =>
      val dir = SyntheticFixtures.materialize(
        "q79", "upload.tar", SyntheticFixtures.studyArchiveBytes())
      val members = TarGzSource.members(s, dir, glob = "*.tar").toDF()
        .filter(!col("is_dir"))
        .select(col("archive_path"), col("member_path").as("path"),
          col("content"))
      val all = DicomSource.extractHeaders(members)
        // DCMSUM field names -> the §1.3 tarchive column contract
        .withColumnRenamed("manufacturer", "scanner_manufacturer")
        .withColumnRenamed("software_version", "scanner_software")
      graft.operators.DicomSummary.tarchive(all)
        .select(col("DicomArchiveID"), col("PatientID"),
          col("DateAcquired"), col("AcquisitionCount"),
          col("NonDicomFileCount"), col("DicomFileCount"),
          col("TotalFileCount"), col("md5sumDicomOnly"))
    },

    // S4 end to end: MINC header-dump field grep (the reference shells out
    // `mincheader` and greps step/length fields — imaging.py MINC branch);
    // junk file proves no-match → NULL
    "q80_minc_ingest" -> { (s, _) =>
      val hdr = ("image: signed__ short 0 to 4095\n" +
        "xspace:length = 224\nyspace:length = 256\nzspace:length = 176\n" +
        "xspace:step = 1.5\nyspace:step = -0.977\nzspace:step = 0.977\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val dir = SyntheticFixtures.materialize("q80", "scan1.mnc.hdr", hdr)
      SyntheticFixtures.materialize("q80", "junk.hdr",
        "no fields here".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      DicomSource.scanDir(s, dir, "*.hdr")
        .select(
          regexp_extract(col("path"), "([^/]+)$", 1).as("file_name"),
          col("content").cast("string").as("hdr"))
        .select(col("file_name"),
          graft.sources.ImagingHeaders.mincField(col("hdr"), "xspace:length").as("xlength"),
          graft.sources.ImagingHeaders.mincField(col("hdr"), "yspace:length").as("ylength"),
          graft.sources.ImagingHeaders.mincField(col("hdr"), "zspace:length").as("zlength"),
          graft.sources.ImagingHeaders.mincField(col("hdr"), "xspace:step").as("xstep"),
          graft.sources.ImagingHeaders.mincField(col("hdr"), "yspace:step").as("ystep"),
          graft.sources.ImagingHeaders.mincField(col("hdr"), "zspace:step").as("zstep"))
    },

    // §2.8 HED stack machine (hed.py:34-121) as its UDTF explosion, over
    // fixture annotation strings; rows pinned from the reference's outputs
    "q64_hed_parse" -> { (s, _) =>
      import s.implicits._
      val df = Seq(
        (1L, "Sensory-event, (Red, Blue), Agent-action"),
        (2L, "Event, (Intended-effect, (Cue, Target), Offset), End"))
        .toDF("event_id", "hed")
      graft.functions.HedParser.explodeHedString(df, "hed")
        .select(col("event_id"), col("group_index"), col("member_index"),
          col("tag"), col("has_pairing"), col("additional_members"))
    },

    // Multimodal with a REAL codec: binaryFile scan → per-partition
    // open/decode/close harness (decodeRowsPartitioned) running the
    // pure-JVM BMP decoder — 24-bit bottom-up with row padding, 24-bit
    // top-down, 32-bit, and a junk payload decoding to NULLs. top_left_rgb
    // pins row-order handling; channel sums are exact integers
    "q104_bmp_decode" -> { (s, _) =>
      import graft.operators.{BmpCodec, Multimodal}
      val red = Seq.fill(2)(Seq.fill(3)(0xFF0000))
      val grad = Seq(Seq(0x0A141E, 0x28323C), Seq(0x46505A, 0x646E78))
      val deep = Seq(Seq(0x010203, 0x040506))
      val dir = SyntheticFixtures.materialize("q104", "red3x2.bmp",
        SyntheticFixtures.bmpBytes(red))
      SyntheticFixtures.materialize("q104", "grad2x2.bmp",
        SyntheticFixtures.bmpBytes(grad, topDown = true))
      SyntheticFixtures.materialize("q104", "deep2x1.bmp",
        SyntheticFixtures.bmpBytes(deep, bpp = 32))
      SyntheticFixtures.materialize("q104", "junk.bmp",
        "not an image at all".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val scanned = DicomSource.scanDir(s, dir, "*.bmp")
        .select(element_at(split(col("path"), "/"), -1).as("file_name"),
          col("content"))
      Multimodal.decodeRowsPartitioned(scanned, "content",
          BmpCodec.BmpStatsDecoder)
        .select(col("file_name"), col("magic"), col("width"), col("height"),
          col("bits_per_pixel"), col("top_down"), col("sum_r"), col("sum_g"),
          col("sum_b"), col("top_left_rgb"))
    },

    // Multimodal with a SECOND real image codec: pure-JVM PNG (chunk walk,
    // Inflater zlib, all five scanline filters) decoding fixtures written
    // by the JDK's OWN ImageIO encoder — RGB, grayscale, RGBA-with-alpha-
    // dropped, and a junk payload decoding to NULLs
    "q193_png_decode" -> { (s, _) =>
      import graft.operators.{Multimodal, PngCodec}
      val rgb = Seq(Seq(0x102030, 0x405060, 0x708090),
        Seq(0xA0B0C0, 0x112233, 0x445566))
      val gray = Seq(Seq(10, 200), Seq(7, 255))
      val rgba = Seq(Seq(0x010203, 0xFF00FF))
      val dir = SyntheticFixtures.materialize("q193", "rgb3x2.png",
        SyntheticFixtures.pngBytes(rgb))
      SyntheticFixtures.materialize("q193", "gray2x2.png",
        SyntheticFixtures.pngBytes(gray, gray = true))
      SyntheticFixtures.materialize("q193", "rgba2x1.png",
        SyntheticFixtures.pngBytes(rgba, alpha = true))
      SyntheticFixtures.materialize("q193", "junk.png",
        "definitely not a png".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val scanned = DicomSource.scanDir(s, dir, "*.png")
        .select(element_at(split(col("path"), "/"), -1).as("file_name"),
          col("content"))
      Multimodal.decodeRowsPartitioned(scanned, "content",
          PngCodec.PngStatsDecoder)
        .select(col("file_name"), col("magic"), col("width"), col("height"),
          col("color_type"), col("sum_r"), col("sum_g"), col("sum_b"),
          col("top_left_rgb"))
    },

    // Multimodal audio with a REAL codec: binaryFile scan → per-partition
    // harness running the pure-JVM RIFF/WAVE PCM16 decoder — mono, stereo
    // de-interleave, a LIST/INFO metadata chunk the walker must skip, and
    // a junk payload decoding to NULLs. Integer duration + first-channel
    // abs-sum/peak/energy are the audio-quality-gate inputs
    "q165_wav_decode" -> { (s, _) =>
      import graft.operators.{Multimodal, WavCodec}
      val dir = SyntheticFixtures.materialize("q165", "mono.wav",
        SyntheticFixtures.wavBytes(Seq(Seq(0, 1000, -1000, 32767)), 1000))
      SyntheticFixtures.materialize("q165", "stereo.wav",
        SyntheticFixtures.wavBytes(Seq(Seq(100, -200), Seq(300, 400)), 500))
      SyntheticFixtures.materialize("q165", "meta.wav",
        SyntheticFixtures.wavBytes(Seq(Seq(5)), 1000, withListChunk = true))
      SyntheticFixtures.materialize("q165", "junk.wav",
        "not audio".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val scanned = DicomSource.scanDir(s, dir, "*.wav")
        .select(element_at(split(col("path"), "/"), -1).as("file_name"),
          col("content"))
      Multimodal.decodeRowsPartitioned(scanned, "content",
          WavCodec.WavStatsDecoder)
        .select(col("file_name"), col("magic"), col("n_channels"),
          col("sample_rate"), col("bits_per_sample"), col("n_frames"),
          col("duration_ms"), col("c0_sum_abs"), col("c0_peak"),
          col("c0_sum_sq"))
    },

    // Multimodal VIDEO with a real container parser: binaryFile scan →
    // per-partition harness running the pure-JVM RIFF/AVI header walk.
    // Codec payloads stay opaque (the pluggable-decoder boundary); the
    // container supplies everything a corpus filters on — geometry,
    // handler fourcc, exact-integer fps/duration, idx1 frame/keyframe
    // counts. An NTSC 30000/1001 stream pins the integer fps math; junk
    // bytes decode to NULLs
    "q284_avi_decode" -> { (s, _) =>
      import graft.operators.{AviCodec, Multimodal}
      val dir = SyntheticFixtures.materialize("q284", "clip.avi",
        AviCodec.aviBytes(320, 240, scale = 1, rate = 30, handler = "MJPG",
          frames = (0 until 10).map(i => Array.fill[Byte](10 * (i + 1))(i.toByte)),
          keyEvery = 4))
      SyntheticFixtures.materialize("q284", "ntsc.avi",
        AviCodec.aviBytes(640, 480, scale = 1001, rate = 30000,
          handler = "dvsd",
          frames = (0 until 5).map(i => Array.fill[Byte](6 * (i + 1))(i.toByte)),
          keyEvery = 2))
      SyntheticFixtures.materialize("q284", "junk.avi",
        "not a video".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val scanned = DicomSource.scanDir(s, dir, "*.avi")
        .select(element_at(split(col("path"), "/"), -1).as("file_name"),
          col("content"))
      Multimodal.decodeRowsPartitioned(scanned, "content",
          AviCodec.AviMetaDecoder)
        .select(col("file_name"), col("magic"), col("width"), col("height"),
          col("total_frames"), col("n_streams"), col("video_handler"),
          col("fps_ppm"), col("duration_ms"), col("n_indexed_frames"),
          col("n_keyframes"))
    },

    // Frame-level sampling WITHOUT a codec: the idx1 frame index as a
    // table (byte offset/size/keyframe per frame), stride-sampled — the
    // shape a video training pipeline uses to pick frames BEFORE paying
    // any decode: the sampled (offset, size) list is the byte-range fetch
    // plan for the expensive stage
    "q285_avi_frame_sample" -> { (s, _) =>
      import s.implicits._
      import graft.operators.AviCodec
      val dir = SyntheticFixtures.materialize("q285", "clip.avi",
        AviCodec.aviBytes(320, 240, scale = 1, rate = 30, handler = "MJPG",
          frames = (0 until 10).map(i => Array.fill[Byte](10 * (i + 1))(i.toByte)),
          keyEvery = 4))
      SyntheticFixtures.materialize("q285", "ntsc.avi",
        AviCodec.aviBytes(640, 480, scale = 1001, rate = 30000,
          handler = "dvsd",
          frames = (0 until 5).map(i => Array.fill[Byte](6 * (i + 1))(i.toByte)),
          keyEvery = 2))
      DicomSource.scanDir(s, dir, "*.avi")
        .select(element_at(split(col("path"), "/"), -1).as("file_name"),
          col("content"))
        .as[(String, Array[Byte])]
        .flatMap { case (f, b) =>
          AviCodec.frameIndex(b).zipWithIndex.collect {
            case (e, i) if i % 3 == 0 =>
              (f, i, e.ckid, e.keyframe, e.offset, e.size)
          }
        }
        .toDF("file_name", "frame_no", "ckid", "keyframe", "offset", "size")
    },

    // Multimodal VIDEO, modern-container leg: ISO-BMFF (MP4) box walk
    // through the same per-partition harness. Brand, track count, movie
    // + media clocks as exact integer ms (duration·1000 div timescale),
    // 16.16 tkhd geometry, sample-entry fourccs, stsz/stss counts. A
    // version-1 fixture pins the 64-bit paths (v1 mvhd/tkhd/mdhd, co64);
    // junk bytes decode to NULLs
    "q286_mp4_decode" -> { (s, _) =>
      import graft.operators.{Mp4Codec, Multimodal}
      val dir = SyntheticFixtures.materialize("q286", "movie.mp4",
        Mp4Codec.mp4Bytes("isom", 1000, 2500, 640, 360, "avc1",
          sampleSizes = Seq(10, 20, 30, 40, 50),
          stscRuns = Seq((1, 2), (3, 1)), syncSamples = Seq(1, 4),
          mediaTimescale = 30000, mediaDuration = 75075,
          audioFormat = Some("mp4a")))
      SyntheticFixtures.materialize("q286", "hires.mp4",
        Mp4Codec.mp4Bytes("mp42", 90000, 90090, 1920, 1080, "hvc1",
          sampleSizes = Seq(100, 100), stscRuns = Seq((1, 1)),
          syncSamples = Nil, mediaTimescale = 600, mediaDuration = 600,
          version1 = true))
      SyntheticFixtures.materialize("q286", "junk.mp4",
        "not a video".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val scanned = DicomSource.scanDir(s, dir, "*.mp4")
        .select(element_at(split(col("path"), "/"), -1).as("file_name"),
          col("content"))
      Multimodal.decodeRowsPartitioned(scanned, "content",
          Mp4Codec.Mp4MetaDecoder)
        .select(col("file_name"), col("magic"), col("n_tracks"),
          col("width"), col("height"), col("video_codec"),
          col("audio_codec"), col("duration_ms"), col("video_duration_ms"),
          col("n_samples"), col("n_keyframes"))
    },

    // Sample-level byte-range planning WITHOUT a codec: the MP4 sample
    // tables (stsz sizes, stsc sample->chunk runs, stco/co64 chunk
    // offsets, stss sync set) resolved to a TABLE of absolute
    // (offset, size, keyframe) rows — the stsc run arithmetic is the part
    // every naive reader gets wrong, so the oracle pins a 2,2,1-chunk
    // layout sample by sample. Keyframe-only selection then becomes a
    // relational filter emitting the byte-range fetch plan for the
    // expensive decode stage
    "q287_mp4_sample_index" -> { (s, _) =>
      import s.implicits._
      import graft.operators.Mp4Codec
      val dir = SyntheticFixtures.materialize("q287", "movie.mp4",
        Mp4Codec.mp4Bytes("isom", 1000, 2500, 640, 360, "avc1",
          sampleSizes = Seq(10, 20, 30, 40, 50),
          stscRuns = Seq((1, 2), (3, 1)), syncSamples = Seq(1, 4),
          mediaTimescale = 30000, mediaDuration = 75075,
          audioFormat = Some("mp4a")))
      SyntheticFixtures.materialize("q287", "hires.mp4",
        Mp4Codec.mp4Bytes("mp42", 90000, 90090, 1920, 1080, "hvc1",
          sampleSizes = Seq(100, 100), stscRuns = Seq((1, 1)),
          syncSamples = Nil, mediaTimescale = 600, mediaDuration = 600,
          version1 = true))
      DicomSource.scanDir(s, dir, "*.mp4")
        .select(element_at(split(col("path"), "/"), -1).as("file_name"),
          col("content"))
        .as[(String, Array[Byte])]
        .flatMap { case (f, b) =>
          Mp4Codec.sampleIndex(b).map(e =>
            (f, e.sampleNo, e.chunkNo, e.keyframe, e.offset, e.size))
        }
        .toDF("file_name", "sample_no", "chunk_no", "keyframe", "offset",
          "size")
    },

    // Multimodal IMAGE, web-corpus leg: JPEG marker-segment walk (the
    // format the bulk of a scraped image corpus arrives in). Everything
    // an image pipeline filters on precedes the first SOS — geometry,
    // precision, component count, progressive vs baseline (decoder
    // routing), JFIF/Exif presence. One file is encoded by the JDK's OWN
    // ImageIO writer (independent-writer pin; its table counts are
    // encoder-chosen so the projection sticks to encoder-guaranteed
    // fields); one is a hand-built progressive SOF2 with Exif; junk
    // bytes decode to NULLs
    "q288_jpeg_decode" -> { (s, _) =>
      import graft.operators.{JpegCodec, Multimodal}
      val dir = SyntheticFixtures.materialize("q288", "photo.jpg",
        JpegCodec.imageIoJpeg(17, 9))
      SyntheticFixtures.materialize("q288", "scan.jpg",
        JpegCodec.jpegBytes(640, 480, 8, 3, progressive = true,
          nQuant = 2, huffClasses = Seq(0, 1, 0, 1), subsamplingH = 2,
          subsamplingV = 1, withExif = true))
      SyntheticFixtures.materialize("q288", "junk.jpg",
        "not an image".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val scanned = DicomSource.scanDir(s, dir, "*.jpg")
        .select(element_at(split(col("path"), "/"), -1).as("file_name"),
          col("content"))
      Multimodal.decodeRowsPartitioned(scanned, "content",
          JpegCodec.JpegMetaDecoder)
        .select(col("file_name"), col("magic"), col("width"),
          col("height"), col("precision"), col("n_components"),
          col("progressive"), col("has_jfif"), col("has_exif"))
    },

    // Perceptual image hash (dHash-64) through the raster codecs: exact
    // integer luma + 9x8 area means, bit = left-cell > right-cell. The
    // 18x8 x-gradients make every cell mean hand-computable: ascending
    // -> 0, descending -> all 64 bits (-1), a single tweaked pixel
    // flips exactly bit 0; the SAME raster as PNG hashes identically
    // (container invariance); junk -> NULL row
    "q293_image_dhash" -> { (s, _) =>
      import graft.operators.{ImageHash, Multimodal}
      val dir = SyntheticFixtures.materialize("q293", "a.bmp",
        SyntheticFixtures.bmpBytes(dhashGradient(identity)))
      SyntheticFixtures.materialize("q293", "a2.bmp",
        SyntheticFixtures.bmpBytes(dhashTweaked))
      SyntheticFixtures.materialize("q293", "b.bmp",
        SyntheticFixtures.bmpBytes(dhashGradient(x => 17 - x)))
      SyntheticFixtures.materialize("q293", "a.png",
        SyntheticFixtures.pngBytes(dhashGradient(identity)))
      SyntheticFixtures.materialize("q293", "junk.bmp",
        "BMjunk".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val scanned = DicomSource.scanDir(s, dir, "*.*")
        .select(element_at(split(col("path"), "/"), -1).as("file_name"),
          col("content"))
      Multimodal.decodeRowsPartitioned(scanned, "content",
          ImageHash.DhashDecoder)
        .select(col("file_name"), col("width"), col("height"),
          col("dhash"))
    },

    // DCT perceptual hash (pHash-64) next to dHash through ONE raster
    // decode (PerceptualDecoder): exact-integer 32x32 luma grid ->
    // fixed-point (2^14, StrictMath-built) 32-point DCT-II -> low-freq
    // 8x8 block -> bit = coefficient > exact median of the 63 AC terms.
    // The robust admission key for the recompression/resize cases
    // dHash's doc scopes out (PhashSpec pins JPEG-roundtrip hamming<=10
    // vs distinct >=20 on the same fixtures). Deterministic rasters
    // (seeded LCG + StrictMath) let the oracle pin measured hashes; the
    // PNG copy pins container invariance, junk -> NULL row
    "q314_image_phash" -> { (s, _) =>
      import graft.operators.{ImageHash, Multimodal}
      val dir = SyntheticFixtures.materialize("q314", "r1.bmp",
        SyntheticFixtures.bmpBytes(SyntheticFixtures.richRaster(64, 64, 1)))
      SyntheticFixtures.materialize("q314", "r1.png",
        SyntheticFixtures.pngBytes(SyntheticFixtures.richRaster(64, 64, 1)))
      SyntheticFixtures.materialize("q314", "r2.bmp",
        SyntheticFixtures.bmpBytes(SyntheticFixtures.richRaster(64, 64, 2)))
      SyntheticFixtures.materialize("q314", "junk.bmp",
        "BMjunk".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val scanned = DicomSource.scanDir(s, dir, "*.*")
        .select(element_at(split(col("path"), "/"), -1).as("file_name"),
          col("content"))
      Multimodal.decodeRowsPartitioned(scanned, "content",
          ImageHash.PerceptualDecoder)
        .select(col("file_name"), col("width"), col("height"),
          col("dhash"), col("phash"))
    },

    // Image near-dup pairs: the dHash column rides the SAME pigeonhole
    // banded-hamming machinery as 64-bit SimHash
    // (Dedup.hammingNearDupPairs) — the tweaked copy at hamming 1, the
    // cross-container identical copy at 0, the inverted gradient
    // isolated (no shared band bucket)
    "q294_image_neardup" -> { (s, _) =>
      import s.implicits._
      import graft.operators.{Dedup, ImageHash}
      val dir = SyntheticFixtures.materialize("q294", "a.bmp",
        SyntheticFixtures.bmpBytes(dhashGradient(identity)))
      SyntheticFixtures.materialize("q294", "a2.bmp",
        SyntheticFixtures.bmpBytes(dhashTweaked))
      SyntheticFixtures.materialize("q294", "b.bmp",
        SyntheticFixtures.bmpBytes(dhashGradient(x => 17 - x)))
      SyntheticFixtures.materialize("q294", "a.png",
        SyntheticFixtures.pngBytes(dhashGradient(identity)))
      val ids = Map("a.bmp" -> 1L, "a2.bmp" -> 2L, "b.bmp" -> 3L,
        "a.png" -> 4L)
      val hashes = DicomSource.scanDir(s, dir, "*.*")
        .select(element_at(split(col("path"), "/"), -1).as("file_name"),
          col("content"))
        .as[(String, Array[Byte])]
        .flatMap { case (f, b) =>
          ImageHash.dhash64Auto(b).map(h => (ids(f), h))
        }
        .toDF("id", "dhash")
      Dedup.hammingNearDupPairs(hashes, "id", "dhash",
        bands = 4, maxHamming = 3)
    },

    // Perceptual AUDIO fingerprint (energy-envelope sign deltas, 65
    // integer-boundary windows -> 64 comparison bits) through the WAV
    // codec: monotone-up energies -> all bits (-1), monotone-down -> 0,
    // and the 2x-GAINED copy prints IDENTICALLY (scaling samples by c
    // scales every energy by c², preserving all comparisons — the
    // invariance that makes it a dedup key, not a checksum)
    "q295_audio_envelope" -> { (s, _) =>
      import graft.operators.{AudioHash, Multimodal}
      val asc = (0 until 130).map(i => i / 2)
      val dir = SyntheticFixtures.materialize("q295", "asc.wav",
        SyntheticFixtures.wavBytes(Seq(asc), 8000))
      SyntheticFixtures.materialize("q295", "desc.wav",
        SyntheticFixtures.wavBytes(Seq(asc.map(64 - _)), 8000))
      SyntheticFixtures.materialize("q295", "loud.wav",
        SyntheticFixtures.wavBytes(Seq(asc.map(_ * 2)), 8000))
      SyntheticFixtures.materialize("q295", "junk.wav",
        "not audio".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      val scanned = DicomSource.scanDir(s, dir, "*.wav")
        .select(element_at(split(col("path"), "/"), -1).as("file_name"),
          col("content"))
      Multimodal.decodeRowsPartitioned(scanned, "content",
          AudioHash.EnvelopePrintDecoder)
        .select(col("file_name"), col("n_channels"), col("sample_rate"),
          col("n_frames"), col("envelope_print"))
    },

    // Audio near-dup pairs on the envelope prints — the same pigeonhole
    // banded-hamming shuffle as SimHash and the image dHash: the
    // re-gained copy at hamming 0, the inverted envelope isolated
    "q296_audio_neardup" -> { (s, _) =>
      import s.implicits._
      import graft.operators.{AudioHash, Dedup}
      val asc = (0 until 130).map(i => i / 2)
      val dir = SyntheticFixtures.materialize("q296", "asc.wav",
        SyntheticFixtures.wavBytes(Seq(asc), 8000))
      SyntheticFixtures.materialize("q296", "desc.wav",
        SyntheticFixtures.wavBytes(Seq(asc.map(64 - _)), 8000))
      SyntheticFixtures.materialize("q296", "loud.wav",
        SyntheticFixtures.wavBytes(Seq(asc.map(_ * 2)), 8000))
      val ids = Map("asc.wav" -> 1L, "loud.wav" -> 2L, "desc.wav" -> 3L)
      val prints = DicomSource.scanDir(s, dir, "*.wav")
        .select(element_at(split(col("path"), "/"), -1).as("file_name"),
          col("content"))
        .as[(String, Array[Byte])]
        .flatMap { case (f, b) =>
          AudioHash.envelopePrintWav(b).map(p => (ids(f), p))
        }
        .toDF("id", "print")
      Dedup.hammingNearDupPairs(prints, "id", "print",
        bands = 4, maxHamming = 3)
    },

    // WebDataset-style multimodal shard intake: tar shards whose members
    // pair by basename stem (000001.bmp + 000001.txt), expanded
    // partition-parallel by the tar source (row-local, no shuffle),
    // image members decoded through the perceptual-hash RowDecoder,
    // caption members joined back by (shard, stem) — missing captions
    // surface as has_caption=false audit rows, and the cross-shard
    // duplicate raster shows as an identical dhash. The intake shape a
    // 100 TB image-text corpus actually arrives in
    "q297_webdataset_intake" -> { (s, _) =>
      import graft.operators.{ImageHash, Multimodal}
      val dir = SyntheticFixtures.materialize("q297", "shard-000.tar",
        graft.sources.TarSink.tarBytes(Seq(
          "000001.bmp" -> SyntheticFixtures.bmpBytes(
            dhashGradient(identity)),
          "000001.txt" -> "ascending gradient".getBytes("UTF-8"),
          "000002.bmp" -> SyntheticFixtures.bmpBytes(
            dhashGradient(x => 17 - x)),
          "000002.txt" -> "descending gradient".getBytes("UTF-8"),
          "000003.bmp" -> SyntheticFixtures.bmpBytes(dhashTweaked))))
      SyntheticFixtures.materialize("q297", "shard-001.tar",
        graft.sources.TarSink.tarBytes(Seq(
          "000004.bmp" -> SyntheticFixtures.bmpBytes(
            dhashGradient(identity)),
          "000004.txt" -> "another ascending".getBytes("UTF-8"))))
      val m = TarGzSource.members(s, dir, glob = "*.tar").toDF()
        .filter(!col("is_dir"))
        .select(
          element_at(split(col("archive_path"), "/"), -1).as("shard"),
          substring_index(col("member_path"), ".", 1).as("sample_id"),
          element_at(split(col("member_path"), "\\."), -1).as("ext"),
          col("content"))
      val imgs = Multimodal.decodeRowsPartitioned(
          m.where(col("ext") === "bmp").drop("ext"), "content",
          ImageHash.DhashDecoder)
        .drop("content")
      val captions = m.where(col("ext") === "txt")
        .select(col("shard"), col("sample_id"),
          col("content").cast("string").as("caption"))
      imgs.join(captions, Seq("shard", "sample_id"), "left")
        .withColumn("has_caption", col("caption").isNotNull)
    },

    // EXIF extraction (the orientation/camera normalization every image
    // pipeline runs before training): APP1 TIFF IFD0 walk in BOTH byte
    // orders — inline SHORTs, offset ASCII, rationals — summarized to
    // the acted-on fields. Row-local inside the scan; EXIF-less and
    // junk files fail closed to NULLs
    "q299_exif_decode" -> { (s, _) =>
      import s.implicits._
      import graft.operators.JpegCodec
      val dir = SyntheticFixtures.materialize("q299", "cam_le.jpg",
        JpegCodec.jpegBytesWithExif(33, 21, JpegCodec.exifApp1(le = true,
          Seq((0x0112, 3, Seq(6)), (0x010F, 2, Seq("ACME")),
            (0x0110, 2, Seq("X100")),
            (0x0132, 2, Seq("2020:01:02 03:04:05")),
            (0x011A, 5, Seq(72, 1))))))
      SyntheticFixtures.materialize("q299", "cam_be.jpg",
        JpegCodec.jpegBytesWithExif(8, 8, JpegCodec.exifApp1(le = false,
          Seq((0x0112, 3, Seq(1)), (0x010F, 2, Seq("MMCO"))))))
      SyntheticFixtures.materialize("q299", "plain.jpg",
        JpegCodec.imageIoJpeg(5, 5))
      SyntheticFixtures.materialize("q299", "junk.jpg",
        "not an image".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      DicomSource.scanDir(s, dir, "*.jpg")
        .select(element_at(split(col("path"), "/"), -1).as("file_name"),
          col("content"))
        .as[(String, Array[Byte])]
        .map { case (f, b) =>
          val n = JpegCodec.exifEntries(b).map(_.length)
          JpegCodec.exifSummary(b) match {
            case Some((o, make, model, dt)) =>
              (f, Some(o), Option(make), Option(model), Option(dt),
                n)
            case None => (f, None, None, None, None, None)
          }
        }
        .toDF("file_name", "orientation", "make", "model", "datetime",
          "n_entries")
    },

    // Continuous image-dedup admission: the perceptual-hash index
    // ARTIFACT (band, sig, id, hash — the image analogue of the q259
    // text LSH artifact) probed by a new batch — batch-only banding
    // work, no payload re-decode of the accumulated corpus. The tweaked
    // copy admits at hamming 1 against the indexed original, the
    // re-encoded PNG copy at 0; split==whole is spec-pinned so
    // admission order never changes the pair set
    "q300_image_incremental_neardup" -> { (s, _) =>
      import s.implicits._
      import graft.operators.{Dedup, ImageHash}
      val corpus = Seq(
        (1L, SyntheticFixtures.bmpBytes(dhashGradient(identity))),
        (3L, SyntheticFixtures.bmpBytes(dhashGradient(x => 17 - x))))
      val batch = Seq(
        (2L, SyntheticFixtures.bmpBytes(dhashTweaked)),
        (4L, SyntheticFixtures.pngBytes(dhashGradient(identity))))
      def hashes(rows: Seq[(Long, Array[Byte])]) =
        rows.flatMap { case (i, b) =>
          ImageHash.dhash64Auto(b).map(h => (i, h))
        }.toDF("id", "dhash")
      val index = Dedup.hammingIndex(hashes(corpus), "id", "dhash",
        bands = 4).localCheckpoint(true) // the persisted-artifact stand-in
      Dedup.incrementalHammingMatches(index, hashes(batch), "id",
        "dhash", bands = 4, maxHamming = 3)
    },

    // The byte-range fetch plan CONSUMED: keyframe-only selection over
    // the idx1 index (a relational filter), then only the selected
    // (offset, size) ranges are touched — the decode stage (stub: exact
    // payload byte-sum) reads len(selected) slices, never the full
    // stream. Frame payloads are fill(i) of length 10(i+1)/6(i+1) so
    // every sum is hand-computable
    "q301_avi_keyframe_fetch" -> { (s, _) =>
      import s.implicits._
      import graft.operators.AviCodec
      val dir = SyntheticFixtures.materialize("q301", "clip.avi",
        AviCodec.aviBytes(320, 240, scale = 1, rate = 30, handler = "MJPG",
          frames = (0 until 10).map(i => Array.fill[Byte](10 * (i + 1))(i.toByte)),
          keyEvery = 4))
      SyntheticFixtures.materialize("q301", "ntsc.avi",
        AviCodec.aviBytes(640, 480, scale = 1001, rate = 30000,
          handler = "dvsd",
          frames = (0 until 5).map(i => Array.fill[Byte](6 * (i + 1))(i.toByte)),
          keyEvery = 2))
      DicomSource.scanDir(s, dir, "*.avi")
        .select(element_at(split(col("path"), "/"), -1).as("file_name"),
          col("content"))
        .as[(String, Array[Byte])]
        .flatMap { case (f, b) =>
          val base = AviCodec.moviOffset(b).getOrElse(-1)
          AviCodec.frameIndex(b).zipWithIndex.collect {
            case (e, i) if e.keyframe && base >= 0 =>
              val start = base + e.offset.toInt + 8
              var sum = 0L
              var k = 0
              while (k < e.size.toInt) { sum += b(start + k) & 0xFF; k += 1 }
              (f, i, e.offset, e.size, sum)
          }
        }
        .toDF("file_name", "frame_no", "offset", "size", "payload_sum")
    },

    // Mixed-media intake triage: ONE directory scan, magic-byte type
    // dispatch (bounded-prefix sniff, no decode), per-type counts — the
    // first report a multimodal ingest runs before routing payloads to
    // their per-format decoders
    "q302_media_datacard" -> { (s, _) =>
      import s.implicits._
      import graft.operators.Multimodal
      val dir = SyntheticFixtures.materialize("q302", "a.bmp",
        SyntheticFixtures.bmpBytes(dhashGradient(identity)))
      SyntheticFixtures.materialize("q302", "b.png",
        SyntheticFixtures.pngBytes(dhashGradient(identity)))
      SyntheticFixtures.materialize("q302", "c.jpg",
        graft.operators.JpegCodec.imageIoJpeg(4, 4))
      SyntheticFixtures.materialize("q302", "d.wav",
        SyntheticFixtures.wavBytes(Seq(Seq(1, -1, 2, -2)), 8000))
      SyntheticFixtures.materialize("q302", "e.avi",
        graft.operators.AviCodec.aviBytes(32, 24, 1, 30, "MJPG",
          Seq(Array[Byte](1, 2)), keyEvery = 1))
      SyntheticFixtures.materialize("q302", "f.mp4",
        graft.operators.Mp4Codec.mp4Bytes("isom", 1000, 1000, 16, 16,
          "avc1", Seq(4), Seq((1, 1)), Seq(1), 1000, 1000))
      SyntheticFixtures.materialize("q302", "g.bin",
        "mystery bytes".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      SyntheticFixtures.materialize("q302", "h.bmp",
        SyntheticFixtures.bmpBytes(dhashTweaked))
      DicomSource.scanDir(s, dir, "*.*")
        .select(col("content")).as[Array[Byte]]
        .map(Multimodal.detectType)
        .toDF("media_type")
        .groupBy(col("media_type"))
        .agg(count(lit(1)).as("n_files"))
    },

    // The tarshard DSv2 connector, BATCH leg: spark.read
    // .format("tarshard") — one row per member, stems/exts split for
    // WebDataset pairing; this projection is metadata-only so the scan
    // schema DROPS the content column (pruning is spec-asserted) and no
    // payload byte array ever enters a row
    "q304_tarshard_read" -> { (s, _) =>
      val dir = SyntheticFixtures.freshDir("q304")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "shard-000.tar"),
        graft.sources.TarSink.tarBytes(Seq(
          "000001.bmp" -> SyntheticFixtures.bmpBytes(
            dhashGradient(identity)),
          "000001.txt" -> "ascending gradient".getBytes("UTF-8"),
          "000002.bmp" -> SyntheticFixtures.bmpBytes(
            dhashGradient(x => 17 - x)),
          "000002.txt" -> "descending gradient".getBytes("UTF-8"),
          "000003.bmp" -> SyntheticFixtures.bmpBytes(dhashTweaked))))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "shard-001.tar"),
        graft.sources.TarSink.tarBytes(Seq(
          "000004.bmp" -> SyntheticFixtures.bmpBytes(
            dhashGradient(identity)),
          "000004.txt" -> "another ascending".getBytes("UTF-8"))))
      s.read.format("tarshard").load(dir)
        .select(col("shard_name"), col("sample_id"), col("ext"),
          col("size"))
    },

    // The tarshard connector, STREAMING leg: continuous shard arrival
    // through the shared seen-file log (per-shard exactly-once across
    // restarts — the watch loop a multimodal ingest tails all day),
    // drained into a memory sink under the gate. Stream == batch is
    // spec-pinned; this pins the streamed rows themselves
    "q305_tarshard_stream" -> { (s, _) =>
      val dir = SyntheticFixtures.freshDir("q305")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "shard-000.tar"),
        graft.sources.TarSink.tarBytes(Seq(
          "000001.bmp" -> SyntheticFixtures.bmpBytes(
            dhashGradient(identity)),
          "000001.txt" -> "ascending gradient".getBytes("UTF-8"))))
      val ckpt = SyntheticFixtures.freshDir("q305_ckpt")
      val q = s.readStream.format("tarshard").load(dir)
        .select(col("shard_name"), col("sample_id"), col("ext"),
          col("size"))
        .writeStream.format("memory").queryName("q305_sink")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      try {
        q.processAllAvailable()
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, "shard-001.tar"),
          graft.sources.TarSink.tarBytes(Seq(
            "000002.bmp" -> SyntheticFixtures.bmpBytes(dhashTweaked),
            "000002.txt" -> "tweaked".getBytes("UTF-8"))))
        q.processAllAvailable()
      } finally q.stop()
      s.table("q305_sink")
    },

    // The composed END-TO-END multimodal assembly (image-text twin of
    // the q99 text north star): shards -> stem pairing -> decode ->
    // geometry gate -> perceptual near-dup components -> manifest. The
    // tweak and the PNG re-encode both collapse into the ascending
    // gradient's component; the caption-less, corrupt, and thumbnail
    // samples each die at their own gate
    "q307_multimodal_assembly" -> { (s, _) =>
      graft.operators.MultimodalAssembly.manifest(
        assemblyPairs(s, "q307"), minWidth = 10)
    },

    // The per-stage attrition audit over the SAME stage frames (7
    // images -> 6 paired -> 5 decodable -> 4 geometry-ok -> 2 kept) —
    // the data-genealogy row reviewers read first
    "q308_multimodal_attrition" -> { (s, _) =>
      graft.operators.MultimodalAssembly.attrition(
        assemblyPairs(s, "q308"), minWidth = 10)
    },

    // The q307/q308 assembly on a STREAM: the same 7 pairs arrive in two
    // waves through assembleMultimodalIncremental — expensive stages
    // (pairing gate, decode, payload drop) run once per pair on arrival,
    // the global near-dup refresh recomputes over staged METADATA only
    // (canonical selection is non-monotonic: wave-2's PNG re-encode
    // merges into wave-1's component). Final manifest == q307's oracle
    "q317_assembly_incremental" -> { (s, _) =>
      val out = assemblyIncrementalRun(s, "q317")
      s.read.parquet(s"$out/manifest")
    },

    // ... and the accumulated attrition row == q308's oracle (per-batch
    // pre-decode counts staged alongside, summed at refresh)
    "q318_assembly_incremental_attrition" -> { (s, _) =>
      val out = assemblyIncrementalRun(s, "q318")
      s.read.parquet(s"$out/attrition")
    },

    // Audio feature extraction THROUGH the relational engine: decoded
    // first-channel samples explode into 8-sample windows; per-window
    // integer energy gates speech vs silence (energy >= 10000·n, i.e.
    // mean square >= 100²). The decode is the q165 codec; everything
    // after it is plain groupBy — the "decode once, analyze in SQL" shape
    "q166_audio_vad" -> { (s, _) =>
      import graft.operators.{Multimodal, WavCodec}
      val dir = SyntheticFixtures.materialize("q166", "speech.wav",
        SyntheticFixtures.wavBytes(Seq(Seq(0, 1, -1, 0, 2, -2, 1, 0,
          1000, -1200, 900, -1100, 1300, -900, 1000, -1000)), 8000))
      SyntheticFixtures.materialize("q166", "quiet.wav",
        SyntheticFixtures.wavBytes(Seq(Seq(3, -3, 2, -2, 1, 0)), 8000))
      val scanned = DicomSource.scanDir(s, dir, "*.wav")
        .select(element_at(split(col("path"), "/"), -1).as("file_name"),
          col("content"))
      Multimodal.decodeRowsPartitioned(scanned, "content",
          WavCodec.WavSamplesDecoder)
        .select(col("file_name"), posexplode(col("c0_samples"))
          .as(Seq("pos", "v")))
        .groupBy(col("file_name"), expr("pos div 8").as("win_idx"))
        .agg(count(lit(1)).as("n_samples"),
          sum(col("v").cast("long") * col("v")).as("energy"))
        .withColumn("is_speech",
          col("energy") >= lit(10000L) * col("n_samples"))
    },

    // JSONL corpus intake with fail-closed auditing: the LLM-corpus
    // interchange format read schema-on-read in PERMISSIVE mode — good
    // lines parse, a missing field is NULL (not an error), and a
    // malformed line surfaces as one is_corrupt row instead of killing
    // the scan or silently vanishing
    "q167_jsonl_ingest" -> { (s, _) =>
      import org.apache.spark.sql.types._
      val jsonl = Seq(
        """{"id": 1, "text": "hello world", "lang": "en"}""",
        """{"id": 2, "text": "bonjour", "lang": "fr"}""",
        """{"id": 3, "text": "no lang field"}""",
        """{"id": 4, "text": "truncated...""" // malformed on purpose
      ).mkString("\n")
      val dir = SyntheticFixtures.materialize("q167", "corpus.jsonl",
        jsonl.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("text", StringType),
        StructField("lang", StringType),
        StructField("_corrupt_record", StringType)))
      s.read.schema(schema)
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(s"$dir/corpus.jsonl")
        .select(col("id"), col("text"), col("lang"),
          col("_corrupt_record").isNotNull.as("is_corrupt"))
    },

    // Encoding-corruption repair: UTF-8-read-as-Latin-1 text (the classic
    // mojibake) fixed by the gated codegen'd encode/decode round trip;
    // clean ASCII and the double-gate keep false repairs at zero. The
    // corrupt inputs are derived from the clean strings at plan-build
    // time (bytes->Latin-1), so fixture and repair can never drift
    "q168_mojibake_repair" -> { (s, _) =>
      import s.implicits._
      val clean = Seq(
        (1L, "Caf\u00e9 au lait"),
        (2L, "na\u00efve r\u00e9sum\u00e9"),
        (3L, "already clean ascii"),
        (4L, "gr\u00fc\u00dfen"))
      val raw = clean.map { case (id, t) =>
        (id, if (id == 3L) t
        else new String(t.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.charset.StandardCharsets.ISO_8859_1))
      }.toDF("id", "raw")
      val repaired = graft.functions.TextFunctions.repairMojibake(col("raw"))
      raw.select(col("id"), repaired.as("fixed"),
        (repaired =!= col("raw")).as("was_repaired"))
    },

    // U3 HED schema union: multi-schema node catalog union
    // (hed_schema_node.py:9-14) feeding the q64 parser's members through
    // first-match-by-id leaf resolution (hed.py:191-201, events.py:169)
    // with parent-chain long names; name collisions across schemas take
    // the lowest id, unknown tags are flagged not raised
    "q103_hed_schema_union" -> { (s, _) =>
      import s.implicits._
      val standard = Seq(
        (1, None: Option[Int], 1, "Event"), (2, Some(1), 1, "Sensory-event"),
        (3, Some(1), 1, "Agent-action"), (4, None: Option[Int], 1, "Property"),
        (5, Some(4), 1, "Red"), (6, Some(4), 1, "Blue"),
        (7, Some(1), 1, "Offset"), (8, Some(1), 1, "End"),
        (9, Some(2), 1, "Cue"), (10, Some(2), 1, "Target"),
        (11, Some(3), 1, "Intended-effect"))
        .toDF("id", "parent_id", "schema_id", "name")
      val library = Seq(
        (101, None: Option[Int], 2, "Score-event"), (102, Some(101), 2, "Artifact"),
        (103, Some(101), 2, "Cue"), (104, None: Option[Int], 2, "Event"))
        .toDF("id", "parent_id", "schema_id", "name")
      val union = graft.operators.HedSchema.unionNodes(Seq(standard, library))
      val events = Seq(
        (1L, "Sensory-event, (Red, Blue), Agent-action"),
        (2L, "Event, (Intended-effect, (Cue, Target), Offset), End"),
        (3L, "Artifact, Event/Sensory-event/Cue, Mystery-tag"))
        .toDF("event_id", "hed")
      val members = graft.functions.HedParser.explodeHedString(events, "hed")
        .select(col("event_id"), col("group_index"), col("member_index"),
          col("tag"))
      graft.operators.HedSchema.resolveTags(members, union)
        .select(col("event_id"), col("group_index"), col("member_index"),
          col("tag"), col("hed_tag_id"), col("long_name"),
          col("unrecognized").cast("int").as("unrecognized"))
    },

    // HRRT PET vertical end to end (HRRT_PET_insertion.pl / HRRT.pm): scan
    // two study archives → ECAT7 big-endian main-header parse with BIC
    // rules (test*.v demoted, facility override) → per-archive summary
    // (first-ECAT study info, ecat/non-ecat counts, date from
    // scan_start_time, archive blake2b) → already-archived rejection on
    // Blake2bArchive (studyB pre-exists in the catalog, only studyA lands)
    "q110_hrrt_archive" -> { (s, _) =>
      import graft.operators.HrrtSummary
      import graft.sources.EcatReader
      val base = SyntheticFixtures.freshDir("q110")
      def put(sub: String, name: String, bytes: Array[Byte]): Unit = {
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(base, sub))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(base, sub, name), bytes)
      }
      // 2024-01-02T03:04:05Z = 1704164645
      put("studyA", "scan1.v", SyntheticFixtures.ecatBytes(
        "SUB001", "PET001", "Johns Hopkins Univ", 328, 1704164645L, 2))
      put("studyA", "scan2.v", SyntheticFixtures.ecatBytes(
        "SUB001", "PET001", "Johns Hopkins Univ", 328, 1704168000L, 1))
      put("studyA", "testscan.v", SyntheticFixtures.ecatBytes(
        "QC", "QC", "Johns Hopkins Univ", 328, 1704164000L, 1))
      put("studyA", "params.m", "PROTOCOL = FDG_STATIC;\n".getBytes("UTF-8"))
      put("studyA", "notes.txt", "transfer log\n".getBytes("UTF-8"))
      put("studyB", "old1.v", SyntheticFixtures.ecatBytes(
        "SUB999", "PET999", "Johns Hopkins Univ", 328, 1672628645L, 1))
      val files = EcatReader.files(s, base, bic = true).toDF()
        .withColumn("archive",
          element_at(split(col("file_path"), "/"), -2))
      val archives = HrrtSummary.archive(files)
      // studyB was already archived: its hash is in the hrrt_archive
      // catalog, so the guard must reject it and admit only studyA
      val existing = archives.filter(col("archive") === "studyB")
        .select(col("Blake2bArchive"))
      HrrtSummary.guardNewArchives(archives, existing)
        .join(
          HrrtSummary.archiveFiles(files)
            .groupBy(col("archive"))
            .agg(array_sort(collect_list(col("Filename"))).as("fs")),
          Seq("archive"))
        .select(col("archive"), col("PatientName"), col("PatientID"),
          col("CenterName"), col("SystemType"), col("DateAcquired"),
          col("YearAcquired"), col("Manufacturer"), col("ScannerModel"),
          col("EcatFileCount"), col("NonEcatFileCount"),
          col("ParseFailedCount"),
          array_join(col("fs"), ",").as("EcatFiles"),
          col("Blake2bArchive"))
    },

    // HRRT insertion lifecycle, the post-archive half of
    // HRRT_PET_insertion.pl: per-ECAT MINC registration with id
    // continuation (ecat2minc + register_db), the ecat_filename linkage
    // (appendEcatToRegisteredMinc renames .v→.mnc), SessionID resolved
    // from the candidate and pushed onto the archive + upload rows
    // (updateHrrtArchiveSessionID / updateHrrtUploadInfo: minc counts,
    // InsertionComplete)
    "q115_hrrt_insertion" -> { (s, _) =>
      import s.implicits._
      import graft.sources.EcatReader
      val base = SyntheticFixtures.freshDir("q115")
      def put(name: String, bytes: Array[Byte]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(base, name), bytes)
      put("scan1.v", SyntheticFixtures.ecatBytes(
        "SUB001", "PET001", "JHU", 328, 1704164645L, 2))
      put("scan2.v", SyntheticFixtures.ecatBytes(
        "SUB001", "PET001", "JHU", 328, 1704168000L, 1))
      put("params.m", "PROTOCOL = FDG_STATIC;\r\nDOSE = 5.2;\n"
        .getBytes("UTF-8"))
      put("notes.txt", "log\n".getBytes("UTF-8"))
      val ecat = EcatReader.files(s, base, bic = true).toDF()
        .filter(col("is_ecat") && !col("parse_failed"))
      // BIC protocol resolution: the .m file's PROTOCOL drives the
      // mri_scan_type lookup (HRRT_PET_insertion.pl:377-400)
      val protocol = EcatReader.matlabParams(s, base)
        .filter(col("key") === "PROTOCOL")
        .select(col("value").as("protocol"))
      val protocolTypes = Seq(("FDG_STATIC", 701), ("FDG_DYN", 702))
        .toDF("protocol", "MriScanTypeID")
      val resolved = protocol.join(broadcast(protocolTypes), Seq("protocol"))
      // ecat2minc + register_db: one MINC per ECAT, ids continuing from
      // the existing files catalog, keyed by the renamed path
      val existing = Seq((5001L, "old.mnc"))
        .toDF("FileID", "minc_path")
      val minc = ecat.select(
        regexp_replace(col("file_name"), "\\.v$", ".mnc").as("minc_path"),
        col("file_name").as("ecat_filename"),
        col("patient_name"))
      val registered = graft.sources.Sinks.appendWithIds(
        existing.withColumn("ecat_filename", lit(null).cast("string"))
          .withColumn("patient_name", lit(null).cast("string")),
        minc, naturalKey = Seq("minc_path"), idCol = "FileID")
        .filter(col("ecat_filename").isNotNull) // the new rows
      // session resolution (getSessionID via candidate) + upload update
      val sessions = Seq(("SUB001", 88L)).toDF("patient", "SessionID")
      val upload = Seq(Tuple1(42L)).toDF("UploadID")
      val withSession = registered
        .join(broadcast(sessions),
          col("patient_name") === col("patient"))
      val counts = withSession.agg(
        count(lit(1)).cast("int").as("minc_inserted"),
        count(lit(1)).cast("int").as("minc_created"))
      withSession
        .crossJoin(broadcast(upload))
        .crossJoin(broadcast(counts))
        .crossJoin(broadcast(resolved))
        .withColumn("InsertionComplete", lit(1))
        .select(col("minc_path"), col("FileID"), col("ecat_filename"),
          col("SessionID"), col("protocol"), col("MriScanTypeID"),
          col("UploadID"), col("InsertionComplete"),
          col("minc_created"), col("minc_inserted"))
    },

    // Processed-data registration vertical (register_processed_data.pl /
    // DTIPrepRegister.pl): DTIPrep outputs registered against the files
    // catalog — source-exists + input-list + scan-type + md5-uniqueness
    // guards in the reference's own order, session/scanner inherited from
    // the source acquisition, FileIDs continuing from max(existing)
    "q111_register_processed" -> { (s, _) =>
      import s.implicits._
      import graft.operators.ProcessedRegistration
      val files = Seq(
        (1001L, 11L, 21L, "md5raw1"),
        (1002L, 12L, 22L, "md5raw2"))
        .toDF("FileID", "SessionID", "ScannerID", "md5hash")
      val scanTypes = Seq((601, "QCedDTI"), (602, "RGBqc"),
        (603, "TxtQCReport"))
        .toDF("MriScanTypeID", "ScanType")
      val candidates = Seq(
        ("qced_dti.mnc", 1001L, Seq(1001L), "DTIPrep_pipeline",
          "DTIPrep_v1.1.6", "2024-02-01", "native", "QCedDTI", "QCed",
          "md5qced"),
        ("rgb_map.mnc", 1001L, Seq(1001L), "DTIPrep_pipeline",
          "DTIPrep_v1.1.6", "2024-02-01", "native", "RGBqc", "processed",
          "md5rgb"),
        ("qc_report.xml", 1001L, Seq(1001L), "DTIPrep_pipeline",
          "DTIPrep_v1.1.6", "2024-02-01", "native", "XMLQCReport",
          "QCReport", "md5xml"),
        ("orphan.mnc", 9999L, Seq(1001L), "DTIPrep_pipeline",
          "DTIPrep_v1.1.6", "2024-02-01", "native", "QCedDTI", "QCed",
          "md5orph"),
        ("rerun_raw.mnc", 1002L, Seq(1002L), "DTIPrep_pipeline",
          "DTIPrep_v1.1.6", "2024-02-01", "native", "QCedDTI", "QCed",
          "md5raw2"),
        ("bad_inputs.mnc", 1001L, Seq(1001L, 8888L), "DTIPrep_pipeline",
          "DTIPrep_v1.1.6", "2024-02-01", "native", "QCedDTI", "QCed",
          "md5bad"))
        .toDF("file_path", "source_file_id", "input_file_ids",
          "source_pipeline", "tool", "pipeline_date", "coordinate_space",
          "scan_type", "output_type", "md5hash")
      ProcessedRegistration.register(candidates, files, scanTypes)
    },

    // Non-MINC insertion vertical (imaging_non_minc_insertion.pl): the
    // script's nine abort points as a status ladder — date format, upload
    // id, scanner id, scan type, ImagingFileTypes extension match,
    // PSCID_CandID_VisitLabel parse, candidate/visit validation (BINARY
    // label match), md5 uniqueness (catalog + earlier passing batch-mate)
    // — then registration with inherited ids and get-or-create sessions
    // (created BEFORE the md5 guard, as the reference does)
    "q117_non_minc_insertion" -> { (s, _) =>
      graft.operators.NonMincRegistration
        .register(nonMincFixture(s), nonMincUploads(s), nonMincScanners(s),
          nonMincScanTypes(s), nonMincFileTypes(s), nonMincCandidates(s),
          nonMincVisitWindows(s), nonMincSessions(s), nonMincFiles(s))
        .drop("metadata")
    },

    // parameter_file rows for the files q117 registers: metadata JSON
    // key/values plus the always-set acquisition_date parameter
    "q118_non_minc_parameters" -> { (s, _) =>
      graft.operators.NonMincRegistration.parameterRows(
        graft.operators.NonMincRegistration
          .register(nonMincFixture(s), nonMincUploads(s), nonMincScanners(s),
            nonMincScanTypes(s), nonMincFileTypes(s), nonMincCandidates(s),
            nonMincVisitWindows(s), nonMincSessions(s), nonMincFiles(s)))
    },

    // ECAT7 connector batch surface: one row per .v file, at most 512
    // header bytes read per file (path-only projections read nothing);
    // parse_failed audits lmhdr failures instead of dropping rows. The
    // streaming twin (petupload_cron_prod's watch loop) is spec-verified
    // through the shared SeenFileLogStream.
    "q126_ecat_dsv2" -> { (s, _) =>
      val dir = SyntheticFixtures.freshDir("q126")
      def put(name: String, bytes: Array[Byte]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, name), bytes)
      put("s1.v", SyntheticFixtures.ecatBytes(
        "SUB001", "PET001", "Johns Hopkins Univ", 328, 1704164645L, 2))
      put("s2.v", SyntheticFixtures.ecatBytes(
        "SUB002", "PET002", "BIC", 328, 1704168000L, 1))
      put("junk.v", Array.fill[Byte](600)(0x41))
      put("tiny.v", Array.fill[Byte](16)(0x42))
      s.read.format("ecat").load(dir)
        .select("file_name", "parse_failed", "patient_name", "patient_id",
          "facility_name", "system_type", "scan_start_time", "num_frames")
    },

    // splitMergedSeries.pl -echo mode: unnumbered multi-echo series get
    // per-TE EchoNumber ranks; merged sub-acquisitions (slice-position
    // breaks) get per-image 100*sub+echo rows. Series 5 = dual-echo
    // UNDEF; series 6 = two stacked repeats of the same acquisition
    "q125_series_split_spec" -> { (s, _) =>
      import s.implicits._
      val rows = Seq(
        // series 5: TE 10 and 30, echo UNDEF, clean ascending stacks
        ("S1", 5, 10.0, None, 1, 0.0), ("S1", 5, 10.0, None, 2, 2.0),
        ("S1", 5, 10.0, None, 3, 4.0),
        ("S1", 5, 30.0, None, 4, 0.0), ("S1", 5, 30.0, None, 5, 2.0),
        ("S1", 5, 30.0, None, 6, 4.0),
        // series 6: one TE, echo set, two merged repeats (position
        // resets at image 4 -> direction change)
        ("S1", 6, 25.0, Some(1), 1, 0.0), ("S1", 6, 25.0, Some(1), 2, 2.0),
        ("S1", 6, 25.0, Some(1), 3, 4.0), ("S1", 6, 25.0, Some(1), 4, 0.0),
        ("S1", 6, 25.0, Some(1), 5, 2.0), ("S1", 6, 25.0, Some(1), 6, 4.0))
        .toDF("StudyInstanceUID", "SeriesNumber", "EchoTime",
          "EchoNumber", "ImageNumber", "SlicePosition")
      graft.operators.SeriesSplitter.splitSpec(rows)
    },

    // minc_to_bids_converter.pl naming: run numbers per scan type by
    // SeriesNumber ("00$i" literal), BIDS entity assembly in fixed order
    // with subcategory overrides, underscore-stripped visit labels, the
    // skip/defer/error ladder, and the s/nii/json/g sidecar-name quirk
    "q124_bids_export_names" -> { (s, _) =>
      import s.implicits._
      val files = Seq(
        (7001L, 300001L, "V_01", "t1w", 11),
        (7002L, 300001L, "V_01", "t1w", 20),
        (7003L, 300001L, "V_01", "rest-fmri", 12),
        (7004L, 300001L, "V_01", "weird", 13),
        (7005L, 300001L, "V_01", "mem-fmri", 14),
        (7006L, 300001L, "V_01", "gre-field", 15),
        (7007L, 300001L, "V_01", "me-t1", 16))
        .toDF("FileID", "candID", "visitLabel", "lorisScanType",
          "seriesNumber")
      val rel = Seq(
        ("t1w", "anat", None, "T1w", None),
        ("rest-fmri", "func", Some("task-rest"), "bold", None),
        ("mem-fmri", "func", None, "bold", None),
        ("gre-field", "fmap", None, "magnitude", Some(2)),
        ("me-t1", "anat", None, "MEGRE", Some(2)))
        .toDF("ScanType", "BIDSCategoryName", "BIDSScanTypeSubCategory",
          "BIDSScanType", "BIDSEchoNumber")
      graft.operators.BidsExport.exportNames(files, rel, "/bids")
    },

    // delete_imaging_upload.pl as ONE dataflow: the full delete/backup
    // manifest — files by TarchiveSource, intermediary outputs (duplicate
    // Output_FileID entries duplicate rows, as the reference documents),
    // the parameter_file two-branch UNION, the three violation tables,
    // relative→dataDir full paths — for deletable uploads only
    "q122_delete_upload_footprint" -> { (s, _) =>
      import s.implicits._
      graft.operators.DeleteUpload.footprint(
        delUploads(s), delFiles(s), delIntermed(s), delParams(s),
        Seq((31L, 500L, "trash/v.mnc"))
          .toDF("ID", "TarchiveID", "minc_location"),
        Seq((41L, 500L, "trash/l.mnc"))
          .toDF("LogID", "TarchiveID", "MincFile"),
        Seq((51L, 500L, "trash/c.mnc"))
          .toDF("ID", "TarchiveID", "MincFile"),
        delQc(s), delQc(s), dataDir = "/data")
    },

    // the refusal gate: hasQcOrComment counts per upload
    "q123_delete_upload_gate" -> { (s, _) =>
      graft.operators.DeleteUpload.qcGate(
        delUploads(s), delFiles(s), delIntermed(s), delQc(s), delQc(s))
    },

    // Batch imaging-upload intake (batch_uploads_imageuploader.pl): the
    // uploader's validation quirks — FIRST-dot extension parse (a.b.tgz
    // rejected), phantom Y/N gate, patient-name-prefix check with Perl's
    // undef→'' passthrough, the literal 'NULL' phantom name — then
    // mri_upload rows with line-ordered id continuation and the
    // imaging_upload_file.pl command each would launch
    "q121_batch_upload_intake" -> { (s, _) =>
      import s.implicits._
      val lines = Seq(
        (1, "/in/PSC0001_123457_V1.tar.gz", "N", "PSC0001_123457"),
        (2, "/in/Lego_Phantom_MNI_20140101.zip", "Y",
          null.asInstanceOf[String]),
        (3, "/in/scan.mnc", "N", "PSC0000"),
        (4, "/in/a.b.tgz", "N", "a"),
        (5, "/in/x.tgz", "Q", "foo"),
        (6, "/in/PSC9_1_V1.zip", "N", "PSC0001_123457"),
        (7, "/in/Phantom2.tgz", "Y", "oops"),
        (8, "/in/y.tar.gz", "N", null.asInstanceOf[String]))
        .toDF("line_no", "full_path", "phantom", "patient_name")
      val uploads = Seq(70L, 71L).toDF("UploadID")
      graft.operators.BatchUploader.intake(lines, uploads,
        user = "lorisadmin", profile = "prod")
    },

    // The transactional DSv2 object publish: write through the connector
    // (staged task writes → commit messages → driver rename + manifest
    // LAST), then read back the bucket's ACTUAL objects and prove each
    // manifest row md5-matches the published bytes. The all-or-nothing
    // upgrade of q109's best-effort upload_dir.
    "q120_objectstore_txn" -> { (s, _) =>
      import s.implicits._
      val bucket = SyntheticFixtures.freshDir("q120bucket")
      Seq(("a.txt", "alpha"), ("b.txt", "beta"), ("sub/c.txt", "gamma"))
        .map { case (n, c) => (n, c.getBytes("UTF-8")) }
        .toDF("dest_name", "content")
        .write.format("objectstore").option("path", bucket)
        .mode("append").save()
      // '_MANIFEST' is deliberately underscore-hidden from data scans
      // (the _SUCCESS/_delta_log convention), so it is read as what it
      // is: driver-side commit metadata, one line per object
      val manifestLines = {
        val p = new org.apache.hadoop.fs.Path(bucket, "_MANIFEST")
        val fs = p.getFileSystem(s.sessionState.newHadoopConf())
        val in = fs.open(p)
        val body = try {
          val len = fs.getFileStatus(p).getLen.toInt
          val buf = new Array[Byte](len)
          in.readFully(0, buf)
          new String(buf, java.nio.charset.StandardCharsets.UTF_8)
        } finally in.close()
        body.split("\n").toSeq
      }
      val manifest = manifestLines.toDF("value")
        .select(split(col("value"), "\t").as("f"))
        .select(col("f")(0).as("object_name"),
          col("f")(1).as("manifest_md5"),
          col("f")(2).cast("long").as("size"))
      val objects = DicomSource.scanDir(s, bucket)
        .select(
          substring_index(col("path"), "q120bucket/", -1).as("object_name"),
          md5(col("content")).as("bucket_md5"))
        .where(col("object_name") =!= "_MANIFEST")
      manifest.join(objects, Seq("object_name"))
        .select(col("object_name"), col("manifest_md5"),
          col("bucket_md5"), col("size"))
    },

    // S11 end to end: distributed upload into a Hadoop-FS bucket with the
    // reference's three outcomes (aws_s3.py:93-158 / upload_dir --force
    // semantics) — new object uploaded, content-match skip, diverged
    // destination left alone — then the catalog path swap
    // (push_imaging_files_to_s3_pipeline.py's DB update) and a read-back
    // of the bucket's ACTUAL objects, md5-pinned. file:// here, s3a:// in
    // production; the scheme is the only difference.
    "q109_object_store" -> { (s, _) =>
      import java.nio.file.{Files, Paths}
      import graft.sources.ObjectStore
      val src = SyntheticFixtures.freshDir("q109src")
      Files.write(Paths.get(src, "a.txt"), "alpha".getBytes("UTF-8"))
      Files.write(Paths.get(src, "b.txt"), "beta".getBytes("UTF-8"))
      Files.createDirectories(Paths.get(src, "sub"))
      Files.write(Paths.get(src, "sub", "c.txt"), "gamma".getBytes("UTF-8"))
      val bucket = SyntheticFixtures.freshDir("q109bucket")
      // pre-seed the bucket: b.txt identical (→ skipped_same_content),
      // sub/c.txt diverged (→ skipped_exists, catalog keeps local path)
      Files.write(Paths.get(bucket, "b.txt"), "beta".getBytes("UTF-8"))
      Files.createDirectories(Paths.get(bucket, "sub"))
      Files.write(Paths.get(bucket, "sub", "c.txt"), "DIVERGED".getBytes("UTF-8"))
      // executing the manifest IS the upload: cut it eagerly, once (see
      // ObjectStore.pushAndSwap)
      val manifest = ObjectStore.uploadDir(s, src, bucket).localCheckpoint(true)
      val catalog = manifest.select(col("local_path").as("path"))
      val swapped = ObjectStore.swapPaths(catalog, "path", manifest)
        .select(col("path"),
          element_at(split(col("path"), "/"), -1).as("sw_name"))
      val objects = DicomSource.scanDir(s, bucket)
        .select(element_at(split(col("path"), "/"), -1).as("file_name"),
          md5(col("content")).as("bucket_md5"))
      manifest
        .select(
          element_at(split(col("local_path"), "/"), -1).as("file_name"),
          col("action"))
        .join(swapped, col("file_name") === col("sw_name"))
        .withColumn("swapped",
          col("path").startsWith(bucket).cast("int"))
        .join(objects, Seq("file_name"))
        .select(col("file_name"), col("action"), col("swapped"),
          col("bucket_md5"))
    },

    // S14 EEGLAB MAT v7.3 end to end: the HDF5 container (superblock v0
    // behind the MATLAB userblock, v1 object headers, symbol-table
    // groups, chunked+deflate data, chanlocs as object references) walked
    // by Hdf5Lite → same SetRecording contract as v6 → chunker. The
    // golden fixture was written by tools/make_v73_fixtures.py, a
    // from-scratch python struct.pack twin of the reader
    "q113_eeglab_v73_ingest" -> { (s, _) =>
      val in = getClass.getResourceAsStream("/graft/v73_struct.set")
      val bytes = try in.readAllBytes() finally in.close()
      val dir = SyntheticFixtures.materialize("q113", "rec1.set", bytes)
      EphysChunker.chunkStats(
        EeglabReader.asLongFormat(EeglabReader.channels(s, dir)), chunkSize = 4)
    },

    // Ingest scan audits end to end (ADVICE r3): parse failures surface as
    // countable rows — CTF layout divergence / missing meg4 sibling,
    // EEGLAB v7.3-HDF5 detection — instead of silent empty ingests
    "q112_ingest_audit" -> { (s, _) =>
      import java.nio.file.{Files, Paths}
      val ctfDir = SyntheticFixtures.freshDir("q112ctf")
      val (res4, meg4) = SyntheticFixtures.ctfRecordingBytes()
      Files.write(Paths.get(ctfDir, "good.res4"), res4)
      Files.write(Paths.get(ctfDir, "good.meg4"), meg4)
      Files.write(Paths.get(ctfDir, "diverged.res4"),
        java.util.Arrays.copyOfRange(res4, 0, 500))
      Files.write(Paths.get(ctfDir, "orphan.res4"), res4)
      val eegDir = SyntheticFixtures.freshDir("q112eeg")
      val (set, _) = SyntheticFixtures.eeglabRecordingBytes()
      Files.write(Paths.get(eegDir, "good.set"), set)
      val v73 = new Array[Byte](1024)
      val txt = "MATLAB 7.3 MAT-file".getBytes("US-ASCII")
      System.arraycopy(txt, 0, v73, 0, txt.length)
      val sig = Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1A, '\n')
      System.arraycopy(sig, 0, v73, 512, 8)
      Files.write(Paths.get(eegDir, "modern.set"), v73)
      Files.write(Paths.get(eegDir, "junk.set"),
        "not matlab".getBytes("US-ASCII"))
      val ctf = CtfReader.scanAudit(s, ctfDir).toDF()
        .select(lit("ctf").as("format"),
          element_at(split(col("file_path"), "/"), -1).as("file_name"),
          col("status"), col("n_channels"))
      val eeg = EeglabReader.scanAudit(s, eegDir).toDF()
        .select(lit("eeglab").as("format"),
          element_at(split(col("file_path"), "/"), -1).as("file_name"),
          col("status"), col("n_channels"))
      ctf.unionByName(eeg)
    },

    // T6 upload state machine (mapGroupsWithState, base_pipeline.py:86-87,
    // 269-272) on batch input: orders as upload events (seq = orderkey,
    // status = orderstatus) -> last status + transition count per upload
    "q65_upload_states" -> { (s, dir) =>
      import s.implicits._
      val events = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey").as("upload_id"),
          col("o_orderkey").as("seq"), col("o_orderstatus").as("status"))
        .as[graft.streaming.EventStream.UploadEvent]
      graft.streaming.EventStream.trackUploadStates(events).toDF()
    },

    // updateMRI_Upload.pl vertical (dicom-archive/updateMRI_Upload.pl:
    // 227-271): batch classification of upload requests against the
    // tarchive + mri_upload catalogs. Fixtures derive from orders so the
    // oracle is plain SQL: archives exist for keys !≡4 (mod 5), keys
    // ≡0 (mod 100) get an ambiguous same-basename twin in another year
    // dir, keys ≡0 (mod 3) are already uploaded, requests are keys
    // ≡0 (mod 7) — all four outcomes populated at every sf
    "q277_update_mri_upload" -> { (s, dir) =>
      val ok = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("k"))
      val tar0 = ok.filter(pmod(col("k"), lit(5)) =!= 4)
        .select(col("k").as("TarchiveID"),
          concat(lit("2019/DCM-"), col("k").cast("string"), lit(".tar"))
            .as("ArchiveLocation"))
      val twins = ok
        .filter(pmod(col("k"), lit(100)) === 0 && pmod(col("k"), lit(5)) =!= 4)
        .select((col("k") + lit(10000000L)).as("TarchiveID"),
          concat(lit("2020/DCM-"), col("k").cast("string"), lit(".tar"))
            .as("ArchiveLocation"))
      val mriUpload = tar0.filter(pmod(col("TarchiveID"), lit(3)) === 0)
        .select(col("TarchiveID"))
      val requests = ok.filter(pmod(col("k"), lit(7)) === 0)
        .select(
          concat(lit("/data/tarchive/2019/DCM-"), col("k").cast("string"),
            lit(".tar")).as("tarchive_path"),
          concat(lit("/incoming/upload-"), col("k").cast("string"))
            .as("source_location"))
      graft.operators.Catalog.updateMriUpload(requests,
        "tarchive_path", "source_location",
        tar0.unionByName(twins), mriUpload,
        uploadedBy = "lorisadmin", uploadDate = "2026-08-15 00:00:00")
    },

    // tarchive_validation.pl vertical: every exit gate (binding, md5,
    // center, plus the non-blocking candidate ladder), scanner
    // get-or-create with the serial-only re-probe, alias-regex center
    // fallback, phantom skip, and the reference quirk that a candidate
    // mismatch does NOT block IsTarchiveValidated
    "q135_tarchive_validation" -> { (s, _) =>
      import s.implicits._
      val psc = Seq((1, "Montreal Neuro", "MTL"), (2, "Ottawa General", "OTT"))
        .toDF("CenterID", "Alias", "MRI_alias")
      val candidates = Seq((11L, 300001L, "MTL0001"),
        (12L, 300002L, "MTL0002"), (13L, 300003L, "OTT0001"))
        .toDF("ID", "CandID", "PSCID")
      val sessions = Seq((11L, 1, "V1"))
        .toDF("CandidateID", "CenterID", "Visit_label")
      val visitWindows = Seq("V1", "V2").toDF("Visit_label")
      val scanners = Seq(
        (501L, "SIEMENS", "Prisma", "SN100", "VE11C", Some(900001L)),
        (502L, "SIEMENS", "Skyra", "SN200", "VE11E", None),
        (503L, "GE", "MR750", "SN300", "DV26", Some(900003L)))
        .toDF("ID", "Manufacturer", "Model", "Serial_number", "Software",
          "CandidateID")
      val tarchive = Seq(
        (21L, "2024/DCM_1.tar", "aaa  /t/DCM_1.tar", "MTL0001_300001_V1"),
        (22L, "2024/DCM_2.tar", "bbb  /t/DCM_2.tar", "MTL0002_300002_V2"),
        (23L, "2024/DCM_3.tar", "ccc  /t/DCM_3.tar", "OTT0001_300003_V9"),
        (24L, "2024/DCM_4.tar", "ddd  /t/DCM_4.tar", "MTL0009_300009_V1"),
        (25L, "2024/DCM_5.tar", "eee  /t/DCM_5.tar", "MTL0002_300001_V1"),
        (26L, "2024/DCM_6.tar", "fff  /t/DCM_6.tar", "MTL_phantom_scan"),
        (27L, "2024/DCM_7.tar", "ggg  /t/DCM_7.tar", "XXX9999_999999_V1"),
        (28L, "2024/DCM_8.tar", "hhh  /t/DCM_8.tar", "MTL0001_300001_V1"),
        (29L, "2024/DCM_9.tar", "iii  /t/DCM_9.tar", "MTL0001_300001_V1"),
        (30L, "2024/DCM_10.tar", "jjj  /t/DCM_10.tar", "MTL0001_300001_V1"),
        (31L, "2024/DCM_10.tar", "jj2  /t/DCM_10b.tar", "MTL0001_300001_V1"))
        .toDF("TarchiveID", "ArchiveLocation", "md5sumArchive", "PatientName")
        .withColumn("ScannerManufacturer",
          when(col("TarchiveID") === 22L, "SIEMENS")
            .when(col("TarchiveID") === 23L, "GE").otherwise("SIEMENS"))
        .withColumn("ScannerModel",
          when(col("TarchiveID") === 23L, "MR750").otherwise("Prisma"))
        .withColumn("ScannerSerialNumber",
          when(col("TarchiveID") === 22L, "SN999")
            .when(col("TarchiveID") === 23L, "SN300").otherwise("SN100"))
        .withColumn("ScannerSoftwareVersion",
          when(col("TarchiveID") === 23L, "DV26").otherwise("VE11C"))
      val uploads = Seq(
        (70L, 21L, "2024/DCM_1.tar"), (71L, 22L, "2024/DCM_2.tar"),
        (72L, 23L, "2024/DCM_3.tar"), (73L, 24L, "2024/DCM_4.tar"),
        (74L, 25L, "2024/DCM_5.tar"), (75L, 26L, "2024/DCM_6.tar"),
        (76L, 27L, "2024/DCM_7.tar"), (77L, 28L, "2024/DCM_8.tar"),
        (78L, 99L, "2024/DCM_9.tar"), (79L, 50L, "2024/DCM_missing.tar"),
        (80L, 30L, "2024/DCM_10.tar"))
        .toDF("UploadID", "TarchiveID", "ArchiveLocation")
      val fsMd5 = Seq(
        ("2024/DCM_1.tar", "aaa  /disk/DCM_1.tar"),
        ("2024/DCM_2.tar", "bbb  /disk/DCM_2.tar"),
        ("2024/DCM_3.tar", "ccc  /disk/DCM_3.tar"),
        ("2024/DCM_4.tar", "ddd  /disk/DCM_4.tar"),
        ("2024/DCM_5.tar", "eee  /disk/DCM_5.tar"),
        ("2024/DCM_6.tar", "fff  /disk/DCM_6.tar"),
        ("2024/DCM_7.tar", "ggg  /disk/DCM_7.tar"),
        ("2024/DCM_8.tar", "zzz  /disk/DCM_8.tar"),
        ("2024/DCM_9.tar", "iii  /disk/DCM_9.tar"),
        ("2024/DCM_10.tar", "jjj  /disk/DCM_10.tar"))
        .toDF("archive_location", "fs_md5")
      graft.operators.TarchiveValidation.validateUploads(
        uploads, tarchive, fsMd5, psc, sessions, candidates, visitWindows,
        scanners)
    },

    // extract_eeg_bids_archive.py: per-upload BIDS-structure walk over
    // REAL archives — ses- discovery, the sub-.+$ session-relative
    // capture, per-modality rows, .set/.fdt rewrite counts, and the two
    // failure branches (ses- outside a sub- tree; no ses- at all)
    "q146_eeg_extract_plan" -> { (s, _) =>
      import s.implicits._
      import graft.sources.TarSink
      val dir = SyntheticFixtures.freshDir("q146")
      def targz(entries: Seq[(String, Array[Byte])]): Array[Byte] =
        TarSink.gzipBytes(TarSink.tarBytes(entries))
      def put(name: String, bytes: Array[Byte]): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(dir, name), bytes)
      val b = "x".getBytes("US-ASCII")
      put("eeg_arch1.tar.gz", targz(Seq(
        "bids/" -> Array.emptyByteArray,
        "bids/sub-300001/" -> Array.emptyByteArray,
        "bids/sub-300001/ses-V1/" -> Array.emptyByteArray,
        "bids/sub-300001/ses-V1/eeg/" -> Array.emptyByteArray,
        "bids/sub-300001/ses-V1/eeg/rec.set" -> b,
        "bids/sub-300001/ses-V1/eeg/rec.fdt" -> b,
        "bids/sub-300001/ses-V1/eeg/solo.set" -> b,
        "bids/sub-300001/ses-V1/beh/" -> Array.emptyByteArray,
        "bids/sub-300001/ses-V1/beh/task.tsv" -> b)))
      put("eeg_arch2.tar.gz", targz(Seq(
        "ses-V1/" -> Array.emptyByteArray,
        "ses-V1/eeg/" -> Array.emptyByteArray,
        "ses-V1/eeg/rec.set" -> b)))
      put("eeg_arch3.tar.gz", targz(Seq(
        "data/" -> Array.emptyByteArray,
        "data/readme.txt" -> b)))
      val uploads = Seq(
        (501L, "eeg_arch1.tar.gz", "Not Started"),
        (502L, "eeg_arch2.tar.gz", "Not Started"),
        (503L, "eeg_arch3.tar.gz", "Not Started"),
        (504L, "eeg_arch1.tar.gz", "Extracted"))
        .toDF("UploadID", "UploadLocation", "Status")
      val members = TarGzSource.members(s, dir, glob = "*.tar.gz").toDF()
      graft.operators.EegBidsUploads.planExtraction(uploads, members)
    },

    // ingest_eeg_bids_datasets.py: subject resolution (sub-<CandID>
    // exact, then sub-<PSCID> case-insensitive), visit-dir gate,
    // previous-upload purge counts, and the status ladder
    "q147_eeg_ingest_plan" -> { (s, _) =>
      import s.implicits._
      val uploads = Seq(
        (601L, 41L, "Extracted"), (602L, 42L, "Extracted"),
        (603L, 43L, "Extracted"), (604L, 44L, "Extracted"),
        (605L, 45L, "Extracted"), (606L, 41L, "Complete"))
        .toDF("UploadID", "SessionID", "Status")
      val sessions = Seq((41L, 11L, "V1"), (42L, 12L, "V1"),
        (43L, 13L, "V9"), (45L, 15L, "V1"))
        .toDF("ID", "CandidateID", "Visit_label")
      val candidates = Seq(
        (11L, 300001L, "AAA001"), (12L, 300002L, "ABC001"),
        (13L, 300003L, "AAC001"), (15L, 300005L, "ZZZ001"))
        .toDF("ID", "CandID", "PSCID")
      val bidsDirs = Seq("sub-300001/ses-V1/eeg", "sub-abc001/ses-V1/eeg",
        "sub-AAC001/ses-V2/eeg").toDF("dir_path")
      val physio = Seq((9001L, 41L), (9002L, 41L), (9003L, 42L))
        .toDF("PhysiologicalFileID", "SessionID")
      graft.operators.EegBidsUploads.planIngestion(uploads, sessions,
        candidates, bidsDirs, physio)
    },

    // batch_uploads_tarchive.pl: whitespace line split, unanchored
    // library-dir strip, converter dispatch (dcm2mnc → tarchiveLoader),
    // counter-indexed log names, missing-arg flags
    "q148_batch_tarchive" -> { (s, _) =>
      import s.implicits._
      val lines = Seq(
        (1L, "/t/2024/DCM_A.tar 70"),
        (2L, "2024/DCM_B.tar 71"),
        (3L, "DCM_C.tar"),
        (4L, "  2024/DCM_D.tar   72  "))
        .toDF("line_no", "line")
      graft.operators.BatchUploader.batchTarchiveCommands(lines,
        libraryDir = "/t", profile = "prod", converter = "dcm2mnc v2.0",
        isQsub = false, dataDir = "/data/p")
    },

    // tarchiveLoader.pl completion: the accumulate-vs-overwrite counter
    // quirk, the CI year-dir move gate (moves happen even for studies
    // later deemed invalid), session linking with the create-vs-get
    // failure split, and the final-logfile naming ladder
    "q149_loader_completion" -> { (s, _) =>
      import s.implicits._
      val uploads = Seq(
        (70L, 21L, "/t/inbox/DCM_A.tar", Some("2024-03-05"),
          Some("300001"), "MTL0001", false, "MTL", "tmp1", 5L, 4L,
          Some(2L), Some(901L), false),
        (71L, 22L, "/t/2023/DCM_B.tar", Some("2023-04-01"),
          Some("300002"), "MTL0002", false, "MTL", "tmp2", 3L, 3L,
          None, Some(902L), false),
        (72L, 23L, "/t/inbox/DCM_C.tar", Some("2024-05-01"),
          Some("300003"), "MTL0003", false, "MTL", "tmp3", 0L, 0L,
          None, Some(903L), false),
        (73L, 24L, "/t/inbox/DCM_D.tar", Some("2024-05-02"),
          Some("300004"), "MTL0004", false, "MTL", "tmp4", 4L, 0L,
          None, Some(904L), false),
        (74L, 25L, "/t/inbox/DCM_E.tar", Some("2024-06-01"),
          Some("300005"), "MTL0005", false, "MTL", "tmp5", 2L, 2L,
          None, None, true),
        (75L, 26L, "/t/inbox/DCM_F.tar", None, Some("300006"),
          "MTL0006", false, "MTL", "tmp6", 2L, 1L, None, Some(905L),
          false),
        (76L, 27L, "/t/inbox/DCM_G.tar", Some("2024-07-01"),
          Some("300007"), "PHA001", true, "MTL", "tmp7", 1L, 1L,
          None, Some(906L), false),
        (77L, 28L, "/t/inbox/DCM_H.tar", Some("2024-08-01"),
          Some("300008"), "MTL0008", false, "MTL", "tmp8", 2L, 2L,
          None, None, false))
        .toDF("upload_id", "tarchive_id", "archive_path", "date_acquired",
          "cand_id", "pscid", "is_phantom", "mri_alias", "temp_suffix",
          "mcount", "n_inserted", "old_inserted", "resolved_session_id",
          "create_visit_label")
      graft.operators.TarchiveLoader.complete(uploads, "/t")
    },

    // ImagingUpload.pm IsCandidateInfoValid over REAL header parses:
    // prefix patient-name match, phantom-regex branch, non-DICOM
    // warn-and-ignore, the ECAT→HRRT flip with filename matching and the
    // exclude list, already-inserted and unknown-upload guards
    "q150_upload_validation" -> { (s, _) =>
      import s.implicits._
      val dir = SyntheticFixtures.freshDir("q150")
      def dcm(pname: String): Array[Byte] =
        SyntheticFixtures.dicomBytes(Seq(
          SyntheticFixtures.dicomElem(0x0008, 0x0060, "CS", "MR"),
          SyntheticFixtures.dicomElem(0x0010, 0x0010, "PN", pname),
          SyntheticFixtures.dicomElem(0x0010, 0x0020, "LO", "PID"),
          SyntheticFixtures.dicomElem(0x0020, 0x000D, "UI", "1.2.3")))
      def put(sub: String, name: String, bytes: Array[Byte]): Unit = {
        val p = java.nio.file.Paths.get(dir, sub)
        java.nio.file.Files.createDirectories(p)
        java.nio.file.Files.write(p.resolve(name), bytes)
      }
      put("70", "001.dcm", dcm("MTL0001_300001_V1_extra"))
      put("70", "002.dcm", dcm("MTL0001_300001_V1"))
      put("70", "notes.txt", "junk".getBytes("US-ASCII"))
      put("71", "001.dcm", dcm("OTHER_999999_V1"))
      put("72", "001.dcm", dcm("lego_phantom_a"))
      put("74", "HRRT01_em.v", Array.fill[Byte](600)(0x42))
      put("74", "To_Archive_info.txt", "x".getBytes("US-ASCII"))
      put("74", "scan-hrrt01.s", "y".getBytes("US-ASCII"))
      val scanned = DicomSource.extractHeaders(
        DicomSource.scanDir(s, dir).select(col("path"), col("content")))
        .select(
          element_at(split(col("file_path"), "/"), -2).cast("long")
            .as("upload_id"),
          col("file_path"), col("is_dicom"),
          col("patient_name").as("header_pname"),
          col("patient_id").as("header_pid"))
      val uploads = Seq[(Long, Option[String], Option[Long], Option[Long],
          String)](
        (70L, Some("MTL0001_300001_V1"), None, None, "N"),
        (71L, Some("MTL0002_300002_V1"), None, None, "N"),
        (72L, Some("PHANTOM_SCAN"), None, None, "Y"),
        (73L, Some("MTL0004_300004_V1"), Some(21L), None, "N"),
        (74L, Some("HRRT01"), None, None, "N"),
        (75L, None, None, None, "N"))
        .toDF("UploadID", "PatientName", "TarchiveID",
          "number_of_mincCreated", "IsPhantom")
      graft.operators.UploadValidation.isCandidateInfoValid(uploads,
        scanned)
    },

    // import_bids_dataset MRI vertical (loris_bids_importer/mri/main.py):
    // path guard, grouped file-type/hash/scan-type checks over REAL NIfTI
    // bytes, suffix get-or-create, parameter assembly, registration ids.
    // acq1/acq3/acq9 share identical bytes: 1 is path-rejected (never
    // registers its hash), 3 imports, 9 batch-duplicates against 3.
    "q151_bids_mri_import" -> { (s, _) =>
      import s.implicits._
      import graft.sources.SyntheticFixtures.niftiBytes
      val c1 = niftiBytes(Seq(64, 64, 32), Seq(1.0f, 1.0f, 1.25f))
      val c2 = niftiBytes(Seq(80, 80, 40), Seq(1.0f, 1.0f, 1.0f))
      val c4 = niftiBytes(Seq(64, 64, 32, 120), Seq(0.5f, 0.5f, 0.5f))
      val c5 = niftiBytes(Seq(96, 96, 60), Seq(2.0f, 2.0f, 2.0f))
      val c6 = niftiBytes(Seq(10, 10, 10), Seq(1.0f, 1.0f, 1.0f))
      val c7 = niftiBytes(Seq(12, 12, 12), Seq(1.0f, 1.0f, 1.0f))
      val c8 = niftiBytes(Seq(128, 128, 70), Seq(2.0f, 2.0f, 2.0f))
      val acqs = Seq(
        (1L, "sub-01_ses-01_run-1_T1w.nii.gz", "anat", Option("T1w"),
          "MTL001", "V1", c1, Option.empty[String], Option.empty[String],
          Option.empty[String], Option.empty[String], Option.empty[String],
          Option.empty[String], Option.empty[Double]),
        (2L, "sub-02_ses-01_T1w.nii.gz", "anat", Option("T1w"), "MTL002",
          "V1", c2, None, None, None, None, None, None, None),
        (3L, "sub-03_ses-02_acq-mprage_T1w.nii", "anat", Option("T1w"),
          "MTL003", "V2", c1,
          Option("""{"EchoTime":"0.03","RepetitionTime":"2.0",""" +
            """"SeriesInstanceUID":"1.2.3.4","Manufacturer":"Siemens"}"""),
          None, None, None, None, Option("2024-01-01T10:00:00"),
          Option(33.5)),
        (4L, "sub-04_ses-01_task-rest_cbv.nii.gz", "func", Option("cbv"),
          "MTL004", "V1", c4, None, None, None, Option("p.tsv"),
          Option("e.tsv"), None, None),
        (5L, "sub-05_ses-01_T2w.nii.gz", "dwi", Option("T2w"), "MTL005",
          "V1", c5, None, None, None, None, None, None, None),
        (6L, "sub-06_ses-01_dwi.xyz", "dwi", Option("dwi"), "MTL006",
          "V1", c6, None, None, None, None, None, None, None),
        (7L, "sub-07_ses-01_bold.nii.gz", "func", Option.empty[String],
          "MTL007", "V1", c7, None, None, None, None, None, None, None),
        (8L, "sub-08_ses-01_dwi.nii.gz", "dwi", Option("dwi"), "MTL008",
          "V1", c8, Option("""{"EchoTime":"0.08"}"""), Option("d.bval"),
          Option("d.bvec"), None, None, None, None),
        (9L, "sub-09_ses-01_T1w.nii.gz", "anat", Option("T1w"), "MTL009",
          "V1", c1, None, None, None, None, None, None, None))
        .toDF("acq_id", "bids_name", "data_type", "suffix", "psc_id",
          "visit_label", "nifti_content", "sidecar_json", "bval_path",
          "bvec_path", "physio_path", "events_path",
          "scan_acquisition_time", "age_at_scan")
      val files = Seq(
        (500L,
          "bids_imports/DS01_BIDSVersion_1.0.2/sub-MTL001/ses-V1/anat/" +
            "sub-MTL001_ses-V1_run-1_T1w.nii.gz",
          "unrelated-hash-0"),
        (510L, "other/path.nii",
          graft.functions.expressions.Blake2bCore.hexDigest(c2)))
        .toDF("FileID", "File", "file_blake2b_hash")
      val scanTypes = Seq((301L, "T1w"), (302L, "bold"))
        .toDF("MriScanTypeID", "MriScanTypeName")
      val fileTypes = Seq("nii", "mnc").toDF("type")
      val paramAlias = Seq(
        ("EchoTime", "acquisition:echo_time"),
        ("RepetitionTime", "acquisition:repetition_time"),
        ("Manufacturer", "study:manufacturer"))
        .toDF("bids_name", "loris_name")
      graft.operators.BidsMriImport.importPlan(acqs, files, scanTypes,
        fileTypes, paramAlias, "bids_imports/DS01_BIDSVersion_1.0.2")
    },

    // minc_insertion.pl: the historic MINC registration abort ladder —
    // one fixture row per exit point (upload/archive/force input modes,
    // validation gate, series guard, candidate mismatch with error-log
    // dedup, session + scanner get-or-create, md5 gates, protocol
    // identification incl. forced suggestion caveat and profile
    // exclusion, HRRT branch)
    "q152_minc_insertion" -> { (s, _) =>
      import s.implicits._
      val mincs = Seq(
        (1L, "/m/a1.mnc", Option(99L), Option.empty[String], false, false,
          Option.empty[String], Option.empty[String], "S.1", 0.025, "1",
          "j-", "md5-1"),
        (2L, "/m/a2.mnc", Option(72L), None, false, false, None,
          Option("MTL0001_300001_V1"), "S.2", 0.025, "1", "j-", "md5-2"),
        (3L, "/m/a3.mnc", Option(71L), None, false, false, None, None,
          "S.3", 0.025, "1", "j-", "md5-3"),
        (4L, "/m/a4.mnc", Option.empty[Long], None, false, true, None,
          Option("MTL0001_300001_V1"), "S.9", 0.025, "1", "j-", "md5-4"),
        (5L, "/m/a5.mnc", Option(70L), None, false, false, None, None,
          "S.5", 0.025, "1", "j-", "md5-5"),
        (6L, "/m/a6.mnc", Option(73L), None, false, false, None, None,
          "S.6", 0.025, "1", "j-", "md5-6"),
        (7L, "/m/a7.mnc", Option(74L), None, false, false, None, None,
          "S.7", 0.05, "1", "j-", "md5-7"),
        (8L, "/m/a8.mnc", Option(75L), None, false, false, None, None,
          "S.8", 0.025, "1", "j-", "md5-known"),
        (9L, "/m/a9.mnc", Option(76L), None, false, false, None, None,
          "S.10", 0.2, "1", "j-", "md5-9"),
        (10L, "/m/a10.mnc", Option.empty[Long], Option("/in/G.tar"),
          false, false, None, None, "S.11", 0.025, "1", "j-", "md5-10"),
        (11L, "/m/a11.mnc", Option.empty[Long], Option("/in/H.tar"),
          false, false, None, None, "S.12", 0.025, "1", "j-", "md5-11"),
        (12L, "/m/a12.mnc", Option(80L), None, false, false, None, None,
          "S.13", 0.007, "1", "j-", "md5-12"),
        (13L, "/m/a13.mnc", Option(81L), None, false, false, None, None,
          "S.14", 0.025, "1", "j-", "md5-5"),
        (14L, "/m/a14.mnc", Option(82L), None, false, false, Option("t2"),
          None, "S.15", 0.025, "1", "j-", "md5-14"),
        (15L, "/m/a15.mnc", Option(83L), None, true, false, None, None,
          "S.16", 0.025, "1", "j-", "md5-15"))
        .toDF("minc_id", "minc_path", "upload_id", "tarchive_path",
          "is_hrrt", "force", "suggested_protocol", "patient_name",
          "series_uid", "echo_time", "echo_number", "phase_dir", "md5hash")
        // header scanner tuple: null except the HRRT row, whose MINC
        // header supplies the scanner info (minc_insertion.pl:436-441)
        .withColumn("manufacturer",
          when(col("minc_id") === 15L, "SIEMENS"))
        .withColumn("model", when(col("minc_id") === 15L, "Prisma"))
        .withColumn("serial", when(col("minc_id") === 15L, "SN100"))
        .withColumn("software", when(col("minc_id") === 15L, "VE11C"))
        .withColumn("date_acquired",
          when(col("minc_id") === 4L, "2024-02-02"))
      val uploads = Seq[(Long, Option[Long], Boolean)](
        (70L, Some(21L), true), (71L, Some(22L), false), (72L, None, true),
        (73L, Some(23L), true), (74L, Some(24L), true),
        (75L, Some(25L), true), (76L, Some(26L), true),
        (77L, Some(27L), true), (78L, Some(28L), true),
        (79L, Some(29L), true), (80L, Some(30L), true),
        (81L, Some(31L), true), (82L, Some(32L), true),
        (83L, Some(33L), true))
        .toDF("UploadID", "TarchiveID", "IsTarchiveValidated")
      val sie = ("SIEMENS", "Prisma", "SN100", "VE11C")
      val tarchives = Seq(
        (21L, "y/A.tar", "MTL0001_300001_V1", Option(sie._1)),
        (22L, "y/B.tar", "MTL0002_300002_V1", Option(sie._1)),
        (23L, "y/C.tar", "MTLX999_999999_V1", Option(sie._1)),
        (24L, "y/D.tar", "MTL0001_300001_V2", Option(sie._1)),
        (25L, "y/E.tar", "MTL0002_300002_V1", Option(sie._1)),
        (26L, "y/F.tar", "MTL0001_300001_V1", Option(sie._1)),
        (27L, "y/G.tar", "MTL0001_300001_V1", Option(sie._1)),
        (28L, "z/G.tar", "MTL0001_300001_V1", Option(sie._1)),
        (29L, "y/H.tar", "MTL0003_300003_V1", Option("GE")),
        (30L, "y/I.tar", "MTL0001_300001_V1", Option(sie._1)),
        (31L, "y/J.tar", "MTL0002_300002_V1", Option(sie._1)),
        (32L, "y/K.tar", "MTL0001_300001_V1", Option(sie._1)),
        (33L, "y/H33.v", "MTL0002_300002_V1", Option.empty[String]))
        .toDF("TarchiveID", "ArchiveLocation", "PatientName",
          "ScannerManufacturer")
        .withColumn("ScannerModel",
          when(col("ScannerManufacturer") === "GE", "MR750")
            .when(col("ScannerManufacturer").isNotNull, "Prisma"))
        .withColumn("ScannerSerialNumber",
          when(col("ScannerManufacturer") === "GE", "SN300")
            .when(col("ScannerManufacturer").isNotNull, "SN100"))
        .withColumn("ScannerSoftwareVersion",
          when(col("ScannerManufacturer") === "GE", "DV26")
            .when(col("ScannerManufacturer").isNotNull, "VE11C"))
        .withColumn("DateAcquired", lit("2024-01-01"))
      val tarchiveSeries = Seq((21L, "S.9", 25.0))
        .toDF("TarchiveID", "SeriesUID", "EchoTime")
      val psc = Seq((1L, "MTL", "MTL")).toDF("CenterID", "Alias",
        "MRI_alias")
      val sessions = Seq((41L, 11L, 1L, "V1"), (42L, 12L, 1L, "V1"))
        .toDF("ID", "CandidateID", "CenterID", "Visit_label")
      val candidates = Seq((11L, 300001L, "MTL0001"),
        (12L, 300002L, "MTL0002"), (13L, 300003L, "MTL0003"))
        .toDF("ID", "CandID", "PSCID")
      val scanners = Seq((501L, "SIEMENS", "Prisma", "SN100", "VE11C",
        Option(11L)))
        .toDF("ID", "Manufacturer", "Model", "Serial_number", "Software",
          "CandidateID")
      val files = Seq((900L, "md5-known")).toDF("FileID", "md5hash")
      val candErrors = Seq((23L, "S.6", 25.0, "1", "j-",
        "MTLX999_999999_V1", "CandID does not exist"))
        .toDF("TarchiveID", "SeriesUID", "EchoTime", "EchoNumber",
          "PhaseEncodingDirection", "PatientName", "Reason")
      val protocols = Seq((301L, "t1", 20.0, 30.0), (302L, "t2", 45.0,
        55.0), (303L, "scout", 5.0, 10.0))
        .toDF("MriScanTypeID", "ScanType", "TE_min", "TE_max")
      graft.operators.MincInsertion.insertPlan(mincs, uploads, tarchives,
        tarchiveSeries, psc, sessions, candidates, scanners, files,
        candErrors, protocols, excludedProtocols = Seq("scout"))
    }
  )

  // q122/q123 shared fixture: two uploads — 80 fully deletable with every
  // footprint table populated, 81 blocked by QC + comments
  /** Two WebDataset shards exercising every assembly gate, read back
    * through the tarshard connector and stem-paired into the
    * (id, sample_id, shard_name, content, caption) frame
    * [[graft.operators.MultimodalAssembly]] consumes. */
  /** Drives [[graft.streaming.EventStream.assembleMultimodalIncremental]]
    * over the q307 fixture split into two arrival waves (ids 1-3, then
    * 4-7: the PNG re-encode and the caption-less dup arrive AFTER the
    * component they belong to); returns the output root holding
    * `manifest/` and `attrition/`. */
  private def assemblyIncrementalRun(s: SparkSession, tag: String): String = {
    import s.implicits._
    implicit val sq = s.sqlContext
    val out = SyntheticFixtures.freshDir(tag + "_out")
    val ckpt = SyntheticFixtures.freshDir(tag + "_ckpt")
    val rows = assemblyPairs(s, tag)
      .select(col("id"), col("sample_id"), col("shard_name"),
        col("content"), col("caption"))
      .collect() // 7 fixture rows — bounded by construction
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getAs[Array[Byte]](3), Option(r.getString(4))))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String, Array[Byte], Option[String])]
    val q = graft.streaming.EventStream.assembleMultimodalIncremental(
      mem.toDF().toDF("id", "sample_id", "shard_name", "content",
        "caption"),
      out, ckpt, minWidth = 10)
    try Seq(rows.filter(_._1 <= 3L), rows.filter(_._1 > 3L)).foreach { w =>
      mem.addData(w.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    out
  }

  private def assemblyPairs(s: SparkSession, tag: String): DataFrame = {
    val dir = SyntheticFixtures.freshDir(tag)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "shard-000.tar"),
      graft.sources.TarSink.tarBytes(Seq(
        "000001.bmp" -> SyntheticFixtures.bmpBytes(dhashGradient(identity)),
        "000001.txt" -> "ascending gradient".getBytes("UTF-8"),
        // the DISTINCT image is spectrally rich (>=29 bits from the
        // gradient family in BOTH hashes): a mirrored smooth ramp is
        // pHash-CLOSE to the ascending one (measured 5 bits — low
        // frequencies barely move under mirroring), so it would merge
        // under the dual-key gate and test nothing
        "000002.bmp" -> SyntheticFixtures.bmpBytes(
          SyntheticFixtures.richRaster(18, 8, 2)),
        "000002.txt" -> "textured photo".getBytes("UTF-8"),
        "000003.bmp" -> SyntheticFixtures.bmpBytes(dhashTweaked),
        "000003.txt" -> "tweaked copy".getBytes("UTF-8"),
        "000005.bmp" -> SyntheticFixtures.bmpBytes(
          dhashGradient(identity)))))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "shard-001.tar"),
      graft.sources.TarSink.tarBytes(Seq(
        "000004.png" -> SyntheticFixtures.pngBytes(dhashGradient(identity)),
        "000004.txt" -> "png copy".getBytes("UTF-8"),
        "000006.bmp" -> "BMjunk".getBytes("US-ASCII"),
        "000006.txt" -> "corrupt".getBytes("UTF-8"),
        "000007.bmp" -> SyntheticFixtures.bmpBytes(
          Seq.fill(4)(Seq.fill(4)(0x102030))),
        "000007.txt" -> "tiny".getBytes("UTF-8"))))
    val m = s.read.format("tarshard").load(dir)
    val imgs = m.where(col("ext") =!= "txt")
      .select(col("sample_id"), col("shard_name"), col("content"))
    val caps = m.where(col("ext") === "txt")
      .select(col("sample_id"), col("content").cast("string").as("caption"))
    imgs.join(caps, Seq("sample_id"), "left")
      .withColumn("id", col("sample_id").cast("long"))
  }

  /** 18x8 x-gradient raster for the dHash fixtures: gray value f(x)
    * packed RGB, so BT.601 luma equals f(x) exactly and every 9x8 cell
    * mean is hand-computable. */
  private def dhashGradient(f: Int => Int): Seq[Seq[Int]] =
    (0 until 8).map(_ => (0 until 18).map { x =>
      val v = f(x); (v << 16) | (v << 8) | v
    })

  /** The ascending gradient with pixel (0,0) lifted to gray 5: flips
    * exactly dHash bit 0. */
  private def dhashTweaked: Seq[Seq[Int]] = {
    val g = dhashGradient(identity)
    g.updated(0, g(0).updated(0, 0x050505))
  }

  private def delUploads(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((80L, 500L), (81L, 501L)).toDF("UploadID", "TarchiveID")
  }
  private def delFiles(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (9001L, "a/t1.mnc", Some(500L), None),
      (9002L, "a/dti.mnc", Some(500L), None),
      (9003L, "b/t1.mnc", Some(501L), None),
      (9004L, "proc/q.mnc", None, Some(9002L)),
      (9005L, "/abs/p.mnc", None, Some(9002L)))
      .toDF("FileID", "File", "TarchiveSource", "SourceFileID")
  }
  private def delIntermed(s: SparkSession): DataFrame = {
    import s.implicits._
    // two entries with the SAME Output_FileID: the reference documents
    // that this duplicates the file in the result, and so do we
    Seq((1L, 9002L, 9004L), (2L, 9001L, 9004L))
      .toDF("IntermedID", "Input_FileID", "Output_FileID")
  }
  private def delParams(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((21L, 9001L, "pic/a_t1.png"), (22L, 9004L, "pic/q.png"),
      (23L, 9005L, "/abs/pp.png"), (24L, 9003L, "pic/b.png"))
      .toDF("ParameterFileID", "FileID", "Value")
  }
  private def delQc(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(9003L).toDF("FileID")
  }

  // q117/q118 shared fixture: one row per abort point of
  // imaging_non_minc_insertion.pl, plus two registrable files (one with
  // the patient name as an argument, one parsed from the file name with a
  // to-be-created visit)
  private def nonMincFixture(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("a_t1.nii", 70L, "ABC001_123456_V01", "native", "t1w",
        "2024-03-05", 501L, "native", Map("tr" -> "2000", "te" -> "30"),
        "md5a"),
      ("DEF002_234567_V02.nii.gz", 70L, null.asInstanceOf[String],
        "native", "flair", "2024-03-06", 502L, "native",
        Map("tr" -> "2500"), "md5b"),
      ("bad_date.nii", 70L, "ABC001_123456_V01", "native", "t1w",
        "03/05/2024", 501L, "native", Map.empty[String, String], "md5c"),
      ("bad_upload.nii", 99L, "ABC001_123456_V01", "native", "t1w",
        "2024-03-05", 501L, "native", Map.empty[String, String], "md5d"),
      ("bad_scanner.nii", 70L, "ABC001_123456_V01", "native", "t1w",
        "2024-03-05", 599L, "native", Map.empty[String, String], "md5e"),
      ("bad_scantype.nii", 70L, "ABC001_123456_V01", "native", "dti_weird",
        "2024-03-05", 501L, "native", Map.empty[String, String], "md5f"),
      ("notes.pdf", 70L, "ABC001_123456_V01", "native", "t1w",
        "2024-03-05", 501L, "native", Map.empty[String, String], "md5g"),
      ("weirdname.nii", 70L, null.asInstanceOf[String], "native", "t1w",
        "2024-03-05", 501L, "native", Map.empty[String, String], "md5h"),
      ("no_cand.nii", 70L, "GHI003_999999_V01", "native", "t1w",
        "2024-03-05", 501L, "native", Map.empty[String, String], "md5i"),
      ("psc_mismatch.nii", 70L, "DEF002_123456_V01", "native", "t1w",
        "2024-03-05", 501L, "native", Map.empty[String, String], "md5j"),
      ("bad_visit.nii", 70L, "ABC001_123456_v01", "native", "t1w",
        "2024-03-05", 501L, "native", Map.empty[String, String], "md5k"),
      ("dup_catalog.nii", 70L, "ABC001_123456_V01", "native", "t1w",
        "2024-03-05", 501L, "native", Map.empty[String, String],
        "md5exist"),
      ("z_dup_batch.nii", 70L, "ABC001_123456_V01", "native", "t1w",
        "2024-03-05", 501L, "native", Map.empty[String, String], "md5a"))
      .toDF("file_path", "upload_id", "patient_name", "output_type",
        "scan_type", "date_acquired", "scanner_id", "coordinate_space",
        "metadata", "md5hash")
  }
  private def nonMincUploads(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(70L, 71L).toDF("UploadID")
  }
  private def nonMincScanners(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((501L, 123456L), (502L, 234567L)).toDF("ScannerID", "CandID")
  }
  private def nonMincScanTypes(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((44, "t1w"), (45, "flair"), (46, "qc_txt"))
      .toDF("MriScanTypeID", "ScanType")
  }
  private def nonMincFileTypes(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1, "mnc"), (2, "nii"), (3, "txt")).toDF("ord", "type")
  }
  private def nonMincCandidates(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((123456L, "ABC001"), (234567L, "DEF002")).toDF("CandID", "PSCID")
  }
  private def nonMincVisitWindows(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq("V01", "V02").toDF("VisitLabel")
  }
  private def nonMincSessions(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((9001L, 123456L, "V01")).toDF("ID", "CandID", "VisitLabel")
  }
  private def nonMincFiles(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((7001L, "md5exist")).toDF("FileID", "md5hash")
  }

  val oracle: Map[String, String] = Map(
    // updateMRI_Upload.pl: same fixture derivation, same basename-keyed
    // classification (the reference's CONCAT('/',loc) LIKE '%/<basename>'
    // IS basename equality when basenames contain no '/')
    "q277_update_mri_upload" ->
      """WITH ok AS (SELECT o_orderkey AS k FROM orders),
        |tar0 AS (
        |  SELECT k AS tid, '2019/DCM-' || CAST(k AS VARCHAR) || '.tar' AS loc
        |  FROM ok WHERE k % 5 <> 4
        |), twins AS (
        |  SELECT k + 10000000 AS tid,
        |    '2020/DCM-' || CAST(k AS VARCHAR) || '.tar' AS loc
        |  FROM ok WHERE k % 100 = 0 AND k % 5 <> 4
        |), tar AS (SELECT * FROM tar0 UNION ALL SELECT * FROM twins
        |), tb AS (
        |  SELECT tid, regexp_extract(loc, '[^/]+$') AS base FROM tar
        |), upb AS (
        |  SELECT DISTINCT base FROM tb
        |  WHERE tid IN (SELECT tid FROM tar0 WHERE tid % 3 = 0)
        |), cand AS (
        |  SELECT base, COUNT(*) AS n, MIN(tid) AS mintid FROM tb GROUP BY 1
        |), req AS (
        |  SELECT
        |    '/data/tarchive/2019/DCM-' || CAST(k AS VARCHAR) || '.tar'
        |      AS tarchive_path,
        |    '/incoming/upload-' || CAST(k AS VARCHAR) AS source_location,
        |    'DCM-' || CAST(k AS VARCHAR) || '.tar' AS base
        |  FROM ok WHERE k % 7 = 0
        |)
        |SELECT r.tarchive_path, r.source_location,
        |  CASE WHEN upb.base IS NOT NULL THEN 'already_uploaded'
        |       WHEN cand.n IS NULL THEN 'tarchive_missing'
        |       WHEN cand.n > 1 THEN 'tarchive_ambiguous'
        |       ELSE 'inserted' END AS outcome,
        |  CASE WHEN upb.base IS NULL AND cand.n = 1
        |       THEN cand.mintid END AS "TarchiveID",
        |  CASE WHEN upb.base IS NULL AND cand.n = 1
        |       THEN 'lorisadmin' END AS "UploadedBy",
        |  CASE WHEN upb.base IS NULL AND cand.n = 1
        |       THEN '2026-08-15 00:00:00' END AS "UploadDate",
        |  CASE WHEN upb.base IS NULL AND cand.n = 1
        |       THEN r.source_location END AS "DecompressedLocation"
        |FROM req r
        |LEFT JOIN upb ON r.base = upb.base
        |LEFT JOIN cand ON r.base = cand.base""".stripMargin,

    // tarchive_validation.pl: one pinned row per exit gate; the three
    // candidate-mismatch flavors ride validated rows (the reference sets
    // IsTarchiveValidated despite them)
    "q135_tarchive_validation" ->
      """SELECT * FROM (VALUES
        |  (CAST(70 AS BIGINT), CAST(21 AS BIGINT), 'validated',
        |   CAST(1 AS INTEGER), 'MTL', CAST(501 AS BIGINT), false,
        |   CAST(300001 AS BIGINT), 'MTL0001', 'V1', false,
        |   CAST(NULL AS VARCHAR), true),
        |  (71, 22, 'validated', 1, 'MTL', 504, true, 300002, 'MTL0002',
        |   'V2', false, NULL, true),
        |  (72, 23, 'validated', 2, 'OTT', 503, false, 300003, 'OTT0001',
        |   'V9', false,
        |   'Visit label V9 does not exist in Visit_Windows', true),
        |  (73, 24, 'validated', 1, 'MTL', 501, false, 300009, 'MTL0009',
        |   'V1', false, 'CandID does not exist', true),
        |  (74, 25, 'validated', 1, 'MTL', 501, false, 300001, 'MTL0002',
        |   'V1', false, 'PSCID and CandID of the image mismatch', true),
        |  (75, 26, 'validated', 1, 'MTL', 501, false, CAST(NULL AS BIGINT),
        |   'MTL', 'scan', true, NULL, true),
        |  (76, 27, 'no_center_found', 0, 'UNKN', NULL,
        |   CAST(NULL AS BOOLEAN), 999999, 'XXX9999', 'V1', false, NULL,
        |   false),
        |  (77, 28, 'corrupted_archive', CAST(NULL AS INTEGER),
        |   CAST(NULL AS VARCHAR), NULL, NULL, NULL, NULL, NULL,
        |   CAST(NULL AS BOOLEAN), NULL, false),
        |  (78, 29, 'tarchive_id_mismatch', NULL, NULL, NULL, NULL, NULL,
        |   NULL, NULL, NULL, NULL, false),
        |  (79, CAST(NULL AS BIGINT), 'tarchive_not_found', NULL, NULL,
        |   NULL, NULL, NULL, NULL, NULL, NULL, NULL, false),
        |  (80, 30, 'multiple_tarchives', NULL, NULL, NULL, NULL, NULL,
        |   NULL, NULL, NULL, NULL, false)
        |) AS t(upload_id, tarchive_id, status, center_id, mri_alias,
        |       scanner_id, scanner_is_new, cand_id, pscid, visit_label,
        |       is_phantom, cand_mismatch_error, is_tarchive_validated)""".stripMargin,

    "q146_eeg_extract_plan" ->
      """SELECT * FROM (VALUES
        |  (CAST(501 AS BIGINT), 'eeg_arch1.tar.gz', 'extracted',
        |   'sub-300001/ses-V1', 'beh', 'sub-300001/ses-V1/beh',
        |   CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |  (501, 'eeg_arch1.tar.gz', 'extracted', 'sub-300001/ses-V1',
        |   'eeg', 'sub-300001/ses-V1/eeg', 2, 1),
        |  (502, 'eeg_arch2.tar.gz', 'failed_extraction_no_subject',
        |   CAST(NULL AS VARCHAR), 'eeg', CAST(NULL AS VARCHAR), 1, 0),
        |  (503, 'eeg_arch3.tar.gz', 'failed_extraction_no_session', NULL,
        |   CAST(NULL AS VARCHAR), NULL, 0, 0)
        |) AS t(upload_id, upload_location, status, session_rel_path,
        |       modality, dest_rel_path, n_set_files, n_set_with_fdt)""".stripMargin,

    "q147_eeg_ingest_plan" ->
      """SELECT * FROM (VALUES
        |  (CAST(601 AS BIGINT), CAST(41 AS BIGINT),
        |   CAST(300001 AS BIGINT), 'AAA001', 'V1', 'ingest', 'sub-300001',
        |   'sub-300001/ses-V1/eeg', CAST(2 AS BIGINT)),
        |  (602, 42, 300002, 'ABC001', 'V1', 'ingest', 'sub-abc001',
        |   'sub-abc001/ses-V1/eeg', 1),
        |  (603, 43, 300003, 'AAC001', 'V9', 'no_bids_visit',
        |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS BIGINT)),
        |  (604, 44, CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS VARCHAR), 'session_not_found', NULL, NULL, NULL),
        |  (605, 45, 300005, 'ZZZ001', 'V1', 'no_bids_subject', NULL,
        |   NULL, NULL)
        |) AS t(upload_id, session_id, cand_id, pscid, visit_label,
        |       status, subject_id, eeg_path, n_previous_files)""".stripMargin,

    "q148_batch_tarchive" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), '2024/DCM_A.tar', '70', 'submitted',
        |   'tarchiveLoader.pl -profile prod -uploadID 70 /t/2024/DCM_A.tar',
        |   '/data/p/batch_output/tarstdout.log1',
        |   '/data/p/batch_output/tarstderr.log1', false),
        |  (2, '2024/DCM_B.tar', '71', 'submitted',
        |   'tarchiveLoader.pl -profile prod -uploadID 71 /t/2024/DCM_B.tar',
        |   '/data/p/batch_output/tarstdout.log2',
        |   '/data/p/batch_output/tarstderr.log2', false),
        |  (3, 'DCM_C.tar', CAST(NULL AS VARCHAR), 'missing_arg',
        |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS VARCHAR), CAST(NULL AS BOOLEAN)),
        |  (4, '2024/DCM_D.tar', '72', 'submitted',
        |   'tarchiveLoader.pl -profile prod -uploadID 72 /t/2024/DCM_D.tar',
        |   '/data/p/batch_output/tarstdout.log3',
        |   '/data/p/batch_output/tarstderr.log3', false)
        |) AS t(line_no, archive_location, upload_id, status, command,
        |       stdout_log, stderr_log, queued_via_qsub)""".stripMargin,

    "q149_loader_completion" ->
      """SELECT * FROM (VALUES
        |  (CAST(70 AS BIGINT), CAST(21 AS BIGINT), 'completed',
        |   CAST(5 AS BIGINT), CAST(6 AS BIGINT), CAST(901 AS BIGINT),
        |   '/t/2024/DCM_A.tar', 'MTL2024-03-05300001.log.gz'),
        |  (71, 22, 'completed', 3, 3, 902, CAST(NULL AS VARCHAR),
        |   'MTL2023-04-01300002.log.gz'),
        |  (72, 23, 'no_valid_minc_created', CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), NULL,
        |   CAST(NULL AS VARCHAR)),
        |  (73, 24, 'invalid_study', NULL, NULL, NULL,
        |   '/t/2024/DCM_D.tar', 'MTL2024-05-02300004.log.gz'),
        |  (74, 25, 'create_session_failure', 2, 2, NULL,
        |   '/t/2024/DCM_E.tar', NULL),
        |  (75, 26, 'completed', 2, 1, 905, NULL, 'MTL_tmp6.log.gz'),
        |  (76, 27, 'completed', 1, 1, 906, '/t/2024/DCM_G.tar',
        |   'MTLPHA0012024-07-01300007.log.gz'),
        |  (77, 28, 'get_session_id_failure', 2, 2, NULL,
        |   '/t/2024/DCM_H.tar', NULL)
        |) AS t(upload_id, tarchive_id, status, number_of_minc_created,
        |       number_of_minc_inserted, session_id, new_tarchive_location,
        |       final_logfile)""".stripMargin,

    "q150_upload_validation" ->
      """SELECT * FROM (VALUES
        |  (CAST(70 AS BIGINT), 'validated', false, CAST(3 AS BIGINT),
        |   CAST(1 AS BIGINT), CAST(0 AS BIGINT), true),
        |  (71, 'patient_name_mismatch', false, 1, 0, 1, false),
        |  (72, 'validated', false, 1, 0, 0, true),
        |  (73, 'already_inserted', CAST(NULL AS BOOLEAN),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), false),
        |  (74, 'validated', true, 3, NULL, 0, true),
        |  (75, 'upload_not_found', NULL, NULL, NULL, NULL, false)
        |) AS t(upload_id, status, is_hrrt, n_files, n_non_dicom_ignored,
        |       n_unmatched, is_candidate_info_validated)""".stripMargin,

    "q151_bids_mri_import" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'sub-01_ses-01_run-1_T1w.nii.gz',
        |   'already_registered',
        |   'bids_imports/DS01_BIDSVersion_1.0.2/sub-MTL001/ses-V1/anat/sub-MTL001_ses-V1_run-1_T1w.nii.gz',
        |   'nii', CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN),
        |   CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS DOUBLE), CAST(NULL AS INTEGER),
        |   CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
        |   CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT)),
        |  (2, 'sub-02_ses-01_T1w.nii.gz', 'duplicate_hash',
        |   'bids_imports/DS01_BIDSVersion_1.0.2/sub-MTL002/ses-V1/anat/sub-MTL002_ses-V1_T1w.nii.gz',
        |   'nii', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
        |   NULL, NULL),
        |  (3, 'sub-03_ses-02_acq-mprage_T1w.nii', 'imported',
        |   'bids_imports/DS01_BIDSVersion_1.0.2/sub-MTL003/ses-V2/anat/sub-MTL003_ses-V2_acq-mprage_T1w.nii',
        |   'nii', 301, false, 511, '1.2.3.4', 0.03, 64, 64, 32, 1.0,
        |   21, 2),
        |  (4, 'sub-04_ses-01_task-rest_cbv.nii.gz', 'imported',
        |   'bids_imports/DS01_BIDSVersion_1.0.2/sub-MTL004/ses-V1/func/sub-MTL004_ses-V1_task-rest_cbv.nii.gz',
        |   'nii', 303, true, 512, NULL, NULL, 64, 64, 32, 0.5, 12, 3),
        |  (5, 'sub-05_ses-01_T2w.nii.gz', 'unknown_suffix',
        |   'bids_imports/DS01_BIDSVersion_1.0.2/sub-MTL005/ses-V1/dwi/sub-MTL005_ses-V1_T2w.nii.gz',
        |   'nii', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
        |   NULL, NULL),
        |  (6, 'sub-06_ses-01_dwi.xyz', 'unknown_file_type',
        |   'bids_imports/DS01_BIDSVersion_1.0.2/sub-MTL006/ses-V1/dwi/sub-MTL006_ses-V1_dwi.xyz',
        |   'xyz', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
        |   NULL, NULL),
        |  (7, 'sub-07_ses-01_bold.nii.gz', 'no_suffix',
        |   'bids_imports/DS01_BIDSVersion_1.0.2/sub-MTL007/ses-V1/func/sub-MTL007_ses-V1_bold.nii.gz',
        |   'nii', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
        |   NULL, NULL),
        |  (8, 'sub-08_ses-01_dwi.nii.gz', 'imported',
        |   'bids_imports/DS01_BIDSVersion_1.0.2/sub-MTL008/ses-V1/dwi/sub-MTL008_ses-V1_dwi.nii.gz',
        |   'nii', 304, true, 513, NULL, 0.08, 128, 128, 70, 2.0, 16, 4),
        |  (9, 'sub-09_ses-01_T1w.nii.gz', 'duplicate_hash',
        |   'bids_imports/DS01_BIDSVersion_1.0.2/sub-MTL009/ses-V1/anat/sub-MTL009_ses-V1_T1w.nii.gz',
        |   'nii', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
        |   NULL, NULL)
        |) AS t(acq_id, bids_name, status, loris_path, file_type,
        |       scan_type_id, scan_type_new, file_id, series_uid,
        |       echo_time, xspace, yspace, zspace, xstep, n_parameters,
        |       n_files_to_copy)""".stripMargin,

    "q152_minc_insertion" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'upload_not_found', CAST(99 AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |   CAST(NULL AS BOOLEAN), CAST(NULL AS BIGINT),
        |   CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
        |   CAST(NULL AS BOOLEAN), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
        |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS BOOLEAN)),
        |  (2, 'no_tarchive', 72, NULL, NULL, NULL, NULL, NULL, NULL,
        |   NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
        |   NULL, NULL, NULL),
        |  (3, 'tarchive_validation_failed', 71, 22, 'y/B.tar', NULL,
        |   NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
        |   NULL, NULL, NULL, NULL, NULL, NULL),
        |  (4, 'series_in_existing_archive', NULL, NULL, 'y/A.tar', NULL,
        |   NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
        |   NULL, NULL, NULL, NULL, NULL, NULL),
        |  (5, 'registered', 70, 21, 'y/A.tar', 1, 501, false, 300001,
        |   'V1', 41, false, 't1', 301, 0, 'native', 'mnc', 'S.5', 21,
        |   901, NULL, NULL),
        |  (6, 'candidate_mismatch', 73, 23, 'y/C.tar', 1, 501, false,
        |   NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
        |   NULL, NULL, 'trashbin/a6.mnc', false),
        |  (7, 'registered', 74, 24, 'y/D.tar', 1, 501, false, 300001,
        |   'V2', 43, true, 't2', 302, 0, 'native', 'mnc', 'S.7', 24,
        |   902, NULL, NULL),
        |  (8, 'file_not_unique', 75, 25, 'y/E.tar', 1, 501, false, NULL,
        |   NULL, 42, false, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
        |   NULL, NULL, NULL),
        |  (9, 'unknown_protocol', 76, 26, 'y/F.tar', 1, 501, false,
        |   NULL, NULL, 41, false, NULL, NULL, NULL, NULL, NULL, NULL,
        |   NULL, NULL, NULL, NULL),
        |  (10, 'ambiguous_upload', NULL, NULL, NULL, NULL, NULL, NULL,
        |   NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
        |   NULL, NULL, NULL, NULL),
        |  (11, 'registered', 79, 29, 'y/H.tar', 1, 502, true, 300003,
        |   'V1', 44, true, 't1', 301, 0, 'native', 'mnc', 'S.12', 29,
        |   903, NULL, NULL),
        |  (12, 'excluded_protocol', 80, 30, 'y/I.tar', 1, 501, false,
        |   NULL, NULL, 41, false, 'scout', NULL, NULL, NULL, NULL, NULL,
        |   NULL, NULL, NULL, NULL),
        |  (13, 'file_not_unique', 81, 31, 'y/J.tar', 1, 501, false,
        |   NULL, NULL, 42, false, NULL, NULL, NULL, NULL, NULL, NULL,
        |   NULL, NULL, NULL, NULL),
        |  (14, 'registered', 82, 32, 'y/K.tar', 1, 501, false, 300001,
        |   'V1', 41, false, 't2', 302, 1, 'native', 'mnc', 'S.15', 32,
        |   904, NULL, NULL),
        |  (15, 'registered', 83, 33, 'y/H33.v', 1, 501, false, 300002,
        |   'V1', 42, false, 't1', 301, 0, 'native', 'mnc',
        |   CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), 905, NULL, NULL)
        |) AS t(minc_id, status, upload_id, tarchive_id, archive_location,
        |       center_id, scanner_id, scanner_is_new, cand_id,
        |       visit_label, session_id, session_new, acq_protocol,
        |       acq_protocol_id, caveat, coordinate_space, file_type,
        |       series_uid, tarchive_source, file_id, trashbin_path,
        |       cand_error_new)""".stripMargin,

    // pinned-fixture twin of the composed loader: the study archive holds
    // one study, series 2, echoes 25.5 (2 files) and 50.0 (1 file); the
    // TE-range protocols route them to scan types 301/302
    "q90_archive_loader" ->
      """SELECT * FROM (VALUES
        |  (2, CAST(25.5 AS DOUBLE), CAST(2 AS BIGINT), 301, 'identified'),
        |  (2, CAST(50.0 AS DOUBLE), CAST(1 AS BIGINT), 302, 'identified')
        |) AS t(series_number, echo_time, n_files, MriScanTypeID,
        |       protocol_status)""".stripMargin,
    "q61_archive_ingest" ->
      """SELECT * FROM (VALUES
        |  ('upload/notes.txt',   CAST(NULL AS VARCHAR),  false, CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR)),
        |  ('upload/study.tar.gz', CAST(NULL AS VARCHAR), false, CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR)),
        |  ('study/001.dcm', 'upload/study.tar.gz', true, '1.2.3.9000', 2, 1, 'SUB001', 25.5, 'MR'),
        |  ('study/002.dcm', 'upload/study.tar.gz', true, '1.2.3.9000', 2, 2, 'SUB001', 25.5, 'MR'),
        |  ('study/003.dcm', 'upload/study.tar.gz', true, '1.2.3.9000', 2, 3, 'SUB001', 50.0, 'MR')
        |) AS t(member_path, nested_in, is_dicom, study_uid, series_number,
        |       instance_number, patient_id, echo_time, modality)""".stripMargin,

    // md5sumDicomOnly independently recomputed (python tarfile/gzip/hashlib
    // over the fixture bytes): md5 of the comma-joined sorted member md5s
    "q79_dicom_summary" ->
      """SELECT * FROM (VALUES
        |  ('1.2.3.9000', 'SUB001', '20240102', 2, 2, 3, 5,
        |   'dfc28a8aff8ce6fb808f74373ef8f484')
        |) AS t(DicomArchiveID, PatientID, DateAcquired, AcquisitionCount,
        |       NonDicomFileCount, DicomFileCount, TotalFileCount,
        |       md5sumDicomOnly)""".stripMargin,

    "q80_minc_ingest" ->
      """SELECT * FROM (VALUES
        |  ('scan1.mnc.hdr', 224.0, 256.0, 176.0, 1.5, -0.977, 0.977),
        |  ('junk.hdr', CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |   CAST(NULL AS DOUBLE))
        |) AS t(file_name, xlength, ylength, zlength, xstep, ystep, zstep)""".stripMargin,

    "q78_chunk_sink" ->
      """SELECT * FROM (VALUES
        |  (0, 'C3', CAST(0 AS BIGINT), '1.0,2.0,3.0,4.0',     4,
        |   CAST(2.5 AS DOUBLE), CAST(10.5 AS DOUBLE),
        |   CAST(1.0 AS DOUBLE), CAST(30.0 AS DOUBLE)),
        |  (0, 'C3', CAST(1 AS BIGINT), '5.0,6.0,7.0,8.0',     4, 2.5, 10.5, 1.0, 30.0),
        |  (0, 'C3', CAST(2 AS BIGINT), '9.0,10.0,11.0,12.0',  4, 2.5, 10.5, 1.0, 30.0),
        |  (0, 'C4', CAST(0 AS BIGINT), '5.0,10.0,15.0,20.0',  4, 12.5, 27.5, 1.0, 30.0),
        |  (0, 'C4', CAST(1 AS BIGINT), '25.0,30.0,30.0,30.0', 2, 12.5, 27.5, 1.0, 30.0),
        |  (1, 'C3', CAST(0 AS BIGINT), '2.5,6.5,10.5,10.5',   3, 2.5, 10.5, 1.0, 30.0),
        |  (1, 'C4', CAST(0 AS BIGINT), '12.5,27.5,27.5,27.5', 2, 12.5, 27.5, 1.0, 30.0)
        |) AS t(downsampling, channel, chunk_index, vals, valid_samples,
        |       channel_min, channel_max, series_min, series_max)""".stripMargin,

    "q76_tsv_ingest" ->
      """SELECT * FROM (VALUES
        |  ('sub-01', '25', 'M', CAST(NULL AS VARCHAR)),
        |  ('sub-02', CAST(NULL AS VARCHAR), 'F', CAST(NULL AS VARCHAR)),
        |  ('sub-03', '30', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
        |  ('sub-04', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 'pat')
        |) AS t(participant_id, age, sex, "group")""".stripMargin,

    "q77_update_by_key" ->
      """WITH u AS (
        |  SELECT c_custkey, MAX(c_seg) AS u_seg FROM (
        |    SELECT o_custkey AS c_custkey,
        |           'st_' || o_orderstatus AS c_seg
        |    FROM orders
        |    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |      AND o_orderdate <  TIMESTAMP '1996-01-01') s
        |  GROUP BY 1
        |)
        |SELECT c.c_custkey, c.c_name,
        |       coalesce(u.u_seg, c.c_mktsegment) AS c_mktsegment
        |FROM customer c LEFT JOIN u ON c.c_custkey = u.c_custkey""".stripMargin,

    "q75_brainvision_ingest" ->
      """SELECT * FROM (VALUES
        |  ('Fp1', CAST(0 AS BIGINT), 4,
        |   CAST(1.0 AS DOUBLE), CAST(4.0 AS DOUBLE), false, 4),
        |  ('Fp1', CAST(1 AS BIGINT), 4,  5.0,   8.0, false, 4),
        |  ('Fp1', CAST(2 AS BIGINT), 2,  9.0,  10.0, true,  2),
        |  ('Cz',  CAST(0 AS BIGINT), 4, 10.0,  40.0, false, 4),
        |  ('Cz',  CAST(1 AS BIGINT), 4, 50.0,  80.0, false, 4),
        |  ('Cz',  CAST(2 AS BIGINT), 2, 90.0, 100.0, true,  2)
        |) AS t(channel, chunk_index, n_samples, chunk_min, chunk_max,
        |       is_last, valid_samples)""".stripMargin,

    "q101_ctf_ingest" ->
      """SELECT * FROM (VALUES
        |  ('MLC11', CAST(0 AS BIGINT), 4,
        |   CAST(1.0 AS DOUBLE), CAST(4.0 AS DOUBLE), false, 4),
        |  ('MLC11', CAST(1 AS BIGINT), 4,  5.0,   8.0, false, 4),
        |  ('MLC11', CAST(2 AS BIGINT), 2,  9.0,  10.0, true,  2),
        |  ('MZC01', CAST(0 AS BIGINT), 4, 10.0,  40.0, false, 4),
        |  ('MZC01', CAST(1 AS BIGINT), 4, 50.0,  80.0, false, 4),
        |  ('MZC01', CAST(2 AS BIGINT), 2, 90.0, 100.0, true,  2)
        |) AS t(channel, chunk_index, n_samples, chunk_min, chunk_max,
        |       is_last, valid_samples)""".stripMargin,

    "q102_eeglab_ingest" ->
      """SELECT * FROM (VALUES
        |  ('Fz', CAST(0 AS BIGINT), 4,
        |   CAST(1.0 AS DOUBLE), CAST(4.0 AS DOUBLE), false, 4),
        |  ('Fz', CAST(1 AS BIGINT), 4,  5.0,   8.0, false, 4),
        |  ('Fz', CAST(2 AS BIGINT), 2,  9.0,  10.0, true,  2),
        |  ('Pz', CAST(0 AS BIGINT), 4, 10.0,  40.0, false, 4),
        |  ('Pz', CAST(1 AS BIGINT), 4, 50.0,  80.0, false, 4),
        |  ('Pz', CAST(2 AS BIGINT), 2, 90.0, 100.0, true,  2)
        |) AS t(channel, chunk_index, n_samples, chunk_min, chunk_max,
        |       is_last, valid_samples)""".stripMargin,

    "q62_edf_ingest" ->
      """SELECT * FROM (VALUES
        |  ('C3', CAST(0 AS BIGINT), 4,
        |   CAST(1.0 AS DOUBLE), CAST(4.0 AS DOUBLE), false, 4),
        |  ('C3', CAST(1 AS BIGINT), 4,  5.0,  8.0, false, 4),
        |  ('C3', CAST(2 AS BIGINT), 4,  9.0, 12.0, true,  4),
        |  ('C4', CAST(0 AS BIGINT), 4,  5.0, 20.0, false, 4),
        |  ('C4', CAST(1 AS BIGINT), 2, 25.0, 30.0, true,  2)
        |) AS t(channel, chunk_index, n_samples, chunk_min, chunk_max,
        |       is_last, valid_samples)""".stripMargin,

    // VERBATIM q62 oracle: the connector path must produce byte-identical
    // results to the binaryFile path, and the driver proves it.
    "q116_edf_dsv2" ->
      """SELECT * FROM (VALUES
        |  ('C3', CAST(0 AS BIGINT), 4,
        |   CAST(1.0 AS DOUBLE), CAST(4.0 AS DOUBLE), false, 4),
        |  ('C3', CAST(1 AS BIGINT), 4,  5.0,  8.0, false, 4),
        |  ('C3', CAST(2 AS BIGINT), 4,  9.0, 12.0, true,  4),
        |  ('C4', CAST(0 AS BIGINT), 4,  5.0, 20.0, false, 4),
        |  ('C4', CAST(1 AS BIGINT), 2, 25.0, 30.0, true,  2)
        |) AS t(channel, chunk_index, n_samples, chunk_min, chunk_max,
        |       is_last, valid_samples)""".stripMargin,

    "q119_edf_stream_ingest" ->
      """SELECT * FROM (VALUES
        |  ('r1.edf', 'C3', CAST(6.0 AS DOUBLE), CAST(12 AS BIGINT)),
        |  ('r1.edf', 'C4', 3.0, CAST(6 AS BIGINT)),
        |  ('r2.edf', 'C3', 6.0, CAST(12 AS BIGINT)),
        |  ('r2.edf', 'C4', 3.0, CAST(6 AS BIGINT))
        |) AS t(file_name, channel, sampling_rate_hz, n_samples)""".stripMargin,

    "q63_nifti_ingest" ->
      """SELECT * FROM (VALUES
        |  ('scan1.nii', 3, 64, 64, 32,
        |   CAST(2.0 AS DOUBLE), CAST(2.5 AS DOUBLE), CAST(3.0 AS DOUBLE))
        |) AS t(file_name, ndim, xspace, yspace, zspace, xstep, ystep, zstep)""".stripMargin,

    "q104_bmp_decode" ->
      """SELECT * FROM (VALUES
        |  ('red3x2.bmp', 'BM', 3, 2, 24, false,
        |   CAST(1530 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |   16711680),
        |  ('grad2x2.bmp', 'BM', 2, 2, 24, true,
        |   CAST(220 AS BIGINT), CAST(260 AS BIGINT), CAST(300 AS BIGINT),
        |   660510),
        |  ('deep2x1.bmp', 'BM', 2, 1, 32, false,
        |   CAST(5 AS BIGINT), CAST(7 AS BIGINT), CAST(9 AS BIGINT), 66051),
        |  ('junk.bmp', CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
        |   CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
        |   CAST(NULL AS BOOLEAN), CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |   CAST(NULL AS INTEGER))
        |) AS t(file_name, magic, width, height, bits_per_pixel, top_down,
        |       sum_r, sum_g, sum_b, top_left_rgb)""".stripMargin,

    "q193_png_decode" ->
      """SELECT * FROM (VALUES
        |  ('rgb3x2.png', 'PNG', 3, 2, 2,
        |   CAST(437 AS BIGINT), CAST(535 AS BIGINT), CAST(633 AS BIGINT),
        |   1056816),
        |  ('gray2x2.png', 'PNG', 2, 2, 0,
        |   CAST(472 AS BIGINT), CAST(472 AS BIGINT), CAST(472 AS BIGINT),
        |   657930),
        |  ('rgba2x1.png', 'PNG', 2, 1, 6,
        |   CAST(256 AS BIGINT), CAST(2 AS BIGINT), CAST(258 AS BIGINT),
        |   66051),
        |  ('junk.png', CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
        |   CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |   CAST(NULL AS INTEGER))
        |) AS t(file_name, magic, width, height, color_type,
        |       sum_r, sum_g, sum_b, top_left_rgb)""".stripMargin,

    // AVI container decode: fps_ppm = rate*10^6 div scale (NTSC
    // 30000/1001 -> 29970029), duration_ms = frames*10^9 div fps_ppm;
    // junk bytes -> one all-NULL row
    "q284_avi_decode" ->
      """SELECT * FROM (VALUES
        |  ('clip.avi', 'AVI ', 320, 240, CAST(10 AS BIGINT), 1, 'MJPG',
        |   CAST(30000000 AS BIGINT), CAST(333 AS BIGINT),
        |   CAST(10 AS BIGINT), CAST(3 AS BIGINT)),
        |  ('ntsc.avi', 'AVI ', 640, 480, 5, 1, 'dvsd',
        |   29970029, 166, 5, 3),
        |  ('junk.avi', CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
        |   CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
        |   CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))
        |) AS t(file_name, magic, width, height, total_frames, n_streams,
        |       video_handler, fps_ppm, duration_ms, n_indexed_frames,
        |       n_keyframes)""".stripMargin,

    // idx1 stride-3 sample: offsets are movi-relative (first frame at 4,
    // then +8+size each, sizes all even so no pad); keyframes every 4th
    // (clip) / 2nd (ntsc) frame
    "q285_avi_frame_sample" ->
      """SELECT * FROM (VALUES
        |  ('clip.avi', 0, '00dc', true,  CAST(4 AS BIGINT), CAST(10 AS BIGINT)),
        |  ('clip.avi', 3, '00dc', false, 88, 40),
        |  ('clip.avi', 6, '00dc', false, 262, 70),
        |  ('clip.avi', 9, '00dc', false, 526, 100),
        |  ('ntsc.avi', 0, '00dc', true,  4, 6),
        |  ('ntsc.avi', 3, '00dc', false, 64, 24)
        |) AS t(file_name, frame_no, ckid, keyframe, "offset", "size")""".stripMargin,

    // MP4 box walk: movie clock 2500/1000s -> 2500ms; media clock
    // 75075/30000s -> 2502ms (integer div); v1 fixture 90090/90000 ->
    // 1001ms; absent stss -> n_keyframes = n_samples; junk -> NULL row
    "q286_mp4_decode" ->
      """SELECT * FROM (VALUES
        |  ('movie.mp4', 'isom', 2, 640, 360, 'avc1', 'mp4a',
        |   CAST(2500 AS BIGINT), CAST(2502 AS BIGINT),
        |   CAST(5 AS BIGINT), CAST(2 AS BIGINT)),
        |  ('hires.mp4', 'mp42', 1, 1920, 1080, 'hvc1',
        |   CAST(NULL AS VARCHAR), 1001, 1000, 2, 2),
        |  ('junk.mp4', CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
        |   CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
        |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))
        |) AS t(file_name, magic, n_tracks, width, height, video_codec,
        |       audio_codec, duration_ms, video_duration_ms, n_samples,
        |       n_keyframes)""".stripMargin,

    // stsc run map (1,2),(3,1) over sizes 10..50: chunks hold samples
    // {1,2},{3,4},{5}; ftyp is 20 bytes so the mdat payload starts at 28;
    // chunk offsets 28/58/128, intra-chunk offsets accumulate stsz sizes.
    // hires.mp4: co64 offsets, no stss -> all keyframes
    "q287_mp4_sample_index" ->
      """SELECT * FROM (VALUES
        |  ('movie.mp4', 1, 1, true,  CAST(28 AS BIGINT), CAST(10 AS BIGINT)),
        |  ('movie.mp4', 2, 1, false, 38, 20),
        |  ('movie.mp4', 3, 2, false, 58, 30),
        |  ('movie.mp4', 4, 2, true,  88, 40),
        |  ('movie.mp4', 5, 3, false, 128, 50),
        |  ('hires.mp4', 1, 1, true, 28, 100),
        |  ('hires.mp4', 2, 2, true, 128, 100)
        |) AS t(file_name, sample_no, chunk_no, keyframe, "offset", "size")""".stripMargin,

    // JPEG pre-SOS walk: the ImageIO row pins only encoder-guaranteed
    // fields (dims we set, 8-bit, 3-component YCbCr, baseline, JFIF
    // APP0, no Exif); the hand-built row pins progressive SOF2 + Exif
    "q288_jpeg_decode" ->
      """SELECT * FROM (VALUES
        |  ('photo.jpg', 'JPEG', 17, 9, 8, 3, false, true, false),
        |  ('scan.jpg', 'JPEG', 640, 480, 8, 3, true, true, true),
        |  ('junk.jpg', CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
        |   CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
        |   CAST(NULL AS INTEGER), CAST(NULL AS BOOLEAN),
        |   CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN))
        |) AS t(file_name, magic, width, height, precision, n_components,
        |       progressive, has_jfif, has_exif)""".stripMargin,

    // dHash cells on the 18x8 gradients: ascending means 2j (never >
    // right neighbor) -> 0; descending 16-2j (always >) -> all 64 bits
    // = -1; the (0,0)=5 tweak lifts cell(0,0) to 3 > 2 -> bit 0 -> 1;
    // the PNG copy of the ascending raster matches its BMP hash
    "q293_image_dhash" ->
      """SELECT * FROM (VALUES
        |  ('a.bmp', 18, 8, CAST(0 AS BIGINT)),
        |  ('a2.bmp', 18, 8, 1),
        |  ('b.bmp', 18, 8, -1),
        |  ('a.png', 18, 8, 0),
        |  ('junk.bmp', CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
        |   CAST(NULL AS BIGINT))
        |) AS t(file_name, width, height, dhash)""".stripMargin,

    // measured-pin oracle (deterministic rasters: seeded LCG +
    // StrictMath are bit-identical on every JVM; PhashSpec re-derives
    // the invariance properties): the PNG copy matches the BMP exactly
    "q314_image_phash" ->
      """SELECT * FROM (VALUES
        |  ('r1.bmp', 64, 64, CAST(-7121413176960754585 AS BIGINT),
        |   CAST(2143174296828159169 AS BIGINT)),
        |  ('r1.png', 64, 64, -7121413176960754585, 2143174296828159169),
        |  ('r2.bmp', 64, 64, -4227661393225407579, 1495107403470583397),
        |  ('junk.bmp', CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))
        |) AS t(file_name, width, height, dhash, phash)""".stripMargin,

    // banded-hamming pairs over the pinned hashes {0, 1, -1, 0}
    "q294_image_neardup" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(2 AS BIGINT), 1),
        |  (1, 4, 0),
        |  (2, 4, 1)
        |) AS t(id_1, id_2, hamming)""".stripMargin,

    // envelope prints: window w holds samples {2w,2w+1} so energies are
    // 2w² (ascending -> all 64 bits = -1), 2(64-w)² (descending -> 0);
    // the 2x-gained copy scales energies by 4 and prints -1 identically
    "q295_audio_envelope" ->
      """SELECT * FROM (VALUES
        |  ('asc.wav', 1, 8000, CAST(130 AS BIGINT), CAST(-1 AS BIGINT)),
        |  ('desc.wav', 1, 8000, 130, 0),
        |  ('loud.wav', 1, 8000, 130, -1),
        |  ('junk.wav', CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))
        |) AS t(file_name, n_channels, sample_rate, n_frames,
        |       envelope_print)""".stripMargin,

    // prints {-1, -1, 0}: only the gain pair collides
    "q296_audio_neardup" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(2 AS BIGINT), 0)
        |) AS t(id_1, id_2, hamming)""".stripMargin,

    // stem-paired shard members: 000003 has no caption row; 000004 in
    // the second shard repeats the ascending raster -> dhash 0 again
    "q297_webdataset_intake" ->
      """SELECT * FROM (VALUES
        |  ('shard-000.tar', '000001', 18, 8, CAST(0 AS BIGINT),
        |   'ascending gradient', true),
        |  ('shard-000.tar', '000002', 18, 8, -1,
        |   'descending gradient', true),
        |  ('shard-000.tar', '000003', 18, 8, 1,
        |   CAST(NULL AS VARCHAR), false),
        |  ('shard-001.tar', '000004', 18, 8, 0,
        |   'another ascending', true)
        |) AS t(shard, sample_id, width, height, dhash, caption,
        |       has_caption)""".stripMargin,

    // IFD0 walks: LE fixture carries all five tags (rational renders
    // 72/1); BE fixture only orientation+make; EXIF-less files -> NULLs
    "q299_exif_decode" ->
      """SELECT * FROM (VALUES
        |  ('cam_le.jpg', 6, 'ACME', 'X100', '2020:01:02 03:04:05', 5),
        |  ('cam_be.jpg', 1, 'MMCO', CAST(NULL AS VARCHAR),
        |   CAST(NULL AS VARCHAR), 2),
        |  ('plain.jpg', CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS INTEGER)),
        |  ('junk.jpg', CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS INTEGER))
        |) AS t(file_name, orientation, make, model, datetime,
        |       n_entries)""".stripMargin,

    // batch {tweak(1), png-copy(0)} vs index {asc(0), desc(-1)}: the
    // asc bucket catches both, desc shares no band with either
    "q300_image_incremental_neardup" ->
      """SELECT * FROM (VALUES
        |  (CAST(2 AS BIGINT), CAST(1 AS BIGINT), 1),
        |  (4, 1, 0)
        |) AS t(id_batch, id_index, hamming)""".stripMargin,

    // keyframes every 4th (clip: 0,4,8) / 2nd (ntsc: 0,2,4); offsets
    // accumulate 8+size; payload_sum = value*length of the fill bytes
    "q301_avi_keyframe_fetch" ->
      """SELECT * FROM (VALUES
        |  ('clip.avi', 0, CAST(4 AS BIGINT), CAST(10 AS BIGINT),
        |   CAST(0 AS BIGINT)),
        |  ('clip.avi', 4, 136, 50, 200),
        |  ('clip.avi', 8, 428, 90, 720),
        |  ('ntsc.avi', 0, 4, 6, 0),
        |  ('ntsc.avi', 2, 38, 18, 36),
        |  ('ntsc.avi', 4, 96, 30, 120)
        |) AS t(file_name, frame_no, "offset", "size", payload_sum)""".stripMargin,

    // eight files, one scan: 2 bmp + one each of the other five magics
    // + one unknown
    "q302_media_datacard" ->
      """SELECT * FROM (VALUES
        |  ('bmp', CAST(2 AS BIGINT)), ('png', 1), ('jpeg', 1),
        |  ('wav', 1), ('avi', 1), ('mp4', 1), ('other', 1)
        |) AS t(media_type, n_files)""".stripMargin,

    // 18x8 24-bit BMP = 54 + 56*8 = 502 bytes; txt sizes are the
    // caption byte lengths
    "q304_tarshard_read" ->
      """SELECT * FROM (VALUES
        |  ('shard-000.tar', '000001', 'bmp', CAST(502 AS BIGINT)),
        |  ('shard-000.tar', '000001', 'txt', 18),
        |  ('shard-000.tar', '000002', 'bmp', 502),
        |  ('shard-000.tar', '000002', 'txt', 19),
        |  ('shard-000.tar', '000003', 'bmp', 502),
        |  ('shard-001.tar', '000004', 'bmp', 502),
        |  ('shard-001.tar', '000004', 'txt', 17)
        |) AS t(shard_name, sample_id, ext, "size")""".stripMargin,

    // survivors: the ascending gradient beats its tweak (id 3, dHash
    // leg) and its PNG re-encode (id 4, identical raster) to the
    // canonical slot; the textured photo is its own component under
    // BOTH perceptual keys
    "q307_multimodal_assembly" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), '000001', 'shard-000.tar', 18, 8,
        |   CAST(0 AS BIGINT), CAST(4294967297 AS BIGINT),
        |   'ascending gradient'),
        |  (2, '000002', 'shard-000.tar', 18, 8,
        |   5427988375290688949, 762544518645284383, 'textured photo')
        |) AS t(id, sample_id, shard_name, width, height, dhash, phash,
        |       caption)""".stripMargin,

    // stream == batch: the incremental refresh converges to exactly
    // q307's manifest, wave boundaries notwithstanding
    "q317_assembly_incremental" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), '000001', 'shard-000.tar', 18, 8,
        |   CAST(0 AS BIGINT), CAST(4294967297 AS BIGINT),
        |   'ascending gradient'),
        |  (2, '000002', 'shard-000.tar', 18, 8,
        |   5427988375290688949, 762544518645284383, 'textured photo')
        |) AS t(id, sample_id, shard_name, width, height, dhash, phash,
        |       caption)""".stripMargin,

    // ... and to exactly q308's attrition row (summed per-batch
    // pre-decode counts + globally recomputed later stages)
    "q318_assembly_incremental_attrition" ->
      """SELECT CAST(7 AS BIGINT) AS n_images, CAST(6 AS BIGINT) AS n_paired,
        |  CAST(5 AS BIGINT) AS n_decoded, CAST(4 AS BIGINT) AS n_geometry_ok,
        |  CAST(2 AS BIGINT) AS n_kept""".stripMargin,

    // 7 image members -> 6 with captions -> 5 decodable -> 4 at
    // geometry -> 2 canonical
    "q308_multimodal_attrition" ->
      """SELECT CAST(7 AS BIGINT) AS n_images, CAST(6 AS BIGINT) AS n_paired,
        |  CAST(5 AS BIGINT) AS n_decoded, CAST(4 AS BIGINT) AS n_geometry_ok,
        |  CAST(2 AS BIGINT) AS n_kept""".stripMargin,

    // two arrival waves, one shard each
    "q305_tarshard_stream" ->
      """SELECT * FROM (VALUES
        |  ('shard-000.tar', '000001', 'bmp', CAST(502 AS BIGINT)),
        |  ('shard-000.tar', '000001', 'txt', 18),
        |  ('shard-001.tar', '000002', 'bmp', 502),
        |  ('shard-001.tar', '000002', 'txt', 7)
        |) AS t(shard_name, sample_id, ext, "size")""".stripMargin,

    "q165_wav_decode" ->
      """SELECT * FROM (VALUES
        |  ('mono.wav', 'RIFF', 1, 1000, 16, CAST(4 AS BIGINT),
        |   CAST(4 AS BIGINT), CAST(34767 AS BIGINT), 32767,
        |   CAST(1075676289 AS BIGINT)),
        |  ('stereo.wav', 'RIFF', 2, 500, 16, CAST(2 AS BIGINT),
        |   CAST(4 AS BIGINT), CAST(300 AS BIGINT), 200,
        |   CAST(50000 AS BIGINT)),
        |  ('meta.wav', 'RIFF', 1, 1000, 16, CAST(1 AS BIGINT),
        |   CAST(1 AS BIGINT), CAST(5 AS BIGINT), 5, CAST(25 AS BIGINT)),
        |  ('junk.wav', CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
        |   CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
        |   CAST(NULL AS BIGINT))
        |) AS t(file_name, magic, n_channels, sample_rate, bits_per_sample,
        |       n_frames, duration_ms, c0_sum_abs, c0_peak, c0_sum_sq)""".stripMargin,

    "q168_mojibake_repair" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'Caf' || chr(233) || ' au lait', true),
        |  (CAST(2 AS BIGINT), 'na' || chr(239) || 've r' || chr(233)
        |     || 'sum' || chr(233), true),
        |  (CAST(3 AS BIGINT), 'already clean ascii', false),
        |  (CAST(4 AS BIGINT), 'gr' || chr(252) || chr(223) || 'en', true)
        |) AS t(id, fixed, was_repaired)""".stripMargin,

    "q166_audio_vad" ->
      """SELECT * FROM (VALUES
        |  ('speech.wav', CAST(0 AS BIGINT), CAST(8 AS BIGINT),
        |   CAST(11 AS BIGINT), false),
        |  ('speech.wav', CAST(1 AS BIGINT), CAST(8 AS BIGINT),
        |   CAST(8960000 AS BIGINT), true),
        |  ('quiet.wav', CAST(0 AS BIGINT), CAST(6 AS BIGINT),
        |   CAST(27 AS BIGINT), false)
        |) AS t(file_name, win_idx, n_samples, energy, is_speech)""".stripMargin,

    "q167_jsonl_ingest" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'hello world', 'en', false),
        |  (CAST(2 AS BIGINT), 'bonjour', 'fr', false),
        |  (CAST(3 AS BIGINT), 'no lang field', CAST(NULL AS VARCHAR), false),
        |  (CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS VARCHAR), true)
        |) AS t(id, text, lang, is_corrupt)""".stripMargin,

    "q103_hed_schema_union" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 0, 0, 'Agent-action', 3, 'Event/Agent-action', 0),
        |  (CAST(1 AS BIGINT), 1, 0, 'Blue', 6, 'Property/Blue', 0),
        |  (CAST(1 AS BIGINT), 1, 1, 'Red', 5, 'Property/Red', 0),
        |  (CAST(1 AS BIGINT), 2, 0, 'Sensory-event', 2, 'Event/Sensory-event', 0),
        |  (CAST(2 AS BIGINT), 0, 0, 'End', 8, 'Event/End', 0),
        |  (CAST(2 AS BIGINT), 1, 0, 'Offset', 7, 'Event/Offset', 0),
        |  (CAST(2 AS BIGINT), 1, 1, 'Target', 10, 'Event/Sensory-event/Target', 0),
        |  (CAST(2 AS BIGINT), 1, 2, 'Cue', 9, 'Event/Sensory-event/Cue', 0),
        |  (CAST(2 AS BIGINT), 1, 3, 'Intended-effect', 11,
        |   'Event/Agent-action/Intended-effect', 0),
        |  (CAST(2 AS BIGINT), 2, 0, 'Event', 1, 'Event', 0),
        |  (CAST(3 AS BIGINT), 0, 0, 'Mystery-tag', CAST(NULL AS INTEGER),
        |   CAST(NULL AS VARCHAR), 1),
        |  (CAST(3 AS BIGINT), 1, 0, 'Event/Sensory-event/Cue', 9,
        |   'Event/Sensory-event/Cue', 0),
        |  (CAST(3 AS BIGINT), 2, 0, 'Artifact', 102, 'Score-event/Artifact', 0)
        |) AS t(event_id, group_index, member_index, tag, hed_tag_id,
        |       long_name, unrecognized)""".stripMargin,

    "q64_hed_parse" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 0, 0, 'Agent-action',    false, 0),
        |  (CAST(1 AS BIGINT), 1, 0, 'Blue',            false, 0),
        |  (CAST(1 AS BIGINT), 1, 1, 'Red',             true,  0),
        |  (CAST(1 AS BIGINT), 2, 0, 'Sensory-event',   false, 0),
        |  (CAST(2 AS BIGINT), 0, 0, 'End',             false, 0),
        |  (CAST(2 AS BIGINT), 1, 0, 'Offset',          false, 0),
        |  (CAST(2 AS BIGINT), 1, 1, 'Target',          false, 0),
        |  (CAST(2 AS BIGINT), 1, 2, 'Cue',             true,  0),
        |  (CAST(2 AS BIGINT), 1, 3, 'Intended-effect', true,  1),
        |  (CAST(2 AS BIGINT), 2, 0, 'Event',           false, 0)
        |) AS t(event_id, group_index, member_index, tag, has_pairing,
        |       additional_members)""".stripMargin,

    // ids continue from max(files)=5001 in minc-path order; session 88
    // resolved from the candidate; the BIC .m file's PROTOCOL routes to
    // scan type 701; both minc counts equal (all inserted)
    "q115_hrrt_insertion" ->
      """SELECT * FROM (VALUES
        |  ('scan1.mnc', CAST(5002 AS BIGINT), 'scan1.v',
        |   CAST(88 AS BIGINT), 'FDG_STATIC', 701,
        |   CAST(42 AS BIGINT), 1, 2, 2),
        |  ('scan2.mnc', CAST(5003 AS BIGINT), 'scan2.v',
        |   CAST(88 AS BIGINT), 'FDG_STATIC', 701,
        |   CAST(42 AS BIGINT), 1, 2, 2)
        |) AS t(minc_path, FileID, ecat_filename, SessionID, protocol,
        |       MriScanTypeID, UploadID, InsertionComplete, minc_created,
        |       minc_inserted)""".stripMargin,

    // the reference's per-file abort order becomes the status column:
    // missing source beats bad inputs beats unknown type beats dup md5;
    // ids continue from max(files)=1002 in file-path order
    "q111_register_processed" ->
      """SELECT * FROM (VALUES
        |  ('qced_dti.mnc', 'registered', CAST(1003 AS BIGINT),
        |   CAST(11 AS BIGINT), CAST(21 AS BIGINT), 601,
        |   CAST(1001 AS BIGINT), 'DTIPrep_pipeline', '2024-02-01',
        |   'native', 'QCed', 1),
        |  ('rgb_map.mnc', 'registered', CAST(1004 AS BIGINT),
        |   CAST(11 AS BIGINT), CAST(21 AS BIGINT), 602,
        |   CAST(1001 AS BIGINT), 'DTIPrep_pipeline', '2024-02-01',
        |   'native', 'processed', 1),
        |  ('qc_report.xml', 'unknown_scan_type', CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |   CAST(NULL AS INTEGER), CAST(1001 AS BIGINT),
        |   'DTIPrep_pipeline', '2024-02-01', 'native', 'QCReport', 1),
        |  ('orphan.mnc', 'missing_source', CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |   CAST(NULL AS INTEGER), CAST(9999 AS BIGINT),
        |   'DTIPrep_pipeline', '2024-02-01', 'native', 'QCed', 1),
        |  ('rerun_raw.mnc', 'duplicate_md5', CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |   CAST(NULL AS INTEGER), CAST(1002 AS BIGINT),
        |   'DTIPrep_pipeline', '2024-02-01', 'native', 'QCed', 1),
        |  ('bad_inputs.mnc', 'missing_input', CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |   CAST(NULL AS INTEGER), CAST(1001 AS BIGINT),
        |   'DTIPrep_pipeline', '2024-02-01', 'native', 'QCed', 2)
        |) AS t(file_path, status, FileID, SessionID, ScannerID,
        |       MriScanTypeID, SourceFileID, SourcePipeline, PipelineDate,
        |       CoordinateSpace, OutputType, n_inputs)""".stripMargin,

    // abort ladder in script order; ids continue from max(files)=7001 in
    // file-path order ('D' sorts before 'a'); DEF002's V02 visit is
    // created (9001+1) while a_t1.nii reuses session 9001
    "q117_non_minc_insertion" ->
      """SELECT * FROM (VALUES
        |  ('a_t1.nii', 'registered', CAST(7003 AS BIGINT),
        |   CAST(9001 AS BIGINT), false, CAST(501 AS BIGINT),
        |   CAST(44 AS INTEGER), 'nii', 'native', 'native', '2024-03-05'),
        |  ('DEF002_234567_V02.nii.gz', 'registered', CAST(7002 AS BIGINT),
        |   CAST(9002 AS BIGINT), true, CAST(502 AS BIGINT),
        |   CAST(45 AS INTEGER), 'nii', 'native', 'native', '2024-03-06'),
        |  ('bad_date.nii', 'invalid_date', CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN),
        |   CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), NULL, NULL, NULL,
        |   NULL),
        |  ('bad_upload.nii', 'invalid_upload', CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN),
        |   CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), NULL, NULL, NULL,
        |   NULL),
        |  ('bad_scanner.nii', 'invalid_scanner', CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN),
        |   CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), NULL, NULL, NULL,
        |   NULL),
        |  ('bad_scantype.nii', 'unknown_scan_type', CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN),
        |   CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), NULL, NULL, NULL,
        |   NULL),
        |  ('notes.pdf', 'unknown_file_type', CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN),
        |   CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), NULL, NULL, NULL,
        |   NULL),
        |  ('weirdname.nii', 'subject_id_failure', CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN),
        |   CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), NULL, NULL, NULL,
        |   NULL),
        |  ('no_cand.nii', 'candidate_mismatch', CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN),
        |   CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), NULL, NULL, NULL,
        |   NULL),
        |  ('psc_mismatch.nii', 'candidate_mismatch', CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN),
        |   CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), NULL, NULL, NULL,
        |   NULL),
        |  ('bad_visit.nii', 'candidate_mismatch', CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN),
        |   CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), NULL, NULL, NULL,
        |   NULL),
        |  ('dup_catalog.nii', 'duplicate_md5', CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN),
        |   CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), NULL, NULL, NULL,
        |   NULL),
        |  ('z_dup_batch.nii', 'duplicate_md5', CAST(NULL AS BIGINT),
        |   CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN),
        |   CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), NULL, NULL, NULL,
        |   NULL)
        |) AS t(file_path, status, FileID, SessionID, session_is_new,
        |       ScannerID, MriScanTypeID, file_type, OutputType,
        |       CoordinateSpace, acquisition_date)""".stripMargin,

    "q118_non_minc_parameters" ->
      """SELECT * FROM (VALUES
        |  ('a_t1.nii', CAST(7003 AS BIGINT), 'tr', '2000'),
        |  ('a_t1.nii', CAST(7003 AS BIGINT), 'te', '30'),
        |  ('a_t1.nii', CAST(7003 AS BIGINT), 'acquisition_date',
        |   '2024-03-05'),
        |  ('DEF002_234567_V02.nii.gz', CAST(7002 AS BIGINT), 'tr', '2500'),
        |  ('DEF002_234567_V02.nii.gz', CAST(7002 AS BIGINT),
        |   'acquisition_date', '2024-03-06')
        |) AS t(file_path, FileID, param_name, param_value)""".stripMargin,

    "q113_eeglab_v73_ingest" ->
      """SELECT * FROM (VALUES
        |  ('Fz', CAST(0 AS BIGINT), 4,
        |   CAST(1.0 AS DOUBLE), CAST(4.0 AS DOUBLE), false, 4),
        |  ('Fz', CAST(1 AS BIGINT), 4,  5.0,   8.0, false, 4),
        |  ('Fz', CAST(2 AS BIGINT), 2,  9.0,  10.0, true,  2),
        |  ('Pz', CAST(0 AS BIGINT), 4, 10.0,  40.0, false, 4),
        |  ('Pz', CAST(1 AS BIGINT), 4, 50.0,  80.0, false, 4),
        |  ('Pz', CAST(2 AS BIGINT), 2, 90.0, 100.0, true,  2)
        |) AS t(channel, chunk_index, n_samples, chunk_min, chunk_max,
        |       is_last, valid_samples)""".stripMargin,

    "q112_ingest_audit" ->
      """SELECT * FROM (VALUES
        |  ('ctf', 'diverged.res4', 'res4_parse_failed', 0),
        |  ('ctf', 'good.res4', 'ok', 2),
        |  ('ctf', 'orphan.res4', 'meg4_unreadable', 2),
        |  ('eeglab', 'good.set', 'ok', 2),
        |  ('eeglab', 'junk.set', 'parse_failed', 0),
        |  ('eeglab', 'modern.set', 'hdf5_v73_unreadable', 0)
        |) AS t(format, file_name, status, n_channels)""".stripMargin,

    // Blake2bArchive independently recomputed (python hashlib.blake2b over
    // the materialized fixture files → sorted comma-join → blake2b);
    // studyB is rejected by the already-archived guard, testscan.v is
    // demoted by the BIC rule, facility overridden to BIC-MNI_MCGILL
    "q110_hrrt_archive" ->
      """SELECT * FROM (VALUES
        |  ('studyA', 'SUB001', 'PET001', 'BIC-MNI_MCGILL', 328,
        |   '2024-01-02', '2024', 'Siemens', 'HRRT', 2, 3, 0,
        |   'scan1.v,scan2.v',
        |   'd2a547b024599cea82a47c812aa8558bcaa953b197933dc6fafe7cb6db9a91a932779e55f98f19bbda69fa22a6c66d115a150228b4b7825cb1af509f2b7a3d91')
        |) AS t(archive, PatientName, PatientID, CenterName, SystemType,
        |       DateAcquired, YearAcquired, Manufacturer, ScannerModel,
        |       EcatFileCount, NonEcatFileCount, ParseFailedCount,
        |       EcatFiles, Blake2bArchive)""".stripMargin,

    // md5s independently recomputed (python hashlib over the literal
    // contents); c.txt's bucket object keeps the diverged bytes and its
    // catalog row keeps the local path
    "q109_object_store" ->
      """SELECT * FROM (VALUES
        |  ('a.txt', 'uploaded', 1, '2c1743a391305fbf367df8e4f069f9f9'),
        |  ('b.txt', 'skipped_same_content', 1,
        |   '987bcab01b929eb2c07877b224215c92'),
        |  ('c.txt', 'skipped_exists', 0, 'cf4d585d4d6438852a51832b91ba7e14')
        |) AS t(file_name, action, swapped, bucket_md5)""".stripMargin,

    // manifest md5s independently recomputable (python hashlib over the
    // literal contents); sizes are byte lengths
    "q120_objectstore_txn" ->
      """SELECT * FROM (VALUES
        |  ('a.txt', '2c1743a391305fbf367df8e4f069f9f9',
        |   '2c1743a391305fbf367df8e4f069f9f9', CAST(5 AS BIGINT)),
        |  ('b.txt', '987bcab01b929eb2c07877b224215c92',
        |   '987bcab01b929eb2c07877b224215c92', CAST(4 AS BIGINT)),
        |  ('sub/c.txt', '05b048d7242cb7b8b57cfa3b1d65ecea',
        |   '05b048d7242cb7b8b57cfa3b1d65ecea', CAST(5 AS BIGINT))
        |) AS t(object_name, manifest_md5, bucket_md5, size)""".stripMargin,

    "q126_ecat_dsv2" ->
      """SELECT * FROM (VALUES
        |  ('s1.v', false, 'SUB001', 'PET001', 'Johns Hopkins Univ', 328,
        |   CAST(1704164645 AS BIGINT), 2),
        |  ('s2.v', false, 'SUB002', 'PET002', 'BIC', 328,
        |   CAST(1704168000 AS BIGINT), 1),
        |  ('junk.v', true, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
        |   CAST(NULL AS BIGINT), CAST(NULL AS INTEGER)),
        |  ('tiny.v', true, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
        |   CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
        |   CAST(NULL AS BIGINT), CAST(NULL AS INTEGER))
        |) AS t(file_name, parse_failed, patient_name, patient_id,
        |       facility_name, system_type, scan_start_time,
        |       num_frames)""".stripMargin,

    "q125_series_split_spec" ->
      """SELECT * FROM (VALUES
        |  ('S1', 5, CAST(10.0 AS DOUBLE), CAST(NULL AS INTEGER),
        |   'EchoNumber', 1),
        |  ('S1', 5, 30.0, CAST(NULL AS INTEGER), 'EchoNumber', 2),
        |  ('S1', 6, CAST(NULL AS DOUBLE), 4, 'EchoNumber', 101),
        |  ('S1', 6, CAST(NULL AS DOUBLE), 5, 'EchoNumber', 101),
        |  ('S1', 6, CAST(NULL AS DOUBLE), 6, 'EchoNumber', 101)
        |) AS t(study_uid, series_number, echo_time, image_number, field,
        |       value)""".stripMargin,

    "q124_bids_export_names" ->
      """SELECT * FROM (VALUES
        |  (CAST(7001 AS BIGINT), 'exported', '001',
        |   'sub-300001_ses-V01_run-001_T1w.nii',
        |   '/bids/sub-300001/ses-V01/anat/sub-300001_ses-V01_run-001_T1w.nii.gz',
        |   '/bids/sub-300001/ses-V01/anat/sub-300001_ses-V01_run-001_T1w.json'),
        |  (7002, 'exported', '002',
        |   'sub-300001_ses-V01_run-002_T1w.nii',
        |   '/bids/sub-300001/ses-V01/anat/sub-300001_ses-V01_run-002_T1w.nii.gz',
        |   '/bids/sub-300001/ses-V01/anat/sub-300001_ses-V01_run-002_T1w.json'),
        |  (7003, 'exported', '001',
        |   'sub-300001_ses-V01_task-rest_run-001_bold.nii',
        |   '/bids/sub-300001/ses-V01/func/sub-300001_ses-V01_task-rest_run-001_bold.nii.gz',
        |   '/bids/sub-300001/ses-V01/func/sub-300001_ses-V01_task-rest_run-001_bold.json'),
        |  (7004, 'skipped_no_bids_mapping', '001', NULL, NULL, NULL),
        |  (7005, 'error_func_needs_subcategory', '001', NULL, NULL, NULL),
        |  (7006, 'deferred_magnitude', '001', NULL, NULL, NULL),
        |  (7007, 'exported', '001',
        |   'sub-300001_ses-V01_run-001_echo-2_MEGRE.nii',
        |   '/bids/sub-300001/ses-V01/anat/sub-300001_ses-V01_run-001_echo-2_MEGRE.nii.gz',
        |   '/bids/sub-300001/ses-V01/anat/sub-300001_ses-V01_run-001_echo-2_MEGRE.json')
        |) AS t(FileID, status, run_number, nifti_name, nii_path,
        |       json_path)""".stripMargin,

    // upload 80's full cascade; upload 81 absent (QC-blocked). The two
    // files_intermediary rows share FileID 9004 (duplicate-output
    // semantics); 9005's parameter row comes via the SourceFileID branch
    // and keeps its absolute path
    "q122_delete_upload_footprint" ->
      """SELECT * FROM (VALUES
        |  (CAST(80 AS BIGINT), 'files', CAST(9001 AS BIGINT),
        |   CAST(9001 AS BIGINT), '/data/a/t1.mnc'),
        |  (80, 'files', 9002, 9002, '/data/a/dti.mnc'),
        |  (80, 'files_intermediary', 1, 9004, '/data/proc/q.mnc'),
        |  (80, 'files_intermediary', 2, 9004, '/data/proc/q.mnc'),
        |  (80, 'parameter_file', 21, 9001, '/data/pic/a_t1.png'),
        |  (80, 'parameter_file', 22, 9004, '/data/pic/q.png'),
        |  (80, 'parameter_file', 23, 9005, '/abs/pp.png'),
        |  (80, 'mri_protocol_violated_scans', 31, CAST(NULL AS BIGINT),
        |   '/data/trash/v.mnc'),
        |  (80, 'mri_violations_log', 41, CAST(NULL AS BIGINT),
        |   '/data/trash/l.mnc'),
        |  (80, 'MRICandidateErrors', 51, CAST(NULL AS BIGINT),
        |   '/data/trash/c.mnc')
        |) AS t(UploadID, table_name, row_id, FileID, full_path)""".stripMargin,

    "q123_delete_upload_gate" ->
      """SELECT * FROM (VALUES
        |  (CAST(80 AS BIGINT), CAST(500 AS BIGINT), CAST(0 AS BIGINT),
        |   CAST(0 AS BIGINT), true),
        |  (81, 501, 1, 1, false)
        |) AS t(UploadID, TarchiveID, n_qc, n_comments, deletable)""".stripMargin,

    // line 4 is the fileparse quirk (.b.tgz is the parsed type, not
    // .tgz); line 8 is Perl's undef patient name stringifying to '' and
    // passing the prefix check; ids continue from 71 in line order
    "q121_batch_upload_intake" ->
      """SELECT * FROM (VALUES
        |  (1, '/in/PSC0001_123457_V1.tar.gz', 'submitted',
        |   CAST(72 AS BIGINT), 'PSC0001_123457', 'N',
        |   'imaging_upload_file.pl -profile prod -upload_id 72 /in/PSC0001_123457_V1.tar.gz',
        |   'lorisadmin'),
        |  (2, '/in/Lego_Phantom_MNI_20140101.zip', 'submitted',
        |   CAST(73 AS BIGINT), 'NULL', 'Y',
        |   'imaging_upload_file.pl -profile prod -upload_id 73 /in/Lego_Phantom_MNI_20140101.zip',
        |   'lorisadmin'),
        |  (3, '/in/scan.mnc', 'file_type_check_failure',
        |   CAST(NULL AS BIGINT), NULL, NULL, NULL, NULL),
        |  (4, '/in/a.b.tgz', 'file_type_check_failure',
        |   CAST(NULL AS BIGINT), NULL, NULL, NULL, NULL),
        |  (5, '/in/x.tgz', 'phantom_entry_failure',
        |   CAST(NULL AS BIGINT), NULL, NULL, NULL, NULL),
        |  (6, '/in/PSC9_1_V1.zip', 'pname_filename_mismatch',
        |   CAST(NULL AS BIGINT), NULL, NULL, NULL, NULL),
        |  (7, '/in/Phantom2.tgz', 'pname_filename_mismatch',
        |   CAST(NULL AS BIGINT), NULL, NULL, NULL, NULL),
        |  (8, '/in/y.tar.gz', 'submitted', CAST(74 AS BIGINT), '', 'N',
        |   'imaging_upload_file.pl -profile prod -upload_id 74 /in/y.tar.gz',
        |   'lorisadmin')
        |) AS t(line_no, UploadLocation, status, UploadID, PatientName,
        |       IsPhantom, command, UploadedBy)""".stripMargin,

    "q65_upload_states" ->
      """SELECT o_custkey AS upload_id,
        |       max_by(o_orderstatus, o_orderkey) AS status,
        |       CAST(count(*) AS INTEGER) AS n_transitions
        |FROM orders GROUP BY o_custkey""".stripMargin
  )
}
