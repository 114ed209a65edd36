package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.US_ASCII

/** Deterministic binary-fixture generators for the ingest verticals.
  *
  * The reference ships real DICOM/EDF test files with its test suite; this
  * container carries none, so the driver-checked ingest queries (q61/q62)
  * synthesize byte-exact fixtures at run time instead. Everything here is
  * spec-derived construction (DICOM PS3.10 part-10 + explicit-VR LE
  * encoding; EDF fixed-width header + int16 LE records) — the parsers are
  * separately validated against INDEPENDENT writers in their specs; these
  * builders just make the end-to-end verticals drivable and their outputs
  * pin-able as oracle rows.
  */
object SyntheticFixtures {

  // --- DICOM part-10, explicit-VR little-endian ---

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)

  private def evenPad(s: String): Array[Byte] = {
    val b = s.getBytes(US_ASCII)
    if (b.length % 2 == 0) b else b :+ ' '.toByte
  }

  /** One explicit-VR short-form element (text VRs only — all the summary
    * tags are text). */
  def dicomElem(group: Int, elem: Int, vr: String, value: String): Array[Byte] = {
    val v = evenPad(value)
    val o = new ByteArrayOutputStream()
    o.write(le16(group)); o.write(le16(elem))
    o.write(vr.getBytes(US_ASCII)); o.write(le16(v.length))
    o.write(v)
    o.toByteArray
  }

  /** Part-10 file: 128-byte preamble, DICM, minimal file meta declaring
    * explicit-VR LE, then `elems` (must be in ascending tag order). */
  def dicomBytes(elems: Seq[Array[Byte]]): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    o.write(new Array[Byte](128))
    o.write("DICM".getBytes(US_ASCII))
    o.write(dicomElem(0x0002, 0x0010, "UI", "1.2.840.10008.1.2.1"))
    elems.foreach(o.write)
    o.toByteArray
  }

  /** A study-bundle archive in the reference's upload shape
    * (`imaging.py:1150-1174`): an outer `.tar` holding a stray text file
    * and a nested `.tar.gz` of DICOM slices, one series, fixed tag values.
    */
  def studyArchiveBytes(): Array[Byte] = {
    def slice(instance: Int, echoTime: String): Array[Byte] = dicomBytes(Seq(
      dicomElem(0x0008, 0x0020, "DA", "20240102"),
      dicomElem(0x0008, 0x0060, "CS", "MR"),
      dicomElem(0x0010, 0x0020, "LO", "SUB001"),
      dicomElem(0x0018, 0x0081, "DS", echoTime),
      dicomElem(0x0020, 0x000D, "UI", "1.2.3.9000"),
      dicomElem(0x0020, 0x000E, "UI", "1.2.3.9000.1"),
      dicomElem(0x0020, 0x0011, "IS", "2"),
      dicomElem(0x0020, 0x0013, "IS", instance.toString)))
    val inner = TarSink.tarBytes(Seq(
      "study/" -> Array.emptyByteArray,
      "study/001.dcm" -> slice(1, "25.5"),
      "study/002.dcm" -> slice(2, "25.5"),
      "study/003.dcm" -> slice(3, "50")))
    TarSink.tarBytes(Seq(
      "upload/notes.txt" -> "operator log".getBytes(US_ASCII),
      "upload/study.tar.gz" -> TarSink.gzipBytes(inner)))
  }

  // --- NIfTI-1 ---

  /** 348-byte NIfTI-1 header (+ "n+1\0" magic): sizeof_hdr, dim[] int16 LE
    * at offset 40 (dim[0] = ndim), pixdim[] float32 LE at offset 76
    * (pixdim[1] = x step at 80). Values chosen by callers should be exact
    * in float32 so downstream oracles are float-stable. */
  def niftiBytes(dims: Seq[Int], pixdims: Seq[Float]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(348)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(0, 348)
    b.putShort(40, dims.length.toShort)
    dims.zipWithIndex.foreach { case (d, i) => b.putShort(42 + 2 * i, d.toShort) }
    pixdims.zipWithIndex.foreach { case (p, i) => b.putFloat(80 + 4 * i, p) }
    b.put(344, 'n'.toByte); b.put(345, '+'.toByte); b.put(346, '1'.toByte)
    b.array()
  }

  // --- EDF ---

  private def fw(s: String, len: Int): Array[Byte] = {
    require(s.length <= len, s"EDF field overflow: '$s' > $len")
    (s + " " * (len - s.length)).getBytes(US_ASCII)
  }

  final case class EdfSig(label: String, physMin: String, physMax: String,
      digMin: String, digMax: String, spr: Int)

  /** EDF image with the given signals and per-record digital samples
    * (records(r)(s) = samples of signal s in record r). */
  def edfBytes(sigs: Seq[EdfSig], records: Seq[Seq[Array[Short]]],
      recDurSec: String = "1"): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    val ns = sigs.length
    o.write(fw("0", 8)); o.write(fw("sub X", 80)); o.write(fw("rec R", 80))
    o.write(fw("02.01.24", 8)); o.write(fw("09.30.00", 8))
    o.write(fw((256 + ns * 256).toString, 8)); o.write(fw("", 44))
    o.write(fw(records.length.toString, 8))
    o.write(fw(recDurSec, 8)); o.write(fw(ns.toString, 4))
    sigs.foreach(s => o.write(fw(s.label, 16)))
    sigs.foreach(_ => o.write(fw("AgAgCl", 80)))
    sigs.foreach(_ => o.write(fw("uV", 8)))
    sigs.foreach(s => o.write(fw(s.physMin, 8)))
    sigs.foreach(s => o.write(fw(s.physMax, 8)))
    sigs.foreach(s => o.write(fw(s.digMin, 8)))
    sigs.foreach(s => o.write(fw(s.digMax, 8)))
    sigs.foreach(_ => o.write(fw("", 80)))
    sigs.foreach(s => o.write(fw(s.spr.toString, 8)))
    sigs.foreach(_ => o.write(fw("", 32)))
    records.foreach(_.foreach(_.foreach { v =>
      o.write(v & 0xFF); o.write((v >> 8) & 0xFF)
    }))
    o.toByteArray
  }

  /** Two-channel recording with EXACT binary calibrations (gain 1.0 and
    * 0.5, offset 0) so every physical value — and thus the q62 oracle —
    * is representable exactly in both engines. */
  def recordingBytes(): Array[Byte] = edfBytes(
    Seq(
      EdfSig("C3", "-2048", "2047", "-2048", "2047", 6),
      EdfSig("C4", "-16384", "16383.5", "-32768", "32767", 3)),
    Seq(
      Seq(Array[Short](1, 2, 3, 4, 5, 6), Array[Short](10, 20, 30)),
      Seq(Array[Short](7, 8, 9, 10, 11, 12), Array[Short](40, 50, 60))))

  /** Write `bytes` under a stable tmp path (idempotent overwrite) and
    * return the directory — the binaryFile-scannable fixture root. */
  /** BrainVision triple (vhdr, eeg, vmrk): 2 channels × 10 samples at 4 Hz,
    * INT_16 multiplexed; Fp1 carries resolution 0.5 (digital 2,4,…,20 →
    * physical 1..10), Cz resolution 1 (10,20,…,100). Written independently
    * of [[BrainVisionReader]] (spec cross-check discipline). */
  def brainVisionBytes(): (Array[Byte], Array[Byte], Array[Byte]) = {
    val vhdr = ("Brain Vision Data Exchange Header File Version 1.0\n" +
      "[Common Infos]\n" +
      "DataFormat=BINARY\n" +
      "DataOrientation=MULTIPLEXED\n" +
      "DataFile=rec1.eeg\n" +
      "MarkerFile=rec1.vmrk\n" +
      "NumberOfChannels=2\n" +
      "SamplingInterval=250000\n" +
      "[Binary Infos]\n" +
      "BinaryFormat=INT_16\n" +
      "[Channel Infos]\n" +
      "; name,reference,resolution,unit\n" +
      "Ch1=Fp1,,0.5,uV\n" +
      "Ch2=Cz,,1,uV\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bb = java.nio.ByteBuffer.allocate(2 * 2 * 10)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (1 to 10).foreach { s =>
      bb.putShort((s * 2).toShort)   // Fp1 digital
      bb.putShort((s * 10).toShort)  // Cz digital
    }
    val vmrk = ("Brain Vision Data Exchange Marker File Version 1.0\n" +
      "[Marker Infos]\n" +
      "Mk1=New Segment,,1,1,0\n" +
      "Mk2=Stimulus,S  1,3,1,0\n" +
      "Mk3=Response,R  8,7,1,2\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    (vhdr, bb.array(), vmrk)
  }

  // --- CTF .ds (res4/meg4) ---

  private def be16(o: ByteArrayOutputStream, v: Int): Unit = {
    o.write((v >> 8) & 0xFF); o.write(v & 0xFF)
  }
  private def be32(o: ByteArrayOutputStream, v: Int): Unit = {
    o.write((v >> 24) & 0xFF); o.write((v >> 16) & 0xFF)
    o.write((v >> 8) & 0xFF); o.write(v & 0xFF)
  }
  private def beF64(o: ByteArrayOutputStream, v: Double): Unit = {
    val bits = java.lang.Double.doubleToLongBits(v)
    var i = 7
    while (i >= 0) { o.write(((bits >> (8 * i)) & 0xFF).toInt); i -= 1 }
  }
  private def padded(o: ByteArrayOutputStream, s: String, len: Int): Unit = {
    val b = s.getBytes(US_ASCII)
    require(b.length < len, s"CTF field overflow: '$s' >= $len")
    o.write(b); o.write(new Array[Byte](len - b.length))
  }

  final case class CtfChan(name: String, properGain: Double, qGain: Double)

  /** CTF `.res4`/`.meg4` pair written SEQUENTIALLY (field after field, the
    * structure narrated by the published format description) — independent
    * of [[CtfReader]]'s absolute-offset parse, so the spec cross-checks
    * both. `trials(t)(c)` = raw int32 samples of channel c in trial t; a
    * run description and one 2-parameter filter record are included so the
    * reader's variable-length navigation is actually exercised. */
  def ctfBytes(chans: Seq[CtfChan], trials: Seq[Seq[Array[Int]]],
      sampleRateHz: Double = 4.0): (Array[Byte], Array[Byte]) = {
    val nSamp = if (trials.isEmpty) 0 else trials.head.head.length
    val r = new ByteArrayOutputStream()
    r.write("MEG41RS".getBytes(US_ASCII)); r.write(0)
    padded(r, "graft synthetic", 256)     // appName
    padded(r, "nowhere", 256)             // dataOrigin
    padded(r, "fixture", 256)             // dataDescription
    be16(r, 1)                            // no_trials_avgd
    padded(r, "09:30", 255)               // data_time
    padded(r, "2024-01-02", 255)          // data_date
    be32(r, nSamp)                        // gSetUp.no_samples (per trial)
    be16(r, chans.length)                 // gSetUp.no_channels
    be16(r, 0)                            // alignment pad
    beF64(r, sampleRateHz)                // gSetUp.sample_rate
    beF64(r, nSamp / sampleRateHz)        // gSetUp.epoch_time
    be16(r, trials.length)                // gSetUp.no_trials
    be16(r, 0)                            // alignment pad
    be32(r, 0)                            // preTrigPts
    be16(r, trials.length); be16(r, 1)    // no_trials_done, no_trials_display
    be32(r, 0)                            // save_trials
    padded(r, "", 32)                     // primary trigger block
    padded(r, "run1", 32)                 // run_name
    padded(r, "graft ctf fixture", 256)   // run_title
    padded(r, "synth", 32)                // instruments
    padded(r, "collect", 32)              // collect_descriptor
    padded(r, "SUB001", 32)               // subject_id
    padded(r, "graft", 32)                // operator
    val runDesc = "synthetic run description".getBytes(US_ASCII)
    be32(r, runDesc.length); r.write(runDesc)
    be16(r, 1)                            // one filter record
    beF64(r, 60.0); be32(r, 1); be32(r, 0)
    be16(r, 2); beF64(r, 0.1); beF64(r, 0.2)
    chans.foreach(c => padded(r, c.name, 32))
    chans.foreach { c =>                  // 1328-byte sensor records
      be16(r, 5); be16(r, 0)              // sensorTypeIndex (MEG), run no
      be32(r, 0)                          // coilShape
      beF64(r, c.properGain); beF64(r, c.qGain)
      beF64(r, 1.0); beF64(r, 0.0)        // ioGain, ioOffset
      be16(r, 1); be16(r, 0)              // numCoils, gradOrderNo
      be32(r, 0)                          // pad
      r.write(new Array[Byte](2 * 8 * 80))// coil + head-coil tables
    }
    val m = new ByteArrayOutputStream()
    m.write("MEG41CP".getBytes(US_ASCII)); m.write(0)
    trials.foreach(_.foreach(_.foreach(v => be32(m, v))))
    (r.toByteArray, m.toByteArray)
  }

  /** Two-channel, two-trial CTF recording with exact power-of-two
    * calibrations (properGain·qGain = 2 → value = raw/2) and suffixed raw
    * channel names (clean_names coverage). Physical traces: MLC11 = 1..10,
    * MZC01 = 10,20,…,100 — the q75 shape, so the chunker oracle rows are
    * directly comparable. */
  def ctfRecordingBytes(): (Array[Byte], Array[Byte]) = ctfBytes(
    Seq(CtfChan("MLC11-2805", 0.5, 4.0), CtfChan("MZC01-2805", 0.5, 4.0)),
    Seq(
      Seq(Array(2, 4, 6, 8, 10), Array(20, 40, 60, 80, 100)),
      Seq(Array(12, 14, 16, 18, 20), Array(120, 140, 160, 180, 200))))

  // --- EEGLAB .set (MAT Level-5, v6 uncompressed little-endian) ---

  private def leBytes(n: Int)(put: java.nio.ByteBuffer => Unit): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    put(b)
    b.array()
  }

  /** Full-form MAT element: 8-byte tag (type, size) + payload padded to 8. */
  private def matElem(miType: Int, payload: Array[Byte]): Array[Byte] = {
    val pad = (8 - payload.length % 8) % 8
    leBytes(8 + payload.length + pad) { b =>
      b.putInt(miType); b.putInt(payload.length); b.put(payload)
    }
  }

  private def matDoubles(vals: Seq[Double]): Array[Byte] =
    matElem(9, leBytes(vals.length * 8)(b => vals.foreach(b.putDouble)))

  private def matInt32s(vals: Seq[Int]): Array[Byte] =
    matElem(5, leBytes(vals.length * 4)(b => vals.foreach(b.putInt)))

  /** miMATRIX wrapper: array flags (class), dims, name, then body. */
  private def matMatrix(name: String, clazz: Int, dims: Seq[Int],
      body: Array[Byte]*): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    o.write(matElem(6, leBytes(8)(b => { b.putInt(clazz); b.putInt(0) })))
    o.write(matInt32s(dims))
    o.write(matElem(1, name.getBytes(US_ASCII)))
    body.foreach(o.write)
    matElem(14, o.toByteArray)
  }

  private def matNumeric(name: String, dims: Seq[Int], vals: Seq[Double]): Array[Byte] =
    matMatrix(name, 6, dims, matDoubles(vals))

  private def matChar(name: String, s: String): Array[Byte] =
    matMatrix(name, 4, Seq(1, s.length),
      matElem(4, leBytes(s.length * 2)(b => s.foreach(c => b.putShort(c.toShort)))))

  /** Struct array: field-name-length + 32-byte field names, then one
    * nameless miMATRIX per (element, field), element-major. */
  private def matStruct(name: String, dims: Seq[Int], fields: Seq[String],
      elems: Seq[Seq[Array[Byte]]]): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    o.write(matElem(6, leBytes(8)(b => { b.putInt(2); b.putInt(0) })))
    o.write(matInt32s(dims))
    o.write(matElem(1, name.getBytes(US_ASCII)))
    o.write(matInt32s(Seq(32)))
    o.write(matElem(1, leBytes(32 * fields.length) { b =>
      fields.foreach { f =>
        val fb = f.getBytes(US_ASCII)
        b.put(fb); b.put(new Array[Byte](32 - fb.length))
      }
    }))
    elems.foreach(_.foreach(o.write))
    matElem(14, o.toByteArray)
  }

  /** EEGLAB `.set` written SEQUENTIALLY from the published MAT Level-5
    * layout (128-byte header, tagged elements, column-major numerics,
    * element-major struct subelements) — independent of
    * [[EeglabReader]]'s walker. `data(c)(s)`: per-channel traces, split
    * into `trials` equal trials on disk ([nbchan, pnts, trials]
    * column-major). `asFdt` stores data as a sibling-file name instead and
    * returns the float32 payload second. */
  def eeglabBytes(channelLabels: Seq[String], data: Seq[Array[Double]],
      srateHz: Double, trials: Int = 1,
      asFdt: Option[String] = None): (Array[Byte], Array[Byte]) = {
    val nChan = channelLabels.length
    val nTotal = if (data.isEmpty) 0 else data.head.length
    require(trials >= 1 && (nTotal % trials == 0))
    val pnts = nTotal / trials
    // column-major flatten of [nbchan, pnts, trials]
    val flat = for {
      t <- 0 until trials
      s <- 0 until pnts
      c <- 0 until nChan
    } yield data(c)(t * pnts + s)
    val chanlocs = matStruct("", Seq(1, nChan), Seq("labels", "theta"),
      channelLabels.map(l => Seq(matChar("", l), matNumeric("", Seq(1, 1), Seq(0.0)))))
    val dataField = asFdt match {
      case None => matNumeric("", Seq(nChan, pnts, trials), flat)
      case Some(fdtName) => matChar("", fdtName)
    }
    val eeg = matStruct("EEG", Seq(1, 1),
      Seq("data", "srate", "nbchan", "pnts", "trials", "chanlocs"),
      Seq(Seq(
        dataField,
        matNumeric("", Seq(1, 1), Seq(srateHz)),
        matNumeric("", Seq(1, 1), Seq(nChan.toDouble)),
        matNumeric("", Seq(1, 1), Seq(pnts.toDouble)),
        matNumeric("", Seq(1, 1), Seq(trials.toDouble)),
        chanlocs)))
    val o = new ByteArrayOutputStream()
    val header = new Array[Byte](128)
    val txt = "MATLAB 5.0 MAT-file, graft synthetic fixture".getBytes(US_ASCII)
    System.arraycopy(txt, 0, header, 0, txt.length)
    header(124) = 0; header(125) = 1          // version 0x0100 LE
    header(126) = 'I'.toByte; header(127) = 'M'.toByte
    o.write(header)
    o.write(eeg)
    val fdtPayload = leBytes(flat.length * 4)(b =>
      flat.foreach(v => b.putFloat(v.toFloat)))
    (o.toByteArray, fdtPayload)
  }

  /** Two-channel, two-trial `.set` with the q75/q101 trace shape (E1 =
    * 1..10, E2 = 10,20,…,100 — exact in float32 and double). */
  def eeglabRecordingBytes(asFdt: Option[String] = None): (Array[Byte], Array[Byte]) =
    eeglabBytes(
      Seq("Fz", "Pz"),
      Seq((1 to 10).map(_.toDouble).toArray, (1 to 10).map(_ * 10.0).toArray),
      srateHz = 4.0, trials = 2, asFdt = asFdt)

  /** The OTHER layout MNE's `_check_load_mat` accepts: the EEG struct's
    * fields saved as top-level MAT variables (no wrapping struct). Exercises
    * multi-variable files — under v7 every variable is its own
    * miCOMPRESSED element, so this is the layout that catches any padding
    * misassumption between consecutive compressed elements. */
  def eeglabTopLevelBytes(channelLabels: Seq[String], data: Seq[Array[Double]],
      srateHz: Double): Array[Byte] = {
    val nChan = channelLabels.length
    val pnts = if (data.isEmpty) 0 else data.head.length
    val flat = for { s <- 0 until pnts; c <- 0 until nChan } yield data(c)(s)
    val chanlocs = matStruct("chanlocs", Seq(1, nChan), Seq("labels", "theta"),
      channelLabels.map(l => Seq(matChar("", l), matNumeric("", Seq(1, 1), Seq(0.0)))))
    val o = new ByteArrayOutputStream()
    val header = new Array[Byte](128)
    val txt = "MATLAB 5.0 MAT-file, graft synthetic fixture".getBytes(US_ASCII)
    System.arraycopy(txt, 0, header, 0, txt.length)
    header(124) = 0; header(125) = 1
    header(126) = 'I'.toByte; header(127) = 'M'.toByte
    o.write(header)
    o.write(matNumeric("data", Seq(nChan, pnts), flat))
    o.write(matNumeric("srate", Seq(1, 1), Seq(srateHz)))
    o.write(matNumeric("nbchan", Seq(1, 1), Seq(nChan.toDouble)))
    o.write(matNumeric("pnts", Seq(1, 1), Seq(pnts.toDouble)))
    o.write(matNumeric("trials", Seq(1, 1), Seq(1.0)))
    o.write(chanlocs)
    o.toByteArray
  }

  /** Re-wrap a v6 `.set` as MAT v7: every top-level element deflates into
    * a miCOMPRESSED wrapper (zlib via the JDK Deflater — exactly what
    * MATLAB's `-v7` adds over `-v6`). Independent twin of the reader's
    * Inflater path. */
  def matV7Of(v6: Array[Byte]): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    o.write(v6, 0, 128) // header block carries over
    val b = java.nio.ByteBuffer.wrap(v6)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.position(128)
    while (b.remaining() >= 8) {
      val tag = b.getInt(); val size = b.getInt()
      val padded = (size + 7) / 8 * 8
      val element = leBytes(8 + size) { eb =>
        eb.putInt(tag); eb.putInt(size)
        val body = new Array[Byte](size); b.get(body); eb.put(body)
      }
      b.position(b.position() + math.min(padded - size, b.remaining()))
      val defl = new java.util.zip.Deflater()
      defl.setInput(element); defl.finish()
      val zout = new ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      while (!defl.finished()) zout.write(buf, 0, defl.deflate(buf))
      defl.end()
      val z = zout.toByteArray
      // miCOMPRESSED elements are written UNPADDED (matching MATLAB -v7 /
      // scipy savemat), unlike every other full element.
      o.write(leBytes(8)(eb => { eb.putInt(15); eb.putInt(z.length) }))
      o.write(z)
    }
    o.toByteArray
  }

  /** Deterministic spectrally-rich gray raster (a synthetic "photo"):
    * sum of 12 seeded low-frequency sinusoids, quantized to 0-255 and
    * packed 0xRRGGBB with r=g=b (so BT.601 luma equals the value
    * exactly). Seeded `scala.util.Random` (java.util.Random LCG — bit
    * stable everywhere) + StrictMath make it byte-identical on every
    * JVM, which is what lets pHash q-rows pin measured hashes. */
  def richRaster(w: Int, h: Int, seed: Int): Seq[Seq[Int]] = {
    val rnd = new scala.util.Random(seed)
    val comps = (0 until 12).map { _ =>
      (rnd.nextInt(6) + 1, rnd.nextInt(6) + 1,
        rnd.nextDouble() * 2 * StrictMath.PI, 10.0 + rnd.nextDouble() * 25)
    }
    (0 until h).map(y => (0 until w).map { x =>
      val v = 128.0 + comps.map { case (fx, fy, ph, amp) =>
        amp * StrictMath.sin(
          2 * StrictMath.PI * (fx * x.toDouble / w + fy * y.toDouble / h) + ph)
      }.sum
      val c = math.max(0, math.min(255, v.round.toInt))
      (c << 16) | (c << 8) | c
    })
  }

  /** JPEG's lossy luma pipeline, emulated exactly as an encoder applies
    * it: per 8×8 block, level-shift, orthonormal 2D DCT-II, quantize by
    * the JPEG Annex-K luminance table, dequantize, inverse DCT, clamp.
    * (The repo has no JPEG pixel decoder by design — this applies the
    * SAME transform a re-encode applies to a raster, so specs and
    * q-rows can exercise "survives recompression" claims with a
    * deterministic, engine-portable fixture: StrictMath only.) */
  def jpegRoundtrip(img: Seq[Seq[Int]]): Seq[Seq[Int]] = {
    val annexK = Array(
      Array(16, 11, 10, 16, 24, 40, 51, 61),
      Array(12, 12, 14, 19, 26, 58, 60, 55),
      Array(14, 13, 16, 24, 40, 57, 69, 56),
      Array(14, 17, 22, 29, 51, 87, 80, 62),
      Array(18, 22, 37, 56, 68, 109, 103, 77),
      Array(24, 35, 55, 64, 81, 104, 113, 92),
      Array(49, 64, 78, 87, 103, 121, 120, 101),
      Array(72, 92, 95, 98, 112, 100, 103, 99))
    val h = img.length; val w = img.head.length
    val g = Array.tabulate(h, w)((y, x) => (img(y)(x) & 0xFF) - 128.0)
    def alpha(u: Int) = if (u == 0) StrictMath.sqrt(0.125) else 0.5
    val out = Array.ofDim[Int](h, w)
    var by = 0
    while (by < h) {
      var bx = 0
      while (bx < w) {
        val f = Array.ofDim[Double](8, 8)
        for (u <- 0 until 8; v <- 0 until 8) {
          var acc = 0.0
          for (y <- 0 until 8; x <- 0 until 8)
            acc += g(by + y)(bx + x) *
              StrictMath.cos((2 * x + 1) * v * StrictMath.PI / 16) *
              StrictMath.cos((2 * y + 1) * u * StrictMath.PI / 16)
          f(u)(v) = alpha(u) * alpha(v) * acc
        }
        // the lossy step: quantize / dequantize
        for (u <- 0 until 8; v <- 0 until 8)
          f(u)(v) = StrictMath.round(f(u)(v) / annexK(u)(v)).toDouble *
            annexK(u)(v)
        for (y <- 0 until 8; x <- 0 until 8) {
          var acc = 0.0
          for (u <- 0 until 8; v <- 0 until 8)
            acc += alpha(u) * alpha(v) * f(u)(v) *
              StrictMath.cos((2 * x + 1) * v * StrictMath.PI / 16) *
              StrictMath.cos((2 * y + 1) * u * StrictMath.PI / 16)
          val c = math.max(0, math.min(255, (acc + 128.0).round.toInt))
          out(by + y)(bx + x) = (c << 16) | (c << 8) | c
        }
        bx += 8
      }
      by += 8
    }
    out.map(_.toSeq).toSeq
  }

  // --- PNG (via the JDK's ImageIO encoder) ---

  /** PNG written by `javax.imageio.ImageIO` — a fully independent encoder
    * (its own filter heuristics and zlib stream) against which
    * [[graft.operators.PngCodec]]'s hand-rolled chunk walk + inflate +
    * defilter must agree. `rgb(y)(x)` is packed 0xRRGGBB, row 0 = top.
    * `gray = true` writes an 8-bit grayscale raster (color type 0) using
    * the low byte of each pixel; `alpha = true` writes RGBA (color
    * type 6) with opaque alpha. */
  def pngBytes(rgb: Seq[Seq[Int]], gray: Boolean = false,
      alpha: Boolean = false): Array[Byte] = {
    val h = rgb.length
    val w = rgb.head.length
    val imgType =
      if (gray) java.awt.image.BufferedImage.TYPE_BYTE_GRAY
      else if (alpha) java.awt.image.BufferedImage.TYPE_INT_ARGB
      else java.awt.image.BufferedImage.TYPE_INT_RGB
    val img = new java.awt.image.BufferedImage(w, h, imgType)
    for (y <- 0 until h; x <- 0 until w) {
      if (gray)
        img.getRaster.setSample(x, y, 0, rgb(y)(x) & 0xFF)
      else
        img.setRGB(x, y, 0xFF000000 | rgb(y)(x))
    }
    val o = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", o)
    o.toByteArray
  }

  // --- BMP (24/32-bit uncompressed) ---

  /** BMP written sequentially from the published layout (BITMAPFILEHEADER
    * + BITMAPINFOHEADER + 4-byte-padded BGR(A) rows) — independent of
    * [[graft.operators.BmpCodec]]'s offset-based decode. `rgb(y)(x)` is
    * packed 0xRRGGBB with row 0 = TOP row; `topDown = false` stores rows
    * bottom-up with positive height, the common on-disk form. */
  def bmpBytes(rgb: Seq[Seq[Int]], bpp: Int = 24,
      topDown: Boolean = false): Array[Byte] = {
    require(bpp == 24 || bpp == 32)
    val h = rgb.length
    val w = rgb.head.length
    val bytesPerPixel = bpp / 8
    val rowSize = (w * bytesPerPixel + 3) / 4 * 4
    val fileSize = 54 + rowSize * h
    val o = new ByteArrayOutputStream()
    def le16(v: Int): Unit = { o.write(v & 0xFF); o.write((v >> 8) & 0xFF) }
    def le32(v: Int): Unit = {
      o.write(v & 0xFF); o.write((v >> 8) & 0xFF)
      o.write((v >> 16) & 0xFF); o.write((v >> 24) & 0xFF)
    }
    o.write('B'.toInt); o.write('M'.toInt)
    le32(fileSize); le32(0); le32(54)          // file header
    le32(40); le32(w); le32(if (topDown) -h else h)
    le16(1); le16(bpp); le32(0)                // planes, depth, BI_RGB
    le32(rowSize * h); le32(2835); le32(2835); le32(0); le32(0)
    val rows = if (topDown) rgb else rgb.reverse
    rows.foreach { row =>
      row.foreach { p =>
        o.write(p & 0xFF); o.write((p >> 8) & 0xFF); o.write((p >> 16) & 0xFF)
        if (bpp == 32) o.write(0xFF)           // opaque alpha
      }
      (0 until rowSize - w * bytesPerPixel).foreach(_ => o.write(0))
    }
    o.toByteArray
  }

  // --- WAV (RIFF/WAVE PCM16) ---

  /** PCM16 WAV written sequentially from the published RIFF layout
    * ("RIFF" size "WAVE" + word-aligned chunks) — independent of
    * [[graft.operators.WavCodec]]'s chunk-walking decode.
    * `channels(c)(frame)`; `withListChunk` inserts a LIST/INFO metadata
    * chunk BEFORE `data` to exercise unknown-chunk skipping. */
  def wavBytes(channels: Seq[Seq[Int]], sampleRate: Int,
      withListChunk: Boolean = false): Array[Byte] = {
    require(channels.nonEmpty && channels.map(_.length).distinct.size == 1)
    val ch = channels.length
    val frames = channels.head.length
    val dataSize = frames * ch * 2
    val listSize = 10 // "INFO" + one 6-byte payload stub (even)
    val riffSize = 4 + (8 + 16) + (if (withListChunk) 8 + listSize else 0) +
      (8 + dataSize)
    val o = new ByteArrayOutputStream()
    def ascii(s: String): Unit = o.write(s.getBytes(US_ASCII))
    def le16(v: Int): Unit = { o.write(v & 0xFF); o.write((v >> 8) & 0xFF) }
    def le32(v: Int): Unit = {
      o.write(v & 0xFF); o.write((v >> 8) & 0xFF)
      o.write((v >> 16) & 0xFF); o.write((v >> 24) & 0xFF)
    }
    ascii("RIFF"); le32(riffSize); ascii("WAVE")
    ascii("fmt "); le32(16)
    le16(1); le16(ch); le32(sampleRate)        // PCM, channels, rate
    le32(sampleRate * ch * 2); le16(ch * 2); le16(16) // byteRate, align, bits
    if (withListChunk) {
      ascii("LIST"); le32(listSize); ascii("INFO"); ascii("IART"); le16(0)
    }
    ascii("data"); le32(dataSize)
    (0 until frames).foreach { f =>
      channels.foreach(c => le16(c(f) & 0xFFFF))
    }
    o.toByteArray
  }

  /** ECAT7 `.v` written SEQUENTIALLY from the published main-header layout
    * (512-byte big-endian fixed block: magic char[14], original name
    * char[32], sw/system/file type u16s, serial char[10], scan start u32,
    * isotope char[8] + halflife f32, radiopharmaceutical char[32], 56 bytes
    * of gantry/calibration scalars, study_type char[12], patient id/name,
    * demographics, physician/operator/description char[32]s, acquisition
    * u16s, facility char[20], plane/frame/gate/bed counts …) — independent
    * of [[EcatReader]]'s absolute-offset walker. Trailing bytes stand in
    * for the matrix directory + frame data the header-only reader must
    * skip. */
  def ecatBytes(patientName: String, patientId: String, facility: String,
      systemType: Int, scanStartEpoch: Long, numFrames: Int = 1,
      trailing: Int = 512): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    def chars(s: String, len: Int): Array[Byte] = {
      val a = new Array[Byte](len)
      val b = s.getBytes(US_ASCII)
      System.arraycopy(b, 0, a, 0, math.min(b.length, len))
      a
    }
    def beBytes(n: Int)(put: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(n)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      put(b)
      b.array()
    }
    o.write(chars("MATRIX72v", 14))
    o.write(chars(s"$patientId.v", 32))            // original_file_name
    o.write(beBytes(6) { b =>
      b.putShort(72)                               // sw_version
      b.putShort(systemType.toShort)               // system_type
      b.putShort(7)                                // file_type: volume16
    })
    o.write(chars("SN12345", 10))                  // serial_number
    o.write(beBytes(4)(_.putInt(scanStartEpoch.toInt))) // scan_start_time
    o.write(chars("F-18", 8))                      // isotope_name
    o.write(beBytes(4)(_.putFloat(6586.2f)))       // isotope_halflife
    o.write(chars("FDG", 32))                      // radiopharmaceutical
    o.write(beBytes(28) { b =>                     // gantry/bed/wobble block
      b.putFloat(0f); b.putFloat(0f); b.putFloat(0f); b.putFloat(0f)
      b.putShort(0); b.putShort(0); b.putFloat(25.2f); b.putFloat(31.2f)
    })
    o.write(beBytes(6) { b =>                      // sampling u16s
      b.putShort(0); b.putShort(0); b.putShort(0)
    })
    o.write(beBytes(4)(_.putFloat(1.0f)))          // ecat_calibration_factor
    o.write(beBytes(6) { b =>                      // calibration/compression
      b.putShort(0); b.putShort(0); b.putShort(0)
    })
    o.write(chars("BRAIN", 12))                    // study_type
    o.write(chars(patientId, 16))                  // patient_id
    o.write(chars(patientName, 32))                // patient_name
    o.write(chars("M", 1)); o.write(chars("R", 1)) // sex, dexterity
    o.write(beBytes(12) { b =>                     // age/height/weight f32
      b.putFloat(44.5f); b.putFloat(1.75f); b.putFloat(70.0f)
    })
    o.write(beBytes(4)(_.putInt(0)))               // patient_birth_date
    o.write(chars("DR WHO", 32))                   // physician_name
    o.write(chars("TECH ONE", 32))                 // operator_name
    o.write(chars("resting state FDG", 32))        // study_description
    o.write(beBytes(4) { b =>                      // acquisition/orientation
      b.putShort(2); b.putShort(0)
    })
    o.write(chars(facility, 20))                   // facility_name
    o.write(beBytes(8) { b =>                      // planes/frames/gates/beds
      b.putShort(207); b.putShort(numFrames.toShort); b.putShort(0)
      b.putShort(0)
    })
    // rest of the 512-byte block: bed positions, thresholds, process codes
    o.write(new Array[Byte](512 - o.size()))
    // matrix directory + frame payload stand-in (reader must ignore)
    o.write(Array.fill[Byte](trailing)(0x5A))
    o.toByteArray
  }

  /** Root of every fixture, sink and streaming-checkpoint dir this JVM
    * makes: `${java.io.tmpdir}/graft_fixtures-<unique>`, created on first
    * use and deleted when the JVM exits. Two JVMs on one host (two Verify
    * or Bench runs, a test run beside either) never share a dir. */
  private lazy val root: java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft_fixtures-")
    sys.addShutdownHook(scala.util.Try(deleteTree(dir)))
    dir
  }

  private def deleteTree(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir)
        .sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.delete(p))
    }

  /** Delete-and-recreate a fixture subdir: sink round-trip queries need a
    * deterministic destination state on every run (a stale bucket from a
    * prior run would turn `uploaded` into `skipped_same_content`). */
  def freshDir(subdir: String): String = {
    val dir = root.resolve(subdir)
    deleteTree(dir)
    java.nio.file.Files.createDirectories(dir)
    dir.toString
  }

  def materialize(subdir: String, fileName: String, bytes: Array[Byte]): String = {
    val dir = root.resolve(subdir)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve(fileName), bytes)
    dir.toString
  }
}
