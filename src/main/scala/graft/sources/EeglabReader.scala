package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.{Dataset, SparkSession}

/** S14 EEG raw reader, EEGLAB `.set` (SURVEY.md §2.1): the reference loads
  * these through MNE in
  * `python/loris_ephys_chunker/.../scripts/eeglab_to_chunks.py:1-66`
  * (`_check_load_mat` → channel names → the shared chunk writer). A `.set`
  * file is a MATLAB Level-5 MAT-file whose `EEG` struct carries `data`
  * (channels × samples [× trials] numeric matrix, or the name of a sibling
  * `.fdt` float32 file), `srate`, and `chanlocs(..).labels`.
  *
  * Scope: Level-5 little-endian MAT — tag/payload element walking
  * (including small-element tags), numeric classes double/single/
  * int8..int32, char class, struct arrays (element-major/field-minor
  * subelement order), column-major dimension reshape, the `.fdt` sibling
  * (float32 LE, channel-fastest — MATLAB column-major `fwrite`), v7's
  * zlib-compressed elements (JDK Inflater, zip-bomb bounded), AND v7.3
  * (true HDF5) via [[Hdf5Lite]] — all three `save` formats parse into
  * the same [[SetRecording]]. Anything malformed yields None —
  * untrusted bytes never kill a scan stage. Values stay in file units
  * (µV), matching [[EdfReader]]/[[BrainVisionReader]].
  *
  * Distribution shape: identical to [[CtfReader]] — binaryFile scan over
  * the `.set` headers, task-local sibling `.fdt` stream, zero shuffle
  * before the chunker's groupBy.
  */
object EeglabReader {

  // MAT Level-5 type codes
  private val MiInt8 = 1
  private val MiUInt8 = 2
  private val MiInt16 = 3
  private val MiUInt16 = 4
  private val MiInt32 = 5
  private val MiUInt32 = 6
  private val MiSingle = 7
  private val MiDouble = 9
  private val MiMatrix = 14
  private val MiCompressed = 15
  private val MiUtf8 = 16

  // mxArray class codes
  private val MxChar = 4
  private val MxDouble = 6
  private val MxSingle = 7
  private val MxInt8 = 8
  private val MxUInt8 = 9
  private val MxInt16 = 10
  private val MxUInt16 = 11
  private val MxInt32 = 12
  private val MxUInt32 = 13
  private val MxStruct = 2

  /** One parsed mxArray: numeric (column-major doubles + dims), char, or a
    * struct array (element-major rows of field → value). */
  sealed trait MatValue
  final case class MatNum(dims: Seq[Int], data: Array[Double]) extends MatValue
  final case class MatStr(s: String) extends MatValue
  final case class MatStruct(elems: Seq[Map[String, MatValue]]) extends MatValue

  private final case class Elem(miType: Int, payload: ByteBuffer)

  /** Read the element at the buffer's position (tag + payload, handling
    * the packed small-element form), advancing past its 8-byte padding. */
  private def readElem(b: ByteBuffer): Option[Elem] = {
    if (b.remaining() < 8) return None
    val tag = b.getInt()
    val small = (tag >>> 16) != 0
    val miType = tag & 0xFFFF
    val size = if (small) tag >>> 16 else b.getInt()
    if (small) {
      // small-element data lives in the tag's trailing 4 bytes
      if (size > 4 || b.remaining() < 4) return None
      val payload = b.slice().order(ByteOrder.LITTLE_ENDIAN)
      payload.limit(size)
      b.position(b.position() + 4)
      Some(Elem(miType, payload))
    } else {
      if (size < 0 || b.remaining() < size) return None
      val payload = b.slice().order(ByteOrder.LITTLE_ENDIAN)
      payload.limit(size)
      // MATLAB/scipy write v7 miCOMPRESSED top-level elements UNPADDED;
      // every other full element pads to the next 8-byte boundary. Padding
      // a compressed element would misparse every variable after the first
      // in a multi-variable v7 file.
      val advance = if (miType == MiCompressed) size else (size + 7) / 8 * 8
      b.position(b.position() + math.min(advance, b.remaining()))
      Some(Elem(miType, payload))
    }
  }

  private def numericData(e: Elem): Option[Array[Double]] = {
    val b = e.payload
    val n = b.remaining()
    e.miType match {
      case MiDouble => Some(Array.fill(n / 8)(b.getDouble()))
      case MiSingle => Some(Array.fill(n / 4)(b.getFloat().toDouble))
      case MiInt32 => Some(Array.fill(n / 4)(b.getInt().toDouble))
      case MiUInt32 => Some(Array.fill(n / 4)((b.getInt().toLong & 0xFFFFFFFFL).toDouble))
      case MiInt16 => Some(Array.fill(n / 2)(b.getShort().toDouble))
      case MiUInt16 => Some(Array.fill(n / 2)((b.getShort() & 0xFFFF).toDouble))
      case MiInt8 => Some(Array.fill(n)(b.get().toDouble))
      case MiUInt8 => Some(Array.fill(n)((b.get() & 0xFF).toDouble))
      case _ => None
    }
  }

  private def charData(e: Elem): Option[String] = {
    val b = e.payload
    e.miType match {
      case MiUInt16 | 17 => // miUINT16 / miUTF16
        Some(new String(Array.fill(b.remaining() / 2)(b.getShort().toChar)))
      case MiInt8 | MiUInt8 | MiUtf8 =>
        val a = new Array[Byte](b.remaining()); b.get(a)
        Some(new String(a, "UTF-8"))
      case _ => None
    }
  }

  /** Nesting bound: real EEG structs are < 5 deep; a crafted file encoding
    * tens of thousands of nested struct wrappers would otherwise recurse
    * to StackOverflowError — an Error no scan-stage catch intercepts. */
  private val MaxStructDepth = 32

  /** Parse one miMATRIX payload into a [[MatValue]] (+ array name). */
  private def parseMatrix(buf: ByteBuffer,
      depth: Int = 0): Option[(String, MatValue)] = {
    if (depth > MaxStructDepth) return None
    for {
      flags <- readElem(buf)
      if flags.miType == MiUInt32 && flags.payload.remaining() >= 4
      clazz = flags.payload.getInt() & 0xFF
      dimsE <- readElem(buf)
      if dimsE.miType == MiInt32
      dims = Seq.fill(dimsE.payload.remaining() / 4)(dimsE.payload.getInt())
      nameE <- readElem(buf)
      name <- {
        val a = new Array[Byte](nameE.payload.remaining())
        nameE.payload.get(a)
        Some(new String(a, US_ASCII))
      }
      value <- parseBody(buf, clazz, dims, depth)
    } yield (name, value)
  }

  private def parseBody(buf: ByteBuffer, clazz: Int, dims: Seq[Int],
      depth: Int): Option[MatValue] =
    clazz match {
      case MxDouble | MxSingle | MxInt8 | MxUInt8 | MxInt16 | MxUInt16 |
          MxInt32 | MxUInt32 =>
        readElem(buf).flatMap(numericData).map(MatNum(dims, _))
      case MxChar =>
        readElem(buf).flatMap(charData).map(MatStr(_))
      case MxStruct =>
        for {
          lenE <- readElem(buf)
          if lenE.miType == MiInt32 && lenE.payload.remaining() >= 4
          fieldLen = lenE.payload.getInt()
          if fieldLen > 0 && fieldLen <= 64
          namesE <- readElem(buf)
          if namesE.miType == MiInt8
          nFields = namesE.payload.remaining() / fieldLen
          fields = (0 until nFields).map { i =>
            val a = new Array[Byte](fieldLen)
            namesE.payload.position(i * fieldLen)
            namesE.payload.get(a)
            new String(a.takeWhile(_ != 0), US_ASCII)
          }
          nElems = math.max(dims.product, 0)
          if nElems <= 1000000
          elems <- {
            // element-major, field-minor subelement order
            val out = Seq.newBuilder[Map[String, MatValue]]
            var ok = true
            var e = 0
            while (ok && e < nElems) {
              var m = Map.empty[String, MatValue]
              var f = 0
              while (ok && f < nFields) {
                readElem(buf) match {
                  case Some(el) if el.miType == MiMatrix =>
                    parseMatrix(el.payload, depth + 1) match {
                      case Some((_, v)) => m += fields(f) -> v
                      case None => ok = false
                    }
                  case _ => ok = false
                }
                f += 1
              }
              if (ok) out += m
              e += 1
            }
            if (ok) Some(out.result()) else None
          }
        } yield MatStruct(elems)
      case _ => None // cell/object/sparse out of scope
    }

  /** Zip-bomb bound for v7 decompression: a schema struct + data matrix
    * inflates to the data's true size; 512 MiB covers any sane recording
    * while a crafted bomb stops at the cap and the element is skipped. */
  private val MaxInflatedBytes = 512 << 20

  /** Inflate one miCOMPRESSED (v7) element payload — plain zlib, handled
    * by the JDK's Inflater, no codec dependency. None on corruption or
    * past [[MaxInflatedBytes]]. */
  private def inflate(e: Elem): Option[ByteBuffer] = {
    val in = new Array[Byte](e.payload.remaining())
    e.payload.get(in)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(in)
      val out = new java.io.ByteArrayOutputStream(math.min(in.length * 4, 1 << 20))
      val buf = new Array[Byte](64 * 1024)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && inf.needsInput()) return None // truncated stream
        out.write(buf, 0, n)
        if (out.size() > MaxInflatedBytes) return None
      }
      Some(ByteBuffer.wrap(out.toByteArray).order(ByteOrder.LITTLE_ENDIAN))
    } catch {
      case _: java.util.zip.DataFormatException => None
    } finally inf.end()
  }

  /** Top-level variables of a Level-5 little-endian MAT file: v6
    * uncompressed elements and v7 zlib-compressed elements (inflated with
    * the JDK Inflater — the only thing "v7" adds); v7.3 (HDF5) stays out
    * of scope and fails closed. */
  def parseMat(bytes: Array[Byte]): Option[Map[String, MatValue]] = {
    if (bytes.length < 128) return None
    // header: 116-byte text, 8-byte subsys, version i16, endian i16 "IM"
    if (bytes(126) != 'I'.toByte || bytes(127) != 'M'.toByte) return None
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    b.position(128)
    val out = Map.newBuilder[String, MatValue]
    var go = true
    while (go && b.remaining() >= 8) {
      readElem(b) match {
        case Some(e) if e.miType == MiMatrix =>
          parseMatrix(e.payload) match {
            case Some((name, v)) => out += name -> v
            case None => go = false
          }
        case Some(e) if e.miType == MiCompressed => // v7
          inflate(e).flatMap(readElem) match {
            case Some(inner) if inner.miType == MiMatrix =>
              parseMatrix(inner.payload) match {
                case Some((name, v)) => out += name -> v
                case None => go = false
              }
            case _ => go = false
          }
        case _ => go = false
      }
    }
    Some(out.result())
  }

  final case class SetRecording(
      channelNames: IndexedSeq[String],
      sampleRateHz: Double,
      /** data(c) = channel c's full trace, trials concatenated. */
      data: IndexedSeq[Array[Double]],
      /** Some(name) when samples live in a sibling `.fdt` file. */
      fdtFile: Option[String])

  private def scalarOf(v: MatValue): Option[Double] = v match {
    case MatNum(_, d) if d.nonEmpty => Some(d(0))
    case _ => None
  }

  /** Reshape a column-major [nbchan, pnts(, trials)] block into per-channel
    * traces (trials concatenated along samples — MNE's reshape). */
  private def toTraces(nChan: Int, flat: Array[Double]): IndexedSeq[Array[Double]] = {
    if (nChan <= 0 || flat.length % nChan != 0) return IndexedSeq.empty
    val nSamp = flat.length / nChan
    val out = IndexedSeq.fill(nChan)(new Array[Double](nSamp))
    var i = 0
    while (i < flat.length) {
      out(i % nChan)(i / nChan) = flat(i)
      i += 1
    }
    out
  }

  /** MATLAB v7.3: the same variables as HDF5 objects via [[Hdf5Lite]].
    * MATLAB stores arrays TRANSPOSED (HDF5 dims = reversed MATLAB dims),
    * so the row-major HDF5 linear order IS the column-major MATLAB
    * flatten — the same flat layout the v6 path feeds [[toTraces]]. Char
    * arrays are uint16 datasets; struct arrays (chanlocs) are groups of
    * object-reference datasets resolved against the image. */
  private def v73Value(img: Hdf5Lite.Image, o: Hdf5Lite.HObject,
      depth: Int): Option[MatValue] = {
    if (depth > MaxStructDepth) return None
    o match {
      case Hdf5Lite.HDatasetObj(d) if Hdf5Lite.isCharLike(d) =>
        // MATLAB chars are UNSIGNED u16; a SIGNED 2-byte dataset is int16
        // NUMERIC data and falls through to asDoubles below
        Hdf5Lite.asString(d).map(MatStr(_))
      case Hdf5Lite.HDatasetObj(d) if d.dtypeClass == 7 =>
        // a bare reference array outside a struct group: resolve to the
        // first element's value (not produced by MATLAB for .set fields)
        Hdf5Lite.resolveRefs(img, d)
          .flatMap(_.headOption)
          .flatMap(v73Value(img, _, depth + 1))
      case Hdf5Lite.HDatasetObj(d) =>
        Hdf5Lite.asDoubles(d)
          .map(v => MatNum(d.dims.reverse.map(_.toInt), v))
      case Hdf5Lite.HGroupObj(g) =>
        val ds = g.children.collect {
          case (n, Hdf5Lite.HDatasetObj(d)) => n -> d
        }
        val allRefs = ds.nonEmpty && ds.values.forall(d =>
          d.dtypeClass == 7 && d.elemSize == 8)
        if (allRefs) {
          // struct ARRAY: per-field reference vectors of equal length
          val resolved = ds.map { case (n, d) =>
            Hdf5Lite.resolveRefs(img, d) match {
              case Some(objs) => n -> objs
              case None => return None
            }
          }
          val n = resolved.values.map(_.length).min
          val elems = (0 until n).map { i =>
            resolved.flatMap { case (f, objs) =>
              v73Value(img, objs(i), depth + 1).map(f -> _)
            }.toMap
          }
          Some(MatStruct(elems))
        } else {
          // scalar struct: one element whose fields are the children
          val fields = g.children.flatMap { case (n, child) =>
            v73Value(img, child, depth + 1).map(n -> _)
          }
          Some(MatStruct(Seq(fields)))
        }
    }
  }

  /** v7.3 top-level variables as the v6 walker's [[MatValue]] model.
    * The whole conversion (including reference resolution, which runs
    * AFTER [[Hdf5Lite.parseWithImage]]'s own try) is hardened here:
    * crafted bytes must never kill a scan stage. */
  def parseMatV73(bytes: Array[Byte]): Option[Map[String, MatValue]] =
    try {
      Hdf5Lite.parseWithImage(bytes).flatMap { case (img, root) =>
        val out = Map.newBuilder[String, MatValue]
        root.children.foreach { case (name, o) =>
          v73Value(img, o, 0) match {
            case Some(v) => out += name -> v
            case None => return None
          }
        }
        Some(out.result())
      }
    } catch {
      case _: IndexOutOfBoundsException | _: ArithmeticException |
          _: NegativeArraySizeException | _: OutOfMemoryError => None
    }

  /** Hardened `.set` parse. Accepts both layouts MNE's `_check_load_mat`
    * handles: a single struct variable `EEG`, or the struct fields saved
    * as top-level variables — in MAT v6, v7 (zlib) AND v7.3 (HDF5 via
    * [[Hdf5Lite]]). */
  def parseSet(bytes: Array[Byte]): Option[SetRecording] = {
    val vars0 =
      if (isHdf5V73(bytes)) parseMatV73(bytes) else parseMat(bytes)
    vars0.flatMap { vars =>
      val fields: Map[String, MatValue] = vars.get("EEG") match {
        case Some(MatStruct(Seq(one))) => one
        case _ => vars
      }
      for {
        srate <- fields.get("srate").flatMap(scalarOf)
        nbchan <- fields.get("nbchan").flatMap(scalarOf).map(_.toInt)
        if nbchan > 0 && nbchan <= 100000
        dataV <- fields.get("data")
        names = fields.get("chanlocs") match {
          case Some(MatStruct(elems)) =>
            elems.toIndexedSeq.map(_.get("labels") match {
              case Some(MatStr(s)) => s
              case _ => ""
            })
          case _ => IndexedSeq.empty[String]
        }
        named = if (names.length == nbchan && names.forall(_.nonEmpty)) names
          else (1 to nbchan).map(i => s"E$i")
        rec <- dataV match {
          case MatNum(_, flat) =>
            val traces = toTraces(nbchan, flat)
            if (traces.isEmpty) None
            else Some(SetRecording(named, srate, traces, None))
          case MatStr(fdt) =>
            Some(SetRecording(named, srate, IndexedSeq.empty, Some(fdt)))
          case _ => None
        }
      } yield rec
    }
  }

  /** Decode a sibling `.fdt` payload (float32 LE, channel index fastest —
    * MATLAB column-major `fwrite(fid, EEG.data, 'float32')`). */
  def fdtTraces(nChan: Int, bytes: Array[Byte]): IndexedSeq[Array[Double]] = {
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val flat = Array.fill(bytes.length / 4)(b.getFloat().toDouble)
    toTraces(nChan, flat)
  }

  /** Distributed scan: every `.set` under `dir` parsed partition-parallel;
    * a `data`-as-filename recording reads its `.fdt` task-locally (same
    * sibling pattern as [[CtfReader.channels]]). One
    * [[EphysSource.Channel]] row per channel. */
  def channels(spark: SparkSession, dir: String,
      glob: String = "*.set"): Dataset[EphysSource.Channel] =
    EphysSource.channels(spark, dir, glob) { (_, bytes, sibling) =>
      parseSet(bytes).toSeq.flatMap { rec =>
        val traces = rec.fdtFile match {
          case None => rec.data
          case Some(fdtName) =>
            // EEG.data may carry the writer's directory; the .fdt sits
            // beside the .set
            sibling(fdtName.substring(fdtName.lastIndexOf('/') + 1))
              .map(fdtTraces(rec.channelNames.length, _))
              .getOrElse(IndexedSeq.empty)
        }
        rec.channelNames.zip(traces).map { case (name, vals) =>
          (name, rec.sampleRateHz, vals)
        }
      }
    }

  /** MATLAB v7.3 detection: a v7.3 `.set` is an HDF5 file — the header
    * text starts `MATLAB 7.3` and the HDF5 signature sits at offset 512
    * (after the MATLAB userblock). Routes [[parseSet]] through
    * [[Hdf5Lite]] instead of the Level-5 walker. */
  def isHdf5V73(bytes: Array[Byte]): Boolean = {
    val hdf5Sig = Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n',
      0x1A, '\n')
    def sigAt(off: Int): Boolean =
      bytes.length >= off + 8 &&
        (0 until 8).forall(i => bytes(off + i) == hdf5Sig(i))
    val headerText = bytes.length >= 116 &&
      new String(bytes, 0, 10, US_ASCII) == "MATLAB 7.3"
    headerText || sigAt(0) || sigAt(512)
  }

  final case class EeglabScanAudit(
      file_path: String,
      status: String,
      n_channels: Int)

  /** Diagnostic twin of [[channels]] (same pattern as
    * [[CtfReader.scanAudit]]): one row per `.set` with the parse outcome —
    * `ok` / `hdf5_v73_unreadable` / `parse_failed`. A v7.3 file that does
    * not parse is either CORRUPT or uses an HDF5 shape outside
    * [[Hdf5Lite]]'s MATLAB subset (fractal-heap groups, non-deflate
    * filters, v2+ superblocks) — the status deliberately does not claim
    * which; investigate before converting. */
  def scanAudit(spark: SparkSession, dir: String,
      glob: String = "*.set"): Dataset[EeglabScanAudit] = {
    import spark.implicits._
    DicomSource.scanDir(spark, dir, glob)
      .select("path", "content").as[(String, Array[Byte])]
      .map { case (p, bytes) =>
        parseSet(bytes) match {
          case Some(rec) =>
            EeglabScanAudit(p, "ok",
              rec.channelNames.length)
          case None if isHdf5V73(bytes) =>
            EeglabScanAudit(p, "hdf5_v73_unreadable", 0)
          case None =>
            EeglabScanAudit(p, "parse_failed", 0)
        }
      }
  }
}
