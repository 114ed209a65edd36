package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata structs.
  *
  * `decodeImageMetaStub` is a deterministic Column STUB (fake metadata
  * from byte length, kept for formats whose codecs this container lacks).
  * Real pure-JVM codecs ([[BmpCodec]], [[PngCodec]], [[WavCodec]], …) run
  * behind one per-partition lifecycle harness, [[decodeRowsPartitioned]]
  * — schema, batch shape, partition-parallel application, open/decode/
  * close lifecycle with task-completion cleanup; a JNI/FFmpeg/ImageIO
  * decoder drops into [[RowDecoder]] without touching callers.
  */
object Multimodal {

  /** STUB decoder: deterministic metadata from byte length and the first
    * byte. A real implementation decodes headers (PNG/JPEG/WAV…) inside
    * `mapPartitions` with a per-partition codec. */
  def decodeImageMetaStub(bin: Column): Column = {
    val size = length(bin).cast("long")
    val firstByteHex = upper(hex(substring(bin, 1, 1)))
    struct(
      size.as("byte_size"),
      firstByteHex.as("magic"),
      (pmod(size, lit(640)) + 1).cast("int").as("width"),
      (pmod(size, lit(480)) + 1).cast("int").as("height"),
      (pmod(size, lit(24)) + 1).cast("int").as("n_frames")
    )
  }

  /** Attach decoded metadata to a binary payload column. */
  def withImageMeta(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("image_meta", decodeImageMetaStub(col(binCol)))

  /** Pluggable per-partition codec: `open()` once per partition (codec
    * contexts, model weights), `decode` per payload, `close()` at partition
    * end. The decoder declares its own output schema (codec-specific
    * stats, embeddings, …). The production swap point — a
    * JNI/FFmpeg/ImageIO decoder drops in without touching the dataflow.
    *
    * IMPLEMENT AS A CLASS, NOT A SCALA `object`, when open/close manage
    * real resources: task closures deserialize per task (own instance),
    * but a Scala object's readResolve returns the JVM SINGLETON — two
    * concurrent tasks on one executor would share it, and one task's
    * completion close() would free the codec context mid-decode of the
    * other. (The stateless decoders in this package are exempt.) */
  trait RowDecoder extends Serializable {
    def open(): Unit = ()
    def close(): Unit = ()
    def schema: StructType
    /** One value per [[schema]] field; nulls allowed (decode failure). */
    def decode(bytes: Array[Byte]): Seq[Any]
  }

  /** The production decode harness — the batched `mapPartitions` shape
    * `mapInPandas` maps to on the JVM: appends the [[RowDecoder]]'s fields
    * to each input row, ONE decoder instance per partition (open/close
    * lifecycle), streaming iterator (no partition materialization). At
    * 100 TB the input arrives partition-parallel from the binaryFile scan
    * and nothing shuffles. */
  def decodeRowsPartitioned(df: DataFrame, binCol: String,
      decoder: RowDecoder): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ decoder.schema.fields)
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    df.mapPartitions { it =>
      decoder.open()
      val close = closeOnce(decoder.close _)
      // close at TASK completion, not iterator exhaustion: a downstream
      // limit/take abandons the iterator early and would otherwise leak
      // the decoder's resources (and repeated hasNext would double-close)
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => close()))
      val wrapped = it.map { row =>
        val bytes = row.getAs[Array[Byte]](binIdx)
        // null payload -> all-null decoder fields (the decodeImageMetaStub
        // twin's behavior), never a decoder NPE
        val fields = if (bytes == null) decoder.schema.map(_ => null)
          else decoder.decode(bytes)
        org.apache.spark.sql.Row.fromSeq(row.toSeq ++ fields)
      }
      exhaustionFallback(wrapped, close)
    }(enc)
  }

  /** Cheap magic-byte media-type sniff — the intake-triage dispatch in
    * front of the per-format decoders (runs on a bounded prefix; no
    * decode work). Returns one of bmp/png/jpeg/wav/avi/mp4/other. */
  def detectType(bytes: Array[Byte]): String = {
    def tag(o: Int) = if (bytes.length >= o + 4)
      new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    else ""
    if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') "bmp"
    else if (bytes.length >= 8 && (bytes(0) & 0xFF) == 0x89 &&
      tag(1).startsWith("PNG")) "png"
    else if (bytes.length >= 2 && (bytes(0) & 0xFF) == 0xFF &&
      (bytes(1) & 0xFF) == 0xD8) "jpeg"
    else if (tag(0) == "RIFF" && tag(8) == "WAVE") "wav"
    else if (tag(0) == "RIFF" && tag(8) == "AVI ") "avi"
    else if (tag(4) == "ftyp") "mp4"
    else "other"
  }

  /** Idempotent close wrapper. */
  private def closeOnce(close: () => Unit): () => Unit = {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    () => if (done.compareAndSet(false, true)) close()
  }

  /** Exhaustion-close fallback for non-task contexts; the idempotent
    * wrapper makes it safe alongside the task-completion listener. */
  private def exhaustionFallback[T](it: Iterator[T],
      close: () => Unit): Iterator[T] =
    new Iterator[T] {
      def hasNext: Boolean = {
        val h = it.hasNext
        if (!h) close()
        h
      }
      def next(): T = it.next()
    }
}
