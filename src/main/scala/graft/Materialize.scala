package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The engine's one owner of cached intermediates: the only code under
  * `src/main/scala` that persists, releases or names a storage level
  * (`MaterializeGuardSpec` enforces it).
  *
  * An operator whose intermediate feeds several branches pins it inside a
  * scope; the scope cuts the result and then releases every pin, also when
  * the body throws. No caller picks a storage level, a release order or a
  * release-on-failure rule, and no frame leaves a scope still reading a
  * pin. Single-consumer cuts stay direct `localCheckpoint(true|false)`
  * calls: their eager-or-lazy choice is the only decision they carry. */
object Materialize {

  /** The one storage level for pinned intermediates. */
  private val Level = StorageLevel.MEMORY_AND_DISK

  /** A scope's handle: `pin(df)` persists `df` until the scope exits. */
  final class Pin private[Materialize] () {
    private val pinned = ArrayBuffer.empty[DataFrame]
    def apply(df: DataFrame): DataFrame = {
      val p = df.persist(Level)
      pinned += p
      p
    }
    private[Materialize] def release(): Unit = pinned.foreach(_.unpersist())
  }

  private def within[A](body: Pin => A): A = {
    val pin = new Pin
    try body(pin) finally pin.release()
  }

  /** Runs `body`, eagerly cuts the frame it returns (one job), then
    * releases every pin: the result reads only its own checkpoint
    * blocks. */
  def scoped(body: Pin => DataFrame): DataFrame =
    within(pin => body(pin).localCheckpoint(true))

  /** Runs `body` for its side effects (writes), then releases every
    * pin. */
  def run(body: Pin => Unit): Unit = within(body)

  /** Corpus size at and above which [[sized]] stores serialized. */
  val serMinRows: Long = 10000L

  /** Eager cut of an artifact whose storage level follows its size:
    * at or above `serMinRows` corpus rows it stages at
    * MEMORY_AND_DISK_SER — serialized blocks hold ONE byte array per
    * block instead of one object per row, which is what keeps full-suite
    * sf1 runs from GC-scattering around the same shuffle fingerprint
    * (docs/SCALE.md, round-11 note) — while a small artifact keeps the
    * default deserialized level, where the per-access deserialization of
    * a tiny table costs more than the heap it saves (the round-11 sf0.1
    * regression on the miner family). Callers already hold the corpus
    * row count (they size the banding geometry with it), so the choice
    * costs no extra job. */
  def sized(df: DataFrame, rows: Long): DataFrame =
    if (rows >= serMinRows)
      df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    else df.localCheckpoint(true)
}
