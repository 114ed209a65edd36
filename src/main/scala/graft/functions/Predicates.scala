package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Predicate / scalar Column library.
  *
  * Re-expresses the reference's row-local predicate helpers as pure Catalyst
  * `Column` expressions (whole-stage-codegen friendly; no UDFs):
  *
  *  - `inRange` — reference `python/lib/imaging.py:1260-1299` (`in_range`) and
  *    Perl `uploadNeuroDB/NeuroDB/MRI.pm` `&in_range`: NULL bounds are
  *    unbounded; a NULL value FAILS any bounded check; both-bounds-NULL passes
  *    everything (including NULL values).
  *  - `eqOrBothNull` / `naturalKeyMatch` — reference
  *    `python/lib/database_lib/files.py:40-77` natural-key lookup where an
  *    absent parameter must match `IS NULL` (SQL `<=>`).
  *  - `ciRegex` — case-insensitive regex with the pattern as data
  *    (`python/lib/imaging.py:658-662`).
  *  - `nearest` — `Math::Round::nearest(0.01, x)` rounding of scan params
  *    (`dicom-archive/DICOM/DCMSUM.pm:803-806`).
  *  - `nullifNa` — `'n/a'`/empty-string sentinel nullification
  *    (`python/loris_bids_utils/src/loris_bids_utils/tsv.py:45`).
  */
object Predicates {

  /** NULL-semantics-exact range predicate (reference `in_range`):
    *  - both bounds NULL            -> true (no constraint)
    *  - value NULL, any bound set   -> false
    *  - else min<=value<=max with NULL bound = unbounded on that side.
    */
  def inRange(value: Column, min: Column, max: Column): Column =
    (min.isNull && max.isNull) ||
      (value.isNotNull &&
        (min.isNull || value >= min) &&
        (max.isNull || value <= max))

  def inRange(value: Column, min: Option[Double], max: Option[Double]): Column =
    inRange(
      value,
      min.map(lit(_)).getOrElse(lit(null).cast("double")),
      max.map(lit(_)).getOrElse(lit(null).cast("double"))
    )

  /** Wildcard-eligibility predicate: protocol column NULL = matches anything,
    * else must equal the scan's value (`python/lib/database_lib/mri_protocol.py:56-69`). */
  def eqOrNullWildcard(protocolCol: Column, scanCol: Column): Column =
    protocolCol.isNull || (protocolCol === scanCol)

  /** Null-safe natural-key equality across several columns (SQL `<=>` chain). */
  def naturalKeyMatch(pairs: (Column, Column)*): Column =
    pairs.map { case (a, b) => a <=> b }.reduce(_ && _)

  /** Case-insensitive regex where the pattern itself is a column (regex-as-data). */
  def ciRegex(value: Column, pattern: Column): Column =
    regexp_like(value, concat(lit("(?i)"), pattern))

  def ciRegex(value: Column, pattern: String): Column =
    value.rlike("(?i)" + pattern)

  /** Math::Round::nearest(step, x): round to the nearest multiple of `step`. */
  def nearest(step: Double, value: Column): Column =
    round(value / step) * step

  /** Map `'n/a'` / `''` sentinels to NULL at the ingest boundary. */
  def nullifNa(c: Column): Column =
    when(trim(c) === "" || lower(trim(c)) === "n/a", lit(null)).otherwise(c)

  /** 'Y'/'N' (and '1'/'0') to BooleanType codec
    * (`python/lib/db/decorators/y_n_bool.py`). */
  def ynBool(c: Column): Column =
    when(upper(c).isin("Y", "YES", "TRUE", "1"), lit(true))
      .when(upper(c).isin("N", "NO", "FALSE", "0"), lit(false))
      .otherwise(lit(null).cast("boolean"))

  /** Exact cross-engine decimal sum: values known integral at `decimals`
    * places are scaled to integers, summed exactly (order-independent in
    * IEEE double for |sum| < 2^53), then rescaled. Used to make double
    * aggregates bit-identical between Spark and any oracle engine. */
  def exactDecimalSum(c: Column, decimals: Int): Column = {
    val scale = math.pow(10, decimals)
    sum(round(c * scale).cast("long")) / scale
  }

  /** Integral division (SQL `div`): truncating quotient, exact on longs
    * and DECIMAL(38,0) — the `Column./` operator silently casts longs to
    * double, which loses exactness past 2^53 (invisible at the gate,
    * wrong at 100 TB row counts). Truncation matches every oracle
    * engine's integer `//`/`div` on non-negative operands. */
  def idiv(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  }

  /** SNR stand-in (`MRIProcessingUtility.pm:2166-2168` shells out to an
    * external `noise_estimate` tool — out of engine scope per SURVEY §7.4):
    * a documented deterministic numeric stub, 10·log10(mean² / variance)
    * over a signal array column. */
  def snrStub(values: Column): Column = {
    val n = size(values).cast("double")
    val mean = aggregate(values, lit(0.0), (a, x) => a + x) / n
    val var_ = aggregate(values, lit(0.0),
      (a, x) => a + (x - mean) * (x - mean)) / n
    round(lit(10.0) * log10(mean * mean / var_), 4)
  }
}
