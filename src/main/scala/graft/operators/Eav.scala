package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** EAV parameter-store operators (SURVEY.md §1.3 / hard-part 5): the
  * reference keeps per-file metadata as `parameter_file (FileID,
  * ParameterTypeID, Value)` rows against the `parameter_type` dictionary,
  * reads them back as name→value maps (`uploadNeuroDB/NeuroDB/File.pm:113`)
  * and remaps BIDS JSON names onto LORIS/MINC ones via the dictionary's
  * Alias column (`python/lib/imaging.py:531-553`,
  * `python/lib/database_lib/parameter_type.py:46-69`).
  *
  * Scale posture: `parameter_type` is a dictionary of O(10²) rows, so it
  * is collected on the driver once ([[parameterTypes]]) and each operator
  * resolves every parameter row with a lookup in a map literal and an
  * explode: no join and no exchange. The map's values are arrays with one
  * entry per dictionary row, so a repeated key yields the rows a join on
  * it would.
  * The only wide shuffle is the pivot's groupBy(FileID), which is one pass
  * because the value set is DECLARED — `pivot(col, values)` with an
  * explicit list skips the distinct-scan job AND bounds output width
  * (pivoting 100 TB of EAV rows on an open name set is how pivots die).
  */
object Eav {

  /** The `parameter_type` dictionary's (ParameterTypeID, Name, Alias)
    * rows, collected on the driver. */
  final class ParameterTypes private[Eav] (rows: Seq[Row], schema: StructType) {

    /** `key → [value, ...]` over the rows with a non-null `key`, one array
      * entry per row, as a typed map literal. */
    private[Eav] def lookup(key: String, value: String): Column = {
      val (k, v) = (schema.fieldIndex(key), schema.fieldIndex(value))
      val entries = rows.filterNot(_.isNullAt(k)).groupBy(_.get(k))
        .map { case (kv, rs) => kv -> rs.map(_.get(v)) }
      GraftColumnBridge.column(Literal.create(entries,
        MapType(schema(k).dataType, ArrayType(schema(v).dataType))))
    }
  }

  /** Collect the `parameter_type` dictionary once for the operators below. */
  def parameterTypes(parameterType: DataFrame): ParameterTypes = {
    val d = parameterType.select("ParameterTypeID", "Name", "Alias")
    new ParameterTypes(d.collect().toSeq, d.schema)
  }

  /** Read-all-params (`File.pm:113`): long (FileID, Name, Value) rows;
    * a parameter whose type id is NULL or missing from the dictionary
    * keeps a NULL name, as the reference's LEFT JOIN keeps it. */
  def readParams(parameterFile: DataFrame, parameterType: ParameterTypes): DataFrame = {
    val names = parameterType.lookup("ParameterTypeID", "Name")
    parameterFile.select(col("FileID"),
      explode_outer(element_at(names, col("ParameterTypeID"))).as("Name"),
      col("Value"))
  }

  /** Insert-known-params: long (FileID, Name, Value) rows become store
    * rows (FileID, ParameterTypeID, Value); a name the dictionary does not
    * hold is left out of the store. */
  def insertKnownParams(longParams: DataFrame, parameterType: ParameterTypes): DataFrame = {
    val ids = parameterType.lookup("Name", "ParameterTypeID")
    longParams.select(col("FileID"),
      explode(element_at(ids, col("Name"))).as("ParameterTypeID"),
      col("Value"))
  }

  /** Declared-set pivot: one wide row per file over exactly `names`
    * (missing parameters → NULL). `max` is the aggregate because
    * (FileID, Name) is unique in a well-formed store — and deterministic
    * when it isn't. */
  def pivotParams(longParams: DataFrame, names: Seq[String]): DataFrame =
    longParams.groupBy(col("FileID"))
      .pivot("Name", names)
      .agg(max(col("Value")))

  /** BIDS→LORIS name remap (`imaging.py:531-553`): dictionary rows with a
    * non-null Alias map Alias (the BIDS term) → Name (the LORIS/MINC term).
    * Like the reference, remapped entries are ADDED — the original
    * BIDS-named row is kept alongside the LORIS-named copy, both out of
    * one explode over the row's own name and its LORIS names. */
  def bidsToLorisRemap(longParams: DataFrame, parameterType: ParameterTypes): DataFrame = {
    val lorisNames = parameterType.lookup("Alias", "Name")
    longParams.select(longParams.columns.map {
      case "Name" => explode(concat(array(col("Name")),
        coalesce(element_at(lorisNames, col("Name")), array().cast("array<string>"))))
        .as("Name")
      case c => col(c)
    }.toIndexedSeq: _*)
  }
}
