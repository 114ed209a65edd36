package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EavSpec extends SparkSpec {
  import spark.implicits._

  private lazy val ptRows = Seq(
    (1L, "acquisition:repetition_time", Some("RepetitionTime")),
    (2L, "acquisition:echo_time", Some("EchoTime")),
    (3L, "acquisition:slice_thickness", Option.empty[String])
  ).toDF("ParameterTypeID", "Name", "Alias")
  private lazy val pt = Eav.parameterTypes(ptRows)

  test("readParams: left join keeps unknown type ids with NULL name (File.pm:113)") {
    val pf = Seq((10L, Some(1L), "2300"), (10L, Some(2L), "2.98"),
      (11L, Some(99L), "?"), (12L, None, "!"))
      .toDF("FileID", "ParameterTypeID", "Value")
    val out = Eav.readParams(pf, pt).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2))).toSet
    assert(out == Set(
      (10L, Some("acquisition:repetition_time"), "2300"),
      (10L, Some("acquisition:echo_time"), "2.98"),
      (11L, None, "?"), (12L, None, "!")))
  }

  test("bidsToLorisRemap ADDS loris-named copies, keeps originals (imaging.py:531-553)") {
    val long = Seq((10L, "RepetitionTime", "2300"), (10L, "Unmapped", "x"))
      .toDF("FileID", "Name", "Value")
    val out = Eav.bidsToLorisRemap(long, pt).collect()
      .map(r => (r.getString(1), r.getString(2))).toSet
    assert(out == Set(
      ("RepetitionTime", "2300"),
      ("acquisition:repetition_time", "2300"),
      ("Unmapped", "x")))
  }

  test("a repeated Alias or Name keeps the join's row multiplicity") {
    // Alias RepetitionTime names two LORIS terms; acquisition:echo_time
    // has two type ids; the (Alias, Name) pair of id 5 repeats id 1's
    val dup = Eav.parameterTypes(ptRows.union(Seq(
      (4L, "acquisition:tr_ms", Some("RepetitionTime")),
      (5L, "acquisition:repetition_time", Some("RepetitionTime")),
      (6L, "acquisition:echo_time", Option.empty[String])
    ).toDF("ParameterTypeID", "Name", "Alias")))
    val long = Seq((10L, "RepetitionTime", "2300"), (10L, "EchoTime", "2.98"))
      .toDF("FileID", "Name", "Value")
    val remapped = Eav.bidsToLorisRemap(long, dup)
    assert(remapped.collect().map(_.getString(1)).sorted.toSeq == Seq(
      "EchoTime", "RepetitionTime", "acquisition:echo_time",
      "acquisition:repetition_time", "acquisition:repetition_time",
      "acquisition:tr_ms"))
    val store = Eav.insertKnownParams(remapped, dup).collect()
      .map(r => (r.getLong(1), r.getString(2))).sorted.toSeq
    assert(store == Seq((1L, "2300"), (1L, "2300"), (2L, "2.98"), (4L, "2300"),
      (5L, "2300"), (5L, "2300"), (6L, "2.98")))
  }

  test("insertKnownParams: a name missing from the dictionary is left out of the store") {
    val long = Seq((10L, "acquisition:echo_time", "2.98"), (10L, "Unmapped", "x"),
      (11L, null, "y")).toDF("FileID", "Name", "Value")
    val out = Eav.insertKnownParams(long, pt).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(out == Seq((10L, 2L, "2.98")))
  }

  test("the remap, store and read chain plans no join") {
    val long = spark.range(0, 20).select(col("id").as("FileID"),
      lit("RepetitionTime").as("Name"), col("id").cast("string").as("Value"))
    val out = Eav.readParams(
      Eav.insertKnownParams(Eav.bidsToLorisRemap(long, pt), pt), pt)
    assert(out.collect().length == 20)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"), plan)
  }

  test("pivotParams: declared-set wide rows, missing params NULL") {
    val long = Seq(
      (10L, "acquisition:repetition_time", "2300"),
      (10L, "acquisition:echo_time", "2.98"),
      (11L, "acquisition:echo_time", "3.10"))
      .toDF("FileID", "Name", "Value")
    val out = Eav.pivotParams(long,
      Seq("acquisition:repetition_time", "acquisition:echo_time"))
      .orderBy(col("FileID")).collect()
    assert(out(0).getLong(0) == 10L && out(0).getString(1) == "2300" &&
      out(0).getString(2) == "2.98")
    assert(out(1).getLong(0) == 11L && out(1).isNullAt(1) &&
      out(1).getString(2) == "3.10")
  }
}
