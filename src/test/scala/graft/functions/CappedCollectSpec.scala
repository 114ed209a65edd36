package graft.functions

import graft.SparkSpec
import graft.functions.expressions.{CappedCollect, CappedMembers}
import graft.functions.expressions.CappedCollect.capped
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The capped collect keeps a group's members up to `maxSize` and gives
  * null past it, whatever the partitioning, the aggregation path (hash or
  * sort fallback) and the buffer's round trips through serialization. */
class CappedCollectSpec extends SparkSpec {

  /** key -> sorted members (None when the group is over the cap). */
  private def groups(df: DataFrame, maxSize: Long): Map[Long, Option[Seq[Long]]] =
    df.groupBy(col("k")).agg(capped(col("v"), maxSize).as("ds"))
      .collect().map { r =>
        r.getLong(0) -> Option(r.getSeq[Long](1)).map(_.sorted)
      }.toMap

  test("exactly maxSize members are kept; maxSize + 1 gives null") {
    import spark.implicits._
    val df = ((1L to 5L).map(v => (1L, v)) ++ (1L to 6L).map(v => (2L, v)))
      .toDF("k", "v")
    val out = groups(df, 5L)
    assert(out(1L) == Some(1L to 5L))
    assert(out(2L).isEmpty)
  }

  test("four input partitions, each under the cap, over it in total") {
    // key 0: 12 rows, 3 per partition; key 1: 8 rows, 2 per partition
    val df = spark.range(0L, 20L, 1L, 4)
      .select(when(col("id") % 5 < 3, 0L).otherwise(1L).as("k"),
        col("id").as("v"))
    assert(df.rdd.getNumPartitions == 4)
    val perPart = df.rdd.glom().collect()
      .map(_.groupBy(_.getLong(0)).view.mapValues(_.length).toMap)
    assert(perPart.forall(_.values.forall(_ <= 3)))
    val out = groups(df, 10L)
    assert(out(0L).isEmpty, "12 members over a cap of 10 across partitions")
    assert(out(1L) == Some(Seq(3L, 4L, 8L, 9L, 13L, 14L, 18L, 19L)))
  }

  test("buffer serialize/deserialize round trip, an over-cap buffer too") {
    val member = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("hash", LongType, nullable = false)))
    val agg = CappedCollect(BoundReference(0, member, nullable = false), 3L)
    def fill(ids: Seq[Long]): CappedMembers =
      ids.foldLeft(agg.createAggregationBuffer())((b, i) =>
        agg.update(b, InternalRow(InternalRow(i, i * 10))))
    def ids(b: CappedMembers): Option[Seq[Long]] =
      Option(agg.eval(b)).map { a =>
        val arr = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        (0 until arr.numElements()).map { i =>
          val m = arr.getStruct(i, 2)
          assert(m.getLong(1) == m.getLong(0) * 10)
          m.getLong(0)
        }
      }
    def trip(b: CappedMembers) = agg.deserialize(agg.serialize(b))
    val under = trip(fill(Seq(1L, 2L)))
    assert(under.count == 2L && ids(under) == Some(Seq(1L, 2L)))
    val empty = trip(agg.createAggregationBuffer())
    assert(empty.count == 0L && ids(empty) == Some(Nil))
    val overBuf = fill(Seq(1L, 2L, 3L, 4L, 5L))
    val overBytes = agg.serialize(overBuf)
    // over the cap, the buffer is its count alone
    assert(overBytes.length < agg.serialize(fill(Seq(1L))).length)
    val over = agg.deserialize(overBytes)
    assert(over.count == 5L && ids(over).isEmpty)
    // merging round-tripped buffers: 2 + 1 stays within the cap, one
    // more member tips it over, and an over-cap side stays over
    val merged = agg.merge(trip(fill(Seq(1L, 2L))), trip(fill(Seq(3L))))
    assert(ids(trip(merged)) == Some(Seq(1L, 2L, 3L)))
    assert(ids(agg.merge(merged, trip(fill(Seq(4L))))).isEmpty)
    assert(ids(agg.merge(trip(fill(Nil)), over)).isEmpty)
  }

  test("the sort-based fallback: more than 128 keys in one task") {
    // 1000 keys in one input partition: the object hash aggregate falls
    // back to sort once it holds more than 128 keys
    val df = spark.range(0L, 5000L, 1L, 1)
      .select((col("id") % 1000).as("k"), col("id").as("v"))
      .filter(col("k") % 7 =!= 0 || col("v") < 1000)
    val out = groups(df, 4L)
    assert(out.size == 1000)
    (0L until 1000L).foreach { k =>
      if (k % 7 == 0) assert(out(k) == Some(Seq(k)))
      else assert(out(k).isEmpty, s"key $k has 5 members over a cap of 4")
    }
    assert(groups(df, 5L)(1L) == Some(Seq(1L, 1001L, 2001L, 3001L, 4001L)))
  }

  test("null inputs are skipped: neither counted nor kept") {
    import spark.implicits._
    val df = Seq((1L, Some(1L)), (1L, None), (1L, Some(2L)), (1L, None),
      (2L, None)).toDF("k", "v")
    val out = groups(df, 2L)
    assert(out(1L) == Some(Seq(1L, 2L)))
    assert(out(2L) == Some(Nil))
  }

  test("seeded: equals the count + left-semi + collect_list formulation") {
    import spark.implicits._
    // the count-first shed the capped collect replaces, written out: count
    // each group, keep the keys within [minSize, maxSize], semi-join the
    // rows back to them and collect the survivors
    def countFirst(df: DataFrame, minSize: Long, maxSize: Long) = {
      val kept = df.groupBy(col("k")).agg(count(lit(1)).as("n"))
        .filter(col("n").between(minSize, maxSize)).select(col("k"))
      df.join(kept, Seq("k"), "left_semi")
        .groupBy(col("k")).agg(collect_list(col("v")).as("ds"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).sorted).toMap
    }
    def oneAggregate(df: DataFrame, minSize: Long, maxSize: Long) =
      df.groupBy(col("k")).agg(capped(col("v"), maxSize).as("ds"))
        .filter(col("ds").isNotNull && size(col("ds")) >= minSize)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).sorted).toMap
    for (seed <- Seq(3L, 17L, 101L)) {
      val rnd = new scala.util.Random(seed)
      // skewed group sizes: many singletons, some mid-size groups and a
      // few groups far over the cap
      val rows = (0 until 300).flatMap { k =>
        val n = rnd.nextInt(10) match {
          case 0 => 50 + rnd.nextInt(200)
          case 1 | 2 | 3 => 2 + rnd.nextInt(20)
          case _ => 1
        }
        Seq.fill(n)((k.toLong, rnd.nextLong()))
      }
      val df = rows.toDF("k", "v").repartition(4)
      for ((lo, hi) <- Seq((1L, 10L), (2L, 10L), (2L, 50L), (2L, Long.MaxValue))) {
        val want = countFirst(df, lo, hi)
        assert(oneAggregate(df, lo, hi) == want,
          s"seed $seed, bounds [$lo, $hi]")
        assert(want.nonEmpty)
      }
    }
  }
}
