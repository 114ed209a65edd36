package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class MaterializeSpec extends SparkSpec {

  private def isPinned(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE

  /** Storage level of the checkpoint a cut frame reads. */
  private def cutLevel(df: DataFrame): StorageLevel =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD =>
      r.rdd.getStorageLevel
    }.get

  test("scoped: pins live inside the scope, released on exit; the cut " +
      "result still reads") {
    var pinned: DataFrame = null
    val out = Materialize.scoped { pin =>
      pinned = pin(spark.range(100).toDF("id"))
      assert(isPinned(pinned))
      pinned.filter(col("id") % 7 === 0).select((col("id") * 2).as("x"))
    }
    assert(!isPinned(pinned))
    // the result reads its own checkpoint, not the released pin
    assert(out.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(out.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 100L by 7L).map(_ * 2))
  }

  test("scoped and run release their pins when the body throws") {
    var a, b: DataFrame = null
    intercept[IllegalStateException](Materialize.scoped { pin =>
      a = pin(spark.range(10).toDF("id"))
      throw new IllegalStateException("body failed")
    })
    intercept[IllegalStateException](Materialize.run { pin =>
      b = pin(spark.range(20).toDF("id"))
      b.count()
      throw new IllegalStateException("write failed")
    })
    assert(!isPinned(a) && !isPinned(b))
  }

  test("sized: deserialized below serMinRows, serialized from it on") {
    def cut(rows: Long) =
      Materialize.sized(spark.range(rows).toDF("id"), rows)
    val small = cut(Materialize.serMinRows - 1)
    val large = cut(Materialize.serMinRows)
    assert(cutLevel(small) == StorageLevel.MEMORY_AND_DISK)
    assert(cutLevel(large) == StorageLevel.MEMORY_AND_DISK_SER)
    assert(small.count() == Materialize.serMinRows - 1)
    assert(large.count() == Materialize.serMinRows)
  }
}
