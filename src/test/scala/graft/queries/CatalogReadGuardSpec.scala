package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan

/** Source-scan guard: a query reads a catalog table through
  * [[Tables.table]], which infers each table's schema once. A direct
  * `read.parquet` of a catalog path runs a schema-inference job on every
  * read. */
class CatalogReadGuardSpec extends AnyFunSuite {

  test("catalog tables are read only through Tables under graft/queries") {
    val hits = SourceScan.hits(Seq("src/main/scala/graft/queries"),
      Seq("read.parquet(s\"$dir/"), Set("Tables.scala"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
