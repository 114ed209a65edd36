package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard: [[Materialize]] is the only owner of cached
  * intermediates. A hand-paired persist/unpersist elsewhere is how
  * storage levels drifted apart, releases were skipped on failure, and
  * cached frames leaked to callers that had to remember to free them. */
class MaterializeGuardSpec extends AnyFunSuite {

  test("persist, unpersist and StorageLevel appear only in Materialize") {
    val hits = SourceScan.hits(Seq("src/main/scala"),
      Seq(".persist(", ".unpersist(", "StorageLevel"),
      Set("Materialize.scala"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
