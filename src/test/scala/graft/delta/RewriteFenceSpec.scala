package graft.delta

import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage of the shared append-feed guard — every commit shape ×
  * opt-in combination, with no Spark session in the loop (the end-to-end
  * behavior is driven through streams in GraftDeltaSourceSpec). */
class RewriteFenceSpec extends AnyFunSuite {

  private def add(path: String, dv: Option[String] = None,
                  dataChange: Boolean = true): AddAction =
    AddAction(path, 100L, Map.empty, 0L, dataChange,
      deletionVector = dv.map(d => StandardDv.Descriptor("u", d, Some(1), 40, 1L).json))
  /** A Z85-encoded DV file id (20 chars), as a "u" descriptor carries. */
  private val DvId = StandardDv.Z85.encode(new Array[Byte](16))
  private def remove(path: String, dataChange: Boolean = true): RemoveAction =
    RemoveAction(path, 0L, dataChange)

  private def serve(actions: Seq[Action], ignoreChanges: Boolean = false,
                    ignoreDeletes: Boolean = false): Seq[String] =
    RewriteFence.servableAdds("/t", 1L, actions, ignoreChanges, ignoreDeletes)
      .map(_.path)

  test("append commit serves its adds, no opt-in needed") {
    assert(serve(Seq(add("a"), add("b"))) == Seq("a", "b"))
  }

  test("compaction (dataChange=false both sides) is invisible") {
    assert(serve(Seq(remove("a", dataChange = false),
                     add("c", dataChange = false))).isEmpty)
  }

  test("copy-on-write rewrite needs ignoreChanges; then serves the rewrite") {
    val commit = Seq(remove("a"), add("b"))
    val e = intercept[IllegalStateException](serve(commit))
    assert(e.getMessage.contains("ignoreChanges"))
    // ignoreDeletes is NOT enough — there are new files
    intercept[IllegalStateException](serve(commit, ignoreDeletes = true))
    assert(serve(commit, ignoreChanges = true) == Seq("b"))
  }

  test("delete-only commit needs ignoreDeletes (or ignoreChanges)") {
    val commit = Seq(remove("a"))
    val e = intercept[IllegalStateException](serve(commit))
    assert(e.getMessage.contains("ignoreDeletes"))
    assert(serve(commit, ignoreDeletes = true).isEmpty)
    assert(serve(commit, ignoreChanges = true).isEmpty)
  }

  test("DV DELETE (same-path re-add with DV pointer) gates like a delete") {
    val commit = Seq(remove("a"), add("a", dv = Some(DvId)))
    val e = intercept[IllegalStateException](serve(commit))
    assert(e.getMessage.contains("ignoreDeletes") &&
      e.getMessage.contains("deletion-vector"))
    // the pointer re-add itself is never served
    assert(serve(commit, ignoreDeletes = true).isEmpty)
  }

  test("DV UPDATE (pointer re-add + fresh copies) gates like a rewrite") {
    val commit = Seq(remove("a"), add("a", dv = Some(DvId)), add("b"))
    val e = intercept[IllegalStateException](serve(commit, ignoreDeletes = true))
    assert(e.getMessage.contains("ignoreChanges"))
    assert(serve(commit, ignoreChanges = true) == Seq("b"))
  }

  test("a pre-existing DV pointer on a FRESH path is not a re-point") {
    // e.g. RESTORE re-adds a DV-tagged entry whose path was not removed in
    // the same commit alongside other changes: the DV add serves nothing,
    // but it alone must not trip the delete fence
    assert(serve(Seq(add("a", dv = Some(DvId)))).isEmpty)
  }
}
