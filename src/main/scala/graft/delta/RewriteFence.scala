package graft.delta

/** Shared guard for append-style incremental feeds (the V1 `readStream`
  * source and [[graft.streaming.DeltaTailer]]): classify one commit's
  * `dataChange` actions and either return the servable adds or fail loudly.
  *
  * An append feed can only represent INSERTS. Three commit shapes would
  * silently corrupt a downstream consumer, so they gate on explicit opt-ins
  * (mirroring the upstream Delta source semantics):
  *
  *  - copy-on-write rewrite (remove + fresh adds): the surviving rows would
  *    re-serve as if new → requires `ignoreChanges`;
  *  - delete-only commit (removes, no adds): the deletions are invisible →
  *    requires `ignoreDeletes` (subsumed by `ignoreChanges`);
  *  - merge-on-read DML (same-path re-add with a deletion-vector pointer):
  *    rows vanished behind the pointer (DV DELETE → `ignoreDeletes`), and
  *    any fresh adds alongside are transformed copies of already-served
  *    rows (DV UPDATE/MERGE → `ignoreChanges`).
  *
  * DV pointer re-adds themselves are never served (no new rows either way);
  * `dataChange = false` adds (compaction) are invisible by protocol
  * (`rust/src/action.rs:166-170`).
  */
object RewriteFence {

  /** Servable adds of `actions`, or IllegalStateException naming the
    * missing opt-in. `declaredSchema`: the stream's fixed data schema,
    * when it has one — a commit dropping/retyping one of its columns
    * fails the stream instead of serving silent nulls. */
  def servableAdds(tablePath: String, version: Long, actions: Seq[Action],
                   ignoreChanges: Boolean, ignoreDeletes: Boolean,
                   allowNameMapping: Boolean = false,
                   declaredSchema: Option[org.apache.spark.sql.types.StructType] = None): Seq[AddAction] = {
    // a mid-stream capability flip (protocol bump past what graft reads,
    // column mapping enable, a schema change under the fixed declared
    // schema) must stop the stream here: the scan-time fence only sees
    // the START snapshot, and files written after e.g. a columnMapping
    // enable would read as all-null through the stream's fixed schema (a
    // feed ALREADY serving the table as name-mapped passes
    // allowNameMapping — see assertCommitServable)
    ProtocolSupport.assertCommitServable(tablePath, version, actions,
      allowNameMapping, declaredSchema)
    // DV-pointer re-adds (add.deletionVector) carry no new rows — never
    // servable
    val adds = actions.collect { case a: AddAction
      if a.dataChange && !DeletionVectors.hasDv(a) => a }
    if (!ignoreChanges) {
      val addPaths = actions.collect {
        case a: AddAction if a.dataChange => a.path }.toSet
      val removedPaths = actions.collect {
        case r: RemoveAction if r.dataChange => r.path }.toSet
      val realRemoves = actions.collect {
        case r: RemoveAction
          if r.dataChange && !addPaths.contains(r.path) => r }
      val dvReAdds = actions.collect { case a: AddAction
        if a.dataChange && DeletionVectors.hasDv(a) &&
          removedPaths.contains(a.path) => a }
      if ((realRemoves.nonEmpty || dvReAdds.nonEmpty) && adds.nonEmpty)
        throw new IllegalStateException(
          s"streaming source found a data rewrite at $tablePath " +
          s"version $version (files removed and added in one commit). " +
          "Rewritten files would be re-served as if new — set " +
          ".option(\"ignoreChanges\", \"true\") to accept that, or stream " +
          "row-level changes via the change data feed instead")
      if ((realRemoves.nonEmpty || dvReAdds.nonEmpty) && adds.isEmpty &&
          !ignoreDeletes)
        throw new IllegalStateException(
          s"streaming source found deleted rows at $tablePath " +
          s"version $version" +
          (if (dvReAdds.nonEmpty) " (deletion-vector re-point)" else "") +
          ". Deletes are invisible to an append stream — " +
          "set .option(\"ignoreDeletes\", \"true\") to accept that")
    }
    adds
  }
}
