package graft.delta

import graft.SparkTestBase
import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

/** Domain metadata (Delta protocol `domainMetadata` action / writer
  * feature): replay semantics, protocol fencing, checkpoint round-trips,
  * conflict detection, RESTORE/CLONE carriage, feed transparency. */
class DomainMetadataSpec extends AnyFunSuite with SparkTestBase {
  import LogFixtures.tempTable
  import spark.implicits._

  private def freshTable(name: String): (String, DeltaTable) = {
    val dir = tempTable(name).toString
    GraftWriter.write((0 until 10).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir)
    (dir, DeltaTable.forPath(spark, dir))
  }

  test("json codec round-trips domainMetadata, removed default false") {
    val d = DomainMetadataAction("delta.clustering", """{"clusteringColumns":[["id"]]}""")
    val line = ActionCodec.toJsonLine(d)
    assert(line.contains("\"domainMetadata\""))
    assert(ActionCodec.fromJsonLine(line).contains(d))
    // foreign minimal form: no removed field
    val parsed = ActionCodec.fromJsonLine(
      """{"domainMetadata":{"domain":"x","configuration":"c"}}""")
    assert(parsed.contains(DomainMetadataAction("x", "c", removed = false)))
  }

  test("a domain in GraftWriter extraActions declares the feature in the commit's one protocol action") {
    def assertDeclared(dir: String, v: Long): Unit = {
      val log = DeltaLog.forPath(spark, dir)
      assert(log.readCommit(v).count(_.isInstanceOf[ProtocolAction]) == 1,
        s"exactly one protocol action at v$v")
      val snap = log.update()
      val feats = snap.writerFeatures.getOrElse(Set.empty)
      assert(snap.minWriterVersion == 7 && feats.contains("domainMetadata"), s"$feats")
      assert(feats.contains("appendOnly") && feats.contains("invariants"),
        s"writer-2 legacy capabilities must be named on features: $feats")
      assert(snap.domainMetadata.get("app.extra").contains("1"))
    }
    val dm = Seq(DomainMetadataAction("app.extra", "1"))
    // plain append onto a writer-2 table
    val (appendDir, _) = freshTable("dm-extra-append")
    assert(DeltaLog.forPath(spark, appendDir).update().minWriterVersion == 2)
    assertDeclared(appendDir, GraftWriter.write(Seq((10L, "a")).toDF("id", "v"),
      appendDir, SaveMode.Append, extraActions = dm))
    // a declared table takes no second lift
    val again = GraftWriter.write(Seq((11L, "b")).toDF("id", "v"), appendDir,
      SaveMode.Append, extraActions = Seq(DomainMetadataAction("app.extra", "2")))
    assert(!DeltaLog.forPath(spark, appendDir).readCommit(again)
      .exists(_.isInstanceOf[ProtocolAction]))
    // a fresh create
    val createDir = tempTable("dm-extra-create").toString
    assertDeclared(createDir, GraftWriter.write(Seq((1L, "a")).toDF("id", "v"),
      createDir, extraActions = dm))
    // a schema-replacing overwrite whose new metadata is folded in too
    val (replaceDir, _) = freshTable("dm-extra-replace")
    assertDeclared(replaceDir, GraftWriter.write(Seq((1L, 2)).toDF("id", "w"),
      replaceDir, SaveMode.Overwrite, overwriteSchema = true,
      configuration = Some(Map("app.key" -> "x")), extraActions = dm))
  }

  test("set / latest-wins / remove replay into snapshot state") {
    val (dir, t) = freshTable("dm-replay")
    t.setDomainMetadata("app.lineage", "run-1")
    assert(DeltaTable.forPath(spark, dir).domainMetadata == Map("app.lineage" -> "run-1"))
    t.setDomainMetadata("app.lineage", "run-2")
    t.setDomainMetadata("other", "o")
    assert(DeltaTable.forPath(spark, dir).domainMetadata ==
      Map("app.lineage" -> "run-2", "other" -> "o"))
    t.removeDomainMetadata("app.lineage")
    assert(DeltaTable.forPath(spark, dir).domainMetadata == Map("other" -> "o"))
    // removing an absent domain is loud
    intercept[IllegalArgumentException](t.removeDomainMetadata("app.lineage"))
  }

  test("first domain write lifts protocol to writer 7 with the feature and implied legacy set") {
    val (dir, t) = freshTable("dm-protocol")
    val before = DeltaLog.forPath(spark, dir).update()
    assert(before.minWriterVersion < 7)
    t.setDomainMetadata("d", "c")
    val after = DeltaLog.forPath(spark, dir).update()
    assert(after.minWriterVersion == 7)
    val feats = after.writerFeatures.getOrElse(Set.empty)
    assert(feats.contains("domainMetadata"))
    // writer-2 legacy capabilities must be NAMED once on features
    assert(feats.contains("appendOnly") && feats.contains("invariants"))
    // a second domain write does not re-bump
    val v = t.setDomainMetadata("d2", "c2")
    assert(!DeltaLog.forPath(spark, dir).readCommit(v).exists(_.isInstanceOf[ProtocolAction]))
    // and the table still reads/writes through graft
    GraftWriter.write(Seq((99L, "x")).toDF("id", "v"), dir, SaveMode.Append)
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 11)
  }

  test("domains survive a checkpoint cold load; plain tables keep the 5-column checkpoint") {
    val (dir, t) = freshTable("dm-checkpoint")
    t.setDomainMetadata("keep", "k")
    t.setDomainMetadata("drop", "d")
    t.removeDomainMetadata("drop")
    val log = DeltaLog.forPath(spark, dir)
    val cp = log.checkpoint()
    // cold load from the checkpoint (fresh log object)
    val cold = DeltaLog.forPath(spark, dir).update()
    assert(cold.domainMetadata == Map("keep" -> "k"))
    // the checkpoint parquet carries the domain column…
    val cpDf = spark.read.parquet(log.checkpointPaths(cp).head.toString)
    assert(cpDf.columns.contains("domainMetadata"))
    assert(cpDf.filter("domainMetadata.domain = 'keep'").count() == 1)
    assert(cpDf.filter("domainMetadata is not null").count() == 1) // removed one absent
    // …while a domain-free table checkpoints in the reference's exact layout
    val (dir2, _) = freshTable("dm-checkpoint-plain")
    val log2 = DeltaLog.forPath(spark, dir2)
    val cp2 = log2.checkpoint()
    val cols2 = spark.read.parquet(log2.checkpointPaths(cp2).head.toString).columns.toSeq
    assert(cols2 == Seq("txn", "add", "remove", "metaData", "protocol"))
  }

  test("concurrent same-domain writes conflict; different domains commute") {
    val (dir, _) = freshTable("dm-conflict")
    DeltaTable.forPath(spark, dir).setDomainMetadata("d", "v0")

    val log1 = DeltaLog.forPath(spark, dir); log1.update()
    val log2 = DeltaLog.forPath(spark, dir); log2.update()
    val t1 = log1.startTransaction().addAction(DomainMetadataAction("d", "v1"))
    val t2 = log2.startTransaction().addAction(DomainMetadataAction("d", "v2"))
    t1.commit()
    intercept[ConcurrentDomainMetadataException](t2.commit())

    val log3 = DeltaLog.forPath(spark, dir); log3.update()
    val log4 = DeltaLog.forPath(spark, dir); log4.update()
    val t3 = log3.startTransaction().addAction(DomainMetadataAction("a", "1"))
    val t4 = log4.startTransaction().addAction(DomainMetadataAction("b", "2"))
    t3.commit()
    t4.commit() // disjoint domains: no conflict
    assert(DeltaTable.forPath(spark, dir).domainMetadata ==
      Map("d" -> "v1", "a" -> "1", "b" -> "2"))
  }

  test("RESTORE reverts domain metadata to the target version's state") {
    val (dir, t) = freshTable("dm-restore")
    t.setDomainMetadata("stay", "s1")        // v1
    val pin = DeltaLog.forPath(spark, dir).update().version
    t.setDomainMetadata("stay", "s2")        // changed after pin
    t.setDomainMetadata("added-later", "x")  // added after pin
    t.restoreToVersion(pin)
    assert(DeltaTable.forPath(spark, dir).domainMetadata == Map("stay" -> "s1"))
  }

  test("CLONE copies live domains (incl. system ones via clusterBy) and the source protocol") {
    val (src, t) = freshTable("dm-clone-src")
    t.clusterBy(Seq("id")) // system domain through its dedicated API
    DeltaTable.forPath(spark, src).setDomainMetadata("app.meta", "m1")
    val dst = tempTable("dm-clone-dst").toString
    Clone.shallow(spark, src, dst)
    val cloned = DeltaLog.forPath(spark, dst).update()
    assert(cloned.domainMetadata == Map(
      "delta.clustering" -> """{"clusteringColumns":[["id"]]}""",
      "app.meta" -> "m1"))
    assert(cloned.minWriterVersion == 7)
    assert(cloned.writerFeatures.getOrElse(Set.empty).contains("domainMetadata"))
    // the user API refuses system domains — dedicated APIs own them
    intercept[IllegalArgumentException](
      DeltaTable.forPath(spark, dst).setDomainMetadata("delta.rowTracking", "{}"))
    intercept[IllegalArgumentException](
      DeltaTable.forPath(spark, dst).removeDomainMetadata("delta.clustering"))
  }

  test("a domain-only commit is transparent to append feeds") {
    val (dir, t) = freshTable("dm-feed")
    val v = t.setDomainMetadata("d", "c")
    val acts = DeltaLog.forPath(spark, dir).readCommit(v)
    val adds = RewriteFence.servableAdds(dir, v, acts,
      ignoreChanges = false, ignoreDeletes = false)
    assert(adds.isEmpty) // no data, no refusal
  }

  test("foreign writer-7 table declaring domainMetadata/clustering is writable") {
    val (dir, _) = freshTable("dm-foreign")
    val log = DeltaLog.forPath(spark, dir)
    val snap = log.update()
    log.startTransaction()
      .addAction(ProtocolAction(1, 7, None,
        Some(ProtocolSupport.impliedWriterFeatures(snap.minWriterVersion) ++
          Set("domainMetadata", "clustering"))))
      .addAction(DomainMetadataAction("delta.clustering", """{"clusteringColumns":[["id"]]}"""))
      .commit()
    // graft can still append (clustering is best-effort layout) and the
    // domain survives both the append and a checkpoint
    GraftWriter.write(Seq((42L, "y")).toDF("id", "v"), dir, SaveMode.Append)
    DeltaLog.forPath(spark, dir).checkpoint()
    val cold = DeltaLog.forPath(spark, dir).update()
    assert(cold.domainMetadata.contains("delta.clustering"))
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 11)
  }
}
