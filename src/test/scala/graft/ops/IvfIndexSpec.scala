package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[IvfIndex]]: the IVF index as committed graft tables — build, probe
  * with partition pruning, incremental refresh on append, recall@10 vs the
  * brute-force oracle (r12 verdict #8). */
class IvfIndexSpec extends AnyFunSuite with SparkTestBase {

  private def root(name: String): String = {
    // under target/ — deleteOnExit can't remove non-empty dirs, so /tmp
    // would accrete one committed index per run (r13 review); sbt clean
    // owns target/'s lifetime
    val d = new java.io.File(
      s"target/ivfindex-$name-${java.util.UUID.randomUUID()}")
    d.mkdirs()
    d.getAbsolutePath
  }

  private lazy val vecs =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def recallAt10(idxRoot: String, queryIds: Seq[Long], nProbe: Int,
                         corpus: org.apache.spark.sql.DataFrame): Double = {
    import spark.implicits._
    val hits = queryIds.map { qid =>
      val qv = corpus.filter(col("vec_id") === qid)
        .select("embedding").as[Array[Float]].head()
      val got = IvfIndex.topK(spark, idxRoot, qv, k = 10, nProbe = nProbe)
        .select("id").as[Long].collect().toSet
      val truth = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", qid, 10)
        .select("vec_id").as[Long].collect().toSet
      (got intersect truth).size / 10.0
    }
    hits.sum / hits.size
  }

  test("build → topK: partition-pruned probe, recall@10 vs brute force") {
    val r = root("build")
    IvfIndex.build(spark, vecs, "vec_id", "embedding", r, nClusters = 8)
    // the probe must PRUNE: with nProbe=2 of 8 clusters, the posting scan
    // reads only the probed partitions' files
    import spark.implicits._
    val qv = vecs.filter(col("vec_id") === 0)
      .select("embedding").as[Array[Float]].head()
    val res = IvfIndex.topK(spark, r, qv, k = 10, nProbe = 2)
    val files = res.inputFiles.filter(_.contains("postings"))
    val clustersTouched = files.flatMap(
      "cluster=(\\d+)".r.findFirstMatchIn(_).map(_.group(1))).toSet
    assert(files.nonEmpty && clustersTouched.size <= 2,
      s"probe must touch ≤ nProbe partitions, got $clustersTouched")
    // recall: probing half the clusters on clusterable data
    val r10 = recallAt10(r, Seq(0L, 7L, 23L, 41L, 77L), nProbe = 4, vecs)
    assert(r10 >= 0.7, s"recall@10 $r10 below 0.7 at nProbe=4/8")
    // exhaustive probe = exact: recall 1 by construction
    assert(recallAt10(r, Seq(3L, 19L), nProbe = 8, vecs) == 1.0)
  }

  test("refresh appends only NEW vectors and they become searchable") {
    import spark.implicits._
    val r = root("refresh")
    val base = vecs.filter(col("vec_id") < 200)
    IvfIndex.build(spark, base, "vec_id", "embedding", r, nClusters = 4)
    // second refresh input overlaps the index: the 100 existing ids must
    // not duplicate, the 100 new ones must land
    val incoming = vecs.filter(col("vec_id") >= 100 && col("vec_id") < 300)
    val appended = IvfIndex.refresh(spark, incoming, "vec_id", "embedding", r)
    assert(appended == 100, s"only the new ids append, got $appended")
    val all = graft.delta.DeltaTable.forPath(spark, s"$r/postings").toDF
    assert(all.count() == 300 && all.select("id").distinct().count() == 300)
    // a fresh vector is found by an exhaustive probe (exact within probed)
    val qv = vecs.filter(col("vec_id") === 250)
      .select("embedding").as[Array[Float]].head()
    val top = IvfIndex.topK(spark, r, qv, k = 1, nProbe = 4)
      .select("id").as[Long].head()
    assert(top == 250, s"the appended vector must be its own nearest, got $top")
    // refresh of an already-indexed set is a no-op (no empty commit)
    val v0 = graft.delta.DeltaLog.forPath(spark, s"$r/postings").update().version
    assert(IvfIndex.refresh(spark, incoming, "vec_id", "embedding", r) == 0)
    assert(graft.delta.DeltaLog.forPath(spark, s"$r/postings").update().version == v0)
  }

  // ---- source-bound tier (r13 verdict #1): CDF-sourced refresh + deletes

  private def boundSource(name: String): (String, String) = {
    val r = root(name)
    val src = s"$r/source"
    graft.delta.GraftWriter.write(
      vecs.select(col("vec_id"), col("embedding")), src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    (r, src)
  }

  test("source DELETE between refreshes is never served, at ANY nProbe") {
    import spark.implicits._
    val (r, src) = boundSource("del")
    IvfIndex.buildFromTable(spark, src, "vec_id", "embedding", s"$r/idx",
      nClusters = 8)
    // delete the exact nearest neighbors of query 0 (its own vector stays):
    // brute-force truth BEFORE the delete, minus id 0
    val pre = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", 0, 6)
      .select("vec_id").as[Long].collect().toSet - 0L
    graft.delta.Dml.delete(spark, src, col("vec_id").isin(pre.toSeq: _*))
    val (added, tombed) = IvfIndex.refreshFromSource(spark, s"$r/idx")
    assert(added == 0 && tombed == pre.size, s"($added, $tombed)")
    val qv = vecs.filter(col("vec_id") === 0)
      .select("embedding").as[Array[Float]].head()
    // every probe width — including exhaustive — must exclude the deleted
    // ids BEFORE any compaction
    Seq(1, 4, 8).foreach { nProbe =>
      val got = IvfIndex.topK(spark, s"$r/idx", qv, k = 10, nProbe = nProbe)
        .select("id").as[Long].collect().toSet
      assert((got intersect pre).isEmpty,
        s"nProbe=$nProbe served deleted ids: ${got intersect pre}")
    }
    // exhaustive probe ≡ brute force over the POST-delete corpus
    val truth = Similarity.bruteForceTopK(
      vecs.filter(!col("vec_id").isin(pre.toSeq: _*)),
      "vec_id", "embedding", 0, 10).select("vec_id").as[Long].collect().toSeq
    val served = IvfIndex.topK(spark, s"$r/idx", qv, k = 10, nProbe = 8)
      .select("id").as[Long].collect().toSeq
    assert(served == truth, s"served $served != truth $truth")
    // idempotent: nothing pending after the fold
    assert(IvfIndex.refreshFromSource(spark, s"$r/idx") == ((0L, 0L)))
  }

  test("source UPDATE re-homes the vector: old state dies, new state serves") {
    import spark.implicits._
    val (r, src) = boundSource("upd")
    IvfIndex.buildFromTable(spark, src, "vec_id", "embedding", s"$r/idx",
      nClusters = 4)
    // move vector 42 exactly onto vector 7's embedding: post-update, 42
    // must rank as 7's twin (same dot against 7's own query)
    val target = vecs.filter(col("vec_id") === 7)
      .select("embedding").as[Array[Float]].head()
    graft.delta.Dml.update(spark, src, col("vec_id") === 42,
      Map("embedding" -> typedLit(target)))
    val (added, tombed) = IvfIndex.refreshFromSource(spark, s"$r/idx")
    assert(added == 1 && tombed == 1, s"($added, $tombed)")
    val top = IvfIndex.topK(spark, s"$r/idx", target, k = 2, nProbe = 4)
      .select("id").as[Long].collect().toSet
    assert(top == Set(7L, 42L), s"updated vector must tie its target: $top")
    // exactly one live posting row for the updated id (old one tombstoned);
    // the tombstone is an inline row of the reserved cluster=-1 partition,
    // committed ATOMICALLY with the post-image (r15 verdict #7)
    def rows42(live: Boolean) = graft.delta.DeltaTable
      .forPath(spark, s"$r/idx/postings").toDF
      .filter(col("id") === 42 &&
        (if (live) col("cluster") >= 0 else col("cluster") === -1)).count()
    assert(rows42(live = true) == 2, "pre-compaction: old + new rows both stored")
    assert(rows42(live = false) == 1, "the inline tombstone marker row")
    assert(IvfIndex.compactTombstones(spark, s"$r/idx") == 1)
    assert(rows42(live = true) == 1, "post-compaction: only the live row remains")
    // probe unchanged by compaction
    val top2 = IvfIndex.topK(spark, s"$r/idx", target, k = 2, nProbe = 4)
      .select("id").as[Long].collect().toSet
    assert(top2 == Set(7L, 42L))
    // the applied marker was retired by the SAME merge commit
    assert(rows42(live = false) == 0)
    // no separate tombstones table exists on an r15 index
    assert(graft.delta.DeltaLog.forPath(spark, s"$r/idx/tombstones")
      .update().version < 0)
  }

  test("r15: a refresh window folds post-images + tombstones + mark in ONE commit") {
    import spark.implicits._
    val (r, src) = boundSource("atomic")
    IvfIndex.buildFromTable(spark, src, "vec_id", "embedding", s"$r/idx",
      nClusters = 4)
    val log = graft.delta.DeltaLog.forPath(spark, s"$r/idx/postings")
    val v0 = log.update().version
    // a mixed window: one delete + one append, folded by one refresh
    graft.delta.Dml.delete(spark, src, col("vec_id") === 3)
    graft.delta.GraftWriter.write(
      vecs.filter(col("vec_id") === 0)
        .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding")),
      src, org.apache.spark.sql.SaveMode.Append)
    val commits0 = graft.delta.OptimisticTransaction.committedCount.get()
    assert(IvfIndex.refreshFromSource(spark, s"$r/idx") == ((1L, 1L)))
    assert(graft.delta.OptimisticTransaction.committedCount.get() - commits0 == 1,
      "the refresh must commit exactly once, on any table")
    val v1 = log.update().version
    assert(v1 == v0 + 1,
      s"the whole fold must be ONE postings commit, got ${v1 - v0}")
    // that single commit carries the post-image, the tombstone row, AND
    // the advanced high-water mark — the r14 crash window (tombstone
    // landed, posting not) is unrepresentable
    val acts = log.readCommit(v1)
    val marks = acts.collect {
      case t: graft.delta.TxnAction if t.appId == "graft.ivf.sourceVersion" => t }
    assert(marks.nonEmpty, "the mark rides the fold commit")
    assert(acts.exists {
      case d: graft.delta.DomainMetadataAction => d.domain == IvfIndex.DriftDomain
      case _ => false
    }, "the drift observation rides the fold commit")
    val post = graft.delta.DeltaTable.forPath(spark, s"$r/idx/postings").toDF
    assert(post.filter(col("cluster") === -1 && col("id") === 3).count() == 1)
    assert(post.filter(col("cluster") >= 0 && col("id") === 5000000L).count() == 1)
    // the deleted id is gone from every probe; the appended id serves
    val qv = vecs.filter(col("vec_id") === 3)
      .select("embedding").as[Array[Float]].head()
    assert(IvfIndex.topK(spark, s"$r/idx", qv, k = 10, nProbe = 4)
      .filter(col("id") === 3).count() == 0)
    // the ad-hoc tier commits once per refresh too
    IvfIndex.build(spark, vecs.filter(col("vec_id") < 100), "vec_id",
      "embedding", s"$r/adhoc", nClusters = 4)
    val commits1 = graft.delta.OptimisticTransaction.committedCount.get()
    assert(IvfIndex.refresh(spark, vecs.filter(col("vec_id") < 120),
      "vec_id", "embedding", s"$r/adhoc") == 20)
    assert(graft.delta.OptimisticTransaction.committedCount.get() - commits1 == 1,
      "the ad-hoc refresh must commit exactly once, on any table")
    // the index is two tables: no drift or tombstones table is ever made
    for (idx <- Seq(s"$r/idx", s"$r/adhoc"); t <- Seq("drift", "tombstones"))
      assert(!new java.io.File(s"$idx/$t").exists(), s"$idx/$t exists")
  }

  test("refreshFromSource reads O(new commits): pending window never touches base files") {
    import spark.implicits._
    val (r, src) = boundSource("incr")
    val baseFiles = graft.delta.DeltaLog.forPath(spark, src)
      .update().files.map(_.path).toSet
    IvfIndex.buildFromTable(spark, src, "vec_id", "embedding", s"$r/idx",
      nClusters = 4)
    assert(IvfIndex.pendingChanges(spark, s"$r/idx").isEmpty)
    // one small append lands in the source
    val batch = vecs.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    graft.delta.GraftWriter.write(batch, src,
      org.apache.spark.sql.SaveMode.Append)
    val pending = IvfIndex.pendingChanges(spark, s"$r/idx").get
    val read = pending.inputFiles.map(f =>
      f.substring(f.lastIndexOf('/') + 1)).toSet
    val baseNames = baseFiles.map(f => f.substring(f.lastIndexOf('/') + 1))
    assert(read.nonEmpty && (read intersect baseNames).isEmpty,
      s"pending window must read ONLY the new commit's files; " +
      s"touched base files: ${read intersect baseNames}")
    val (added, tombed) = IvfIndex.refreshFromSource(spark, s"$r/idx")
    assert(added == 5 && tombed == 0)
    // the appended vectors serve: 1000000 carries vec 0's embedding, so
    // the top-2 for that embedding is exactly the twin pair
    val qv = vecs.filter(col("vec_id") === 0)
      .select("embedding").as[Array[Float]].head()
    val top = IvfIndex.topK(spark, s"$r/idx", qv, k = 2, nProbe = 4)
      .select("id").as[Long].collect().toSet
    assert(top == Set(0L, 1000000L), s"twin pair must serve: $top")
  }

  test("empty source, torn epoch, and non-long ids all fail safe (r14 review)") {
    import spark.implicits._
    // 1. building over zero vectors refuses — zero centroids would make
    //    every future refresh silently discard its adds
    val r1 = root("empty")
    graft.delta.GraftWriter.write(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      s"$r1/source",
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    val e1 = intercept[IllegalArgumentException] {
      IvfIndex.buildFromTable(spark, s"$r1/source", "vec_id", "embedding",
        s"$r1/idx", nClusters = 4)
    }
    assert(e1.getMessage.contains("zero vectors"))
    // 2. a torn rebuild (centroids re-written, postings not) refuses to
    //    serve instead of silently mixing two clusterings
    val r2 = root("torn")
    IvfIndex.build(spark, vecs.filter(col("vec_id") < 200), "vec_id",
      "embedding", r2, nClusters = 4)
    val cents = graft.delta.DeltaTable.forPath(spark, s"$r2/centroids").toDF
      .collect().toSeq
    graft.delta.GraftWriter.write(
      spark.createDataFrame(scala.jdk.CollectionConverters
          .SeqHasAsJava(cents).asJava,
        graft.delta.DeltaTable.forPath(spark, s"$r2/centroids").toDF.schema),
      s"$r2/centroids", org.apache.spark.sql.SaveMode.Overwrite,
      overwriteSchema = true,
      configuration = Some(Map(IvfIndex.EpochKey -> "other-epoch")))
    val qv = vecs.filter(col("vec_id") === 0)
      .select("embedding").as[Array[Float]].head()
    val e2 = intercept[IllegalStateException] {
      IvfIndex.topK(spark, r2, qv, k = 1, nProbe = 4).collect()
    }
    assert(e2.getMessage.contains("torn"))
    // 2b. a rebuild torn over a pre-epoch index leaves postings with NO
    //     epoch beside stamped centroids: refused on the probe and on the
    //     bound refresh, never served as healthy
    val rb = root("tornbound")
    graft.delta.GraftWriter.write(
      (0 until 40).map(i => (i.toLong, Array(i.toFloat / 40, 1f - i.toFloat / 40)))
        .toDF("vid", "emb"), s"$rb/source",
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    IvfIndex.buildFromTable(spark, s"$rb/source", "vid", "emb", s"$rb/idx",
      nClusters = 2)
    val postings = s"$rb/idx/postings"
    // rewrite the postings in place: same rows, marks and domain, with
    // `cfg` as the table configuration
    type Frame = org.apache.spark.sql.DataFrame
    def rewritePostings(cfg: Map[String, String] => Map[String, String],
                        rows: Frame => Frame = identity) = {
      val snap = graft.delta.DeltaLog.forPath(spark, postings).update()
      val cur = graft.delta.DeltaTable.forPath(spark, postings).toDF.localCheckpoint(true)
      graft.delta.GraftWriter.write(rows(cur), postings,
        org.apache.spark.sql.SaveMode.Overwrite, partitionBy = Seq("cluster"),
        overwriteSchema = true,
        configuration = Some(cfg(snap.metadata.get.configuration)))
    }
    def assertRefused(what: String): Unit = {
      val probe = intercept[IllegalStateException] {
        IvfIndex.topK(spark, s"$rb/idx", Array(1f, 1f), k = 1, nProbe = 2).collect()
      }
      assert(probe.getMessage.contains("rebuild"), s"$what: ${probe.getMessage}")
      val fold = intercept[IllegalStateException](
        IvfIndex.refreshFromSource(spark, s"$rb/idx"))
      assert(fold.getMessage.contains("rebuild"), s"$what: ${fold.getMessage}")
    }
    val epochCfg = graft.delta.DeltaLog.forPath(spark, postings).update()
      .metadata.get.configuration
    rewritePostings(_ - IvfIndex.EpochKey)
    graft.delta.GraftWriter.write(Seq((100L, Array(5f, 5f))).toDF("vid", "emb"),
      s"$rb/source", org.apache.spark.sql.SaveMode.Append)
    assertRefused("postings without an epoch")
    // hand-made legacy layouts: pre-r15 postings (no inline tombstone
    // layout key) and pre-r14 postings (no ver column) refuse with
    // "rebuild" too — no legacy read path remains
    rewritePostings(_ => epochCfg - IvfIndex.LayoutKey)
    assertRefused("postings without the inline layout")
    rewritePostings(_ => epochCfg, _.drop("ver"))
    assertRefused("postings without ver")
    // build over the legacy root is the migration: it succeeds and serves
    IvfIndex.build(spark, graft.delta.DeltaTable.forPath(spark, s"$rb/source").toDF,
      "vid", "emb", s"$rb/idx", nClusters = 2)
    assert(IvfIndex.topK(spark, s"$rb/idx", Array(1f, 1f), k = 1, nProbe = 2)
      .select("id").as[Long].head() == 100L, "the rebuilt index must serve")
    // 3. an int-keyed source survives its first delete window (the
    //    tombstone table used to be hard-typed (long, long))
    val r3 = root("intids")
    graft.delta.GraftWriter.write(
      (0 until 50).map(i => (i, Array.fill(8)(i.toFloat / 50)))
        .toDF("vid", "emb"), s"$r3/source",
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    IvfIndex.buildFromTable(spark, s"$r3/source", "vid", "emb", s"$r3/idx",
      nClusters = 2)
    graft.delta.Dml.delete(spark, s"$r3/source", col("vid") === 49)
    val (a, t) = IvfIndex.refreshFromSource(spark, s"$r3/idx")
    assert(a == 0 && t == 1, s"($a, $t)")
    val served = IvfIndex.topK(spark, s"$r3/idx",
      Array.fill(8)(49f / 50), k = 1, nProbe = 2)
      .select("id").as[Int].head()
    assert(served != 49, "deleted int-keyed id must not serve")
    // 4. a STRING-keyed source (URL/UUID ids, r15 verdict #8): build,
    //    delete window (inline tombstone carries the string id), append
    //    window, probe — ids keep their native type end-to-end
    val r4 = root("strids")
    graft.delta.GraftWriter.write(
      (0 until 50).map(i => (f"vec-$i%03d", Array.fill(8)(i.toFloat / 50)))
        .toDF("vid", "emb"), s"$r4/source",
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    IvfIndex.buildFromTable(spark, s"$r4/source", "vid", "emb", s"$r4/idx",
      nClusters = 2)
    graft.delta.Dml.delete(spark, s"$r4/source", col("vid") === "vec-049")
    val (a4, t4) = IvfIndex.refreshFromSource(spark, s"$r4/idx")
    assert(a4 == 0 && t4 == 1, s"($a4, $t4)")
    assert(IvfIndex.topK(spark, s"$r4/idx", Array.fill(8)(49f / 50),
        k = 1, nProbe = 2)
      .select("id").as[String].head() != "vec-049",
      "deleted string-keyed id must not serve")
    graft.delta.GraftWriter.write(
      Seq(("vec-999", Array.fill(8)(0.98f))).toDF("vid", "emb"),
      s"$r4/source", org.apache.spark.sql.SaveMode.Append)
    IvfIndex.refreshFromSource(spark, s"$r4/idx")
    assert(IvfIndex.topK(spark, s"$r4/idx", Array.fill(8)(0.98f),
        k = 1, nProbe = 2)
      .select("id").as[String].head() == "vec-999",
      "appended string-keyed id must serve")
  }

  test("topKBatch: one pruned scan, per-query results identical to topK") {
    import spark.implicits._
    val r = root("batch")
    IvfIndex.build(spark, vecs, "vec_id", "embedding", r, nClusters = 8)
    val qids = Seq(0L, 7L, 23L, 41L)
    val queries = qids.map { qid =>
      qid -> vecs.filter(col("vec_id") === qid)
        .select("embedding").as[Array[Float]].head()
    }
    val batch = IvfIndex.topKBatch(spark, r, queries, k = 5, nProbe = 2)
    val batchRows = batch.as[(Long, Long, Long)].collect().toSeq
    // per-query identity with the single probe (ids AND ranking values)
    val singleFiles = scala.collection.mutable.Set[String]()
    queries.foreach { case (qid, qv) =>
      val single = IvfIndex.topK(spark, r, qv, k = 5, nProbe = 2)
      singleFiles ++= single.inputFiles.filter(_.contains("postings"))
      val expected = single.as[(Long, Long)].collect().toSeq
      assert(batchRows.filter(_._1 == qid).map(t => (t._2, t._3)) == expected,
        s"batch results for qid $qid diverge from topK")
    }
    // plan-identical file set: the batch's ONE pruned scan reads exactly
    // the union of the per-query probes' posting files
    val batchFiles = batch.inputFiles.filter(_.contains("postings")).toSet
    assert(batchFiles == singleFiles.toSet,
      s"batch scan files != union of single-probe files\n" +
      s"batch: $batchFiles\nsingles: $singleFiles")
  }

  test("adversarial corpus: recall@10 is monotone in nProbe; exhaustive probe ≡ brute force") {
    import spark.implicits._
    val r = root("frontier")
    // overlapping gaussians + 20% uniform noise — partial probes genuinely
    // miss here (testdata clusters are too easy: recall 1.0 at nProbe=8/64)
    val vecs = AdversarialVectors.corpus(spark, 5000, dim = 16, g = 8)
      .localCheckpoint(true)
    IvfIndex.build(spark, vecs, "vec_id", "embedding", r, nClusters = 8)
    val queryIds = Seq(0L, 3L, 4999L, 2500L, 4L)
    val truths = queryIds.map { qid =>
      qid -> Similarity.bruteForceTopK(vecs, "vec_id", "embedding", qid, 10)
        .select("vec_id").as[Long].collect().toSet
    }.toMap
    val recalls = Seq(1, 2, 4, 8).map { nProbe =>
      val per = queryIds.map { qid =>
        val qv = vecs.filter(col("vec_id") === qid)
          .select("embedding").as[Array[Float]].head()
        val got = IvfIndex.topK(spark, r, qv, k = 10, nProbe = nProbe)
          .select("id").as[Long].collect().toSet
        (got intersect truths(qid)).size / 10.0
      }
      per.sum / per.size
    }
    assert(recalls == recalls.sorted,
      s"recall must be monotone non-decreasing in nProbe: $recalls")
    assert(recalls.last == 1.0,
      s"nProbe = k must equal brute force, got ${recalls.last}")
    assert(recalls.head < 1.0,
      s"adversarial corpus must actually degrade partial probes: $recalls")
  }

  test("r15: drift is flagged, a partial re-cluster restores recall, baselines refresh") {
    import spark.implicits._
    val r = root("drift")
    val src = s"$r/source"
    // unit directions scaled to norm 10, so dot ranking ≡ L2 ranking and
    // both the assignment metric and the probe ordering agree with truth
    def vec(dir: Seq[Double]): Array[Float] = {
      val n = math.sqrt(dir.map(x => x * x).sum)
      dir.map(x => (x / n * 10.0).toFloat).toArray
    }
    // ids interleave across modes (m + 4i) so k-means' lowest-id seeds —
    // ids 100..103 — land one per mode and the build separates cleanly
    def mode(base: Int, count: Int): Seq[(Long, Array[Float])] =
      (0 until count).map { i =>
        val d = Seq(0.0, 0.0, 0.0, 0.0)
          .updated(base, 1.0).updated((base + 1) % 4, 0.0005 * i)
        (100L + base + 4L * i, vec(d))
      }
    // four tight build modes along e1..e4 — k-means lands one cluster each
    val buildRows = mode(0, 40) ++ mode(1, 40) ++ mode(2, 40) ++ mode(3, 40)
    graft.delta.GraftWriter.write(
      buildRows.toDF("vec_id", "embedding"), src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    IvfIndex.buildFromTable(spark, src, "vec_id", "embedding", s"$r/idx",
      nClusters = 4, kmeansIters = 4)
    val baseReport = IvfIndex.driftReport(spark, s"$r/idx").collect()
    assert(baseReport.length == 4 && baseReport.forall(_.isNullAt(5)),
      "no refreshes yet: every ratio must be null")

    // DRIFT: a new mode between e1 and e2, all slightly e1-side — every
    // vector assigns to the e1 cluster with a huge assignment distance.
    // One drift id (50) sits BELOW every build id, so the later partial
    // re-cluster's 2 lowest-id seeds are one drift vector + one core
    // vector — a clean deterministic split
    val driftRows = (0 until 20).map { i =>
      val id = if (i == 0) 50L else 1000L + i
      (id, vec(Seq(1.0 + 0.02 + 0.001 * i, 1.0, 0.0, 0.0)))
    }
    graft.delta.GraftWriter.write(driftRows.toDF("vec_id", "embedding"),
      src, org.apache.spark.sql.SaveMode.Append)
    IvfIndex.refreshFromSource(spark, s"$r/idx")

    // the flag fires on exactly one cluster
    val rep = IvfIndex.driftReport(spark, s"$r/idx")
      .filter(col("ratio") > 2.0).collect()
    assert(rep.length == 1, s"exactly the drifted cluster must flag, got " +
      rep.map(_.getInt(0)).mkString(","))
    val hotCid = rep.head.getInt(0)
    assert(rep.head.getLong(3) == 20, "all 20 drift rows observed")

    // a query just e2-side of the new mode: its nearest CENTROID is the e2
    // cluster, but the truth (the new mode) lives in the e1 cluster —
    // fixed-nProbe recall is broken until the hot cluster splits
    val qv = vec(Seq(1.0 - 0.05, 1.0, 0.0, 0.0))
    def top10Ids(nProbe: Int): Set[Long] =
      IvfIndex.topK(spark, s"$r/idx", qv, k = 10, nProbe = nProbe)
        .select("id").as[Long].collect().toSet
    val truth = driftRows.map(_._1).toSet // every drift id dominates by dot
    val before = top10Ids(1)
    assert((before intersect truth).isEmpty,
      s"drifted state must MISS the new mode at nProbe=1, got $before")

    // partial re-cluster of the flagged cluster only
    val newCids = IvfIndex.reclusterCluster(spark, s"$r/idx", hotCid,
      nSplit = 2, kmeansIters = 4)
    assert(newCids.size == 2)
    val after = top10Ids(1)
    assert((after intersect truth).size == 10,
      s"split must restore nProbe=1 recall, got $after")
    // exhaustive probe still exact, and no row was lost or duplicated
    val kNow = graft.delta.DeltaTable
      .forPath(spark, s"$r/idx/centroids").toDF.count().toInt
    val all = IvfIndex.topK(spark, s"$r/idx", qv, k = 10, nProbe = kNow)
      .select("id").as[Long].collect().toSet
    assert(all == after, "exhaustive probe agrees with the split probe")
    assert(graft.delta.DeltaTable.forPath(spark, s"$r/idx/postings")
      .toDF.count() == buildRows.size + driftRows.size)
    assert(graft.delta.DeltaTable.forPath(spark, s"$r/idx/postings")
      .toDF.select("id").distinct().count() == buildRows.size + driftRows.size)
    // the old centroid row retired; the split rows carry fresh baselines
    val cents = graft.delta.DeltaTable.forPath(spark, s"$r/idx/centroids")
      .toDF.select("cid").as[Int].collect().toSet
    assert(!cents.contains(hotCid) && newCids.forall(cents.contains))
    // re-running the re-cluster on a now-empty cid heals idempotently
    assert(IvfIndex.reclusterCluster(spark, s"$r/idx", hotCid).isEmpty)
    // and the lifecycle continues: another refresh lands in the new layout
    graft.delta.GraftWriter.write(
      Seq((2000L, vec(Seq(1.02, 1.0, 0.0, 0.0)))).toDF("vec_id", "embedding"),
      src, org.apache.spark.sql.SaveMode.Append)
    IvfIndex.refreshFromSource(spark, s"$r/idx")
    assert(IvfIndex.topK(spark, s"$r/idx", qv, k = 21, nProbe = kNow)
      .filter(col("id") === 2000L).count() == 1)
  }

  test("r15 review: layout epoch fences stale appends; healLayout repairs ghosts and orphans") {
    import spark.implicits._
    val r = root("layout")
    val src = s"$r/source"
    graft.delta.GraftWriter.write(
      vecs.filter(col("vec_id") < 400).select("vec_id", "embedding"), src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    IvfIndex.buildFromTable(spark, src, "vec_id", "embedding", s"$r/idx",
      nClusters = 4)
    val postings = s"$r/idx/postings"
    def layoutEpoch: Option[Long] = graft.delta.DeltaLog
      .forPath(spark, postings).update()
      .appTransactionVersion.get(IvfIndex.LayoutEpochApp)
    assert(layoutEpoch.contains(0L), "builds stamp layout epoch 0")
    // re-cluster any populated cluster: the move + the retirement fence
    // each bump the epoch
    val someCid = graft.delta.DeltaTable.forPath(spark, s"$r/idx/centroids")
      .toDF.select("cid").as[Int].collect().min
    IvfIndex.reclusterCluster(spark, s"$r/idx", someCid)
    assert(layoutEpoch.exists(_ >= 2L), s"got $layoutEpoch")
    // the stale-refresh shape: an append whose layout epoch was read
    // BEFORE the re-cluster must refuse instead of landing rows in a
    // retired cluster
    val dim = vecs.select("embedding").as[Array[Float]].head().length
    intercept[graft.delta.StaleAppVersionException] {
      graft.delta.GraftWriter.write(
        Seq((777000L, someCid, Array.fill(dim)(9.0f), 0L))
          .toDF("id", "cluster", "vec", "ver"),
        postings, org.apache.spark.sql.SaveMode.Append,
        partitionBy = Seq("cluster"),
        extraActions = Seq(graft.delta.TxnAction(IvfIndex.LayoutEpochApp, 0L)),
        requireAppVersions = Seq((IvfIndex.LayoutEpochApp, 0L)))
    }
    // GHOST: a centroid row with no posting files (crashed split attempt)
    graft.delta.GraftWriter.write(
      Seq((999, Array.fill(dim)(5.0f), 0L, 0.0))
        .toDF("cid", "centroid", "n", "base_dist"),
      s"$r/idx/centroids", org.apache.spark.sql.SaveMode.Append)
    // ORPHAN: posting rows in a cluster with no centroid row (raced
    // retirement) — invisible to every probe until healed
    graft.delta.GraftWriter.write(
      Seq((777001L, 998, Array.fill(dim)(9.0f), 0L))
        .toDF("id", "cluster", "vec", "ver"),
      postings, org.apache.spark.sql.SaveMode.Append,
      partitionBy = Seq("cluster"))
    val kAll = graft.delta.DeltaTable.forPath(spark, s"$r/idx/centroids")
      .toDF.count().toInt
    assert(IvfIndex.topK(spark, s"$r/idx", Array.fill(dim)(9.0f), 10, kAll)
      .filter(col("id") === 777001L).count() == 0,
      "the orphan must be invisible pre-heal (that IS the defect)")
    val (ghosts, moved) = IvfIndex.healLayout(spark, s"$r/idx")
    assert(ghosts >= 1 && moved == 1, s"got ($ghosts, $moved)")
    val centsAfter = graft.delta.DeltaTable.forPath(spark, s"$r/idx/centroids")
      .toDF.select("cid").as[Int].collect().toSet
    assert(!centsAfter.contains(999), "ghost centroid retired")
    assert(IvfIndex.topK(spark, s"$r/idx", Array.fill(dim)(9.0f), 10,
        centsAfter.size)
      .filter(col("id") === 777001L).count() == 1,
      "the healed orphan must be searchable")
    // idempotent: a second heal finds nothing
    assert(IvfIndex.healLayout(spark, s"$r/idx") == ((0L, 0L)))
  }

  test("r16: a NON-nullable source vec still lands a nullable postings vec (tombstones writable)") {
    // expression-built embeddings are non-nullable — the shape that
    // regressed when the nullable flip was written as when(lit(true), _)
    // and the analyzer folded it (caught by the 1M string-id probe's
    // first tombstone write). The postings vec must land nullable so the
    // first delete window's tombstone rows (vec = null) can commit.
    val r = root("nonnullvec")
    val src = spark.range(50)
      .selectExpr("id AS vid", "array(cast(id AS float) / 50) AS emb")
    assert(!src.schema("emb").nullable, "the source shape must be non-nullable")
    graft.delta.GraftWriter.write(src, s"$r/source",
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    IvfIndex.buildFromTable(spark, s"$r/source", "vid", "emb", s"$r/idx",
      nClusters = 2)
    assert(graft.delta.DeltaLog.forPath(spark, s"$r/idx/postings")
      .update().schema("vec").nullable,
      "postings vec must be nullable whatever the source's nullability")
    graft.delta.Dml.delete(spark, s"$r/source", col("vid") === 49)
    assert(IvfIndex.refreshFromSource(spark, s"$r/idx") == ((0L, 1L)),
      "the first tombstone fold must commit")
  }

  test("r16: maintain() autopilot — heal + budgeted drift repair + tombstone compaction in one call") {
    import spark.implicits._
    val r = root("autopilot")
    val src = s"$r/source"
    def vec(dir: Seq[Double]): Array[Float] = {
      val n = math.sqrt(dir.map(x => x * x).sum)
      dir.map(x => (x / n * 10.0).toFloat).toArray
    }
    def mode(base: Int, count: Int): Seq[(Long, Array[Float])] =
      (0 until count).map { i =>
        val d = Seq(0.0, 0.0, 0.0, 0.0)
          .updated(base, 1.0).updated((base + 1) % 4, 0.0005 * i)
        (100L + base + 4L * i, vec(d))
      }
    val buildRows = mode(0, 40) ++ mode(1, 40) ++ mode(2, 40) ++ mode(3, 40)
    graft.delta.GraftWriter.write(
      buildRows.toDF("vec_id", "embedding"), src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    IvfIndex.buildFromTable(spark, src, "vec_id", "embedding", s"$r/idx",
      nClusters = 4, kmeansIters = 4)
    // a maintain() on a healthy index is a no-op end to end
    val idle = IvfIndex.maintain(spark, s"$r/idx")
    assert(idle == IvfIndex.Maintenance(Nil, 0L, 0L, 0L, 0L), s"got $idle")
    // inject drift (the r15 drift-spec shape: a new mode between e1 and
    // e2, all e1-assigned at huge distance) AND a takedown wave, so one
    // maintain() has both repairs pending
    val driftRows = (0 until 20).map { i =>
      val id = if (i == 0) 50L else 1000L + i
      (id, vec(Seq(1.0 + 0.02 + 0.001 * i, 1.0, 0.0, 0.0)))
    }
    graft.delta.GraftWriter.write(driftRows.toDF("vec_id", "embedding"),
      src, org.apache.spark.sql.SaveMode.Append)
    IvfIndex.refreshFromSource(spark, s"$r/idx")
    graft.delta.Dml.delete(spark, src, col("vec_id").isin(104L, 108L))
    IvfIndex.refreshFromSource(spark, s"$r/idx")
    val qv = vec(Seq(1.0 - 0.05, 1.0, 0.0, 0.0))
    def top10Ids(nProbe: Int): Set[Long] =
      IvfIndex.topK(spark, s"$r/idx", qv, k = 10, nProbe = nProbe)
        .select("id").as[Long].collect().toSet
    val truth = driftRows.map(_._1).toSet
    assert((top10Ids(1) intersect truth).isEmpty,
      "drifted state must miss the new mode at nProbe=1")
    // a budget too small for the hot cluster: maintain must SKIP the
    // split (never partially apply) but still compact the tombstones
    val tiny = IvfIndex.maintain(spark, s"$r/idx", rowBudget = 10L)
    assert(tiny.clustersRepaired.isEmpty && tiny.rowsReassigned == 0L,
      s"over-budget cluster must be skipped whole, got $tiny")
    assert(tiny.tombstoneRowsReclaimed == 2L,
      s"the takedown tombstones compact regardless, got $tiny")
    // ONE adequately-budgeted call: repairs exactly the hot cluster,
    // restores fixed-nProbe recall, leaves no ghosts or orphans
    val m = IvfIndex.maintain(spark, s"$r/idx", kmeansIters = 4)
    assert(m.clustersRepaired.size == 1,
      s"exactly the flagged cluster must split, got $m")
    assert((top10Ids(1) intersect truth).size == 10,
      "maintain must restore nProbe=1 recall")
    assert(IvfIndex.healLayout(spark, s"$r/idx") == ((0L, 0L)),
      "no ghost or orphan may survive maintain")
    // no row lost or duplicated (2 takedowns physically gone)
    val postings = graft.delta.DeltaTable
      .forPath(spark, s"$r/idx/postings").toDF
    assert(postings.count() == buildRows.size + driftRows.size - 2)
    assert(postings.select("id").distinct().count() ==
      buildRows.size + driftRows.size - 2)
    // the lifecycle continues in the repaired layout: refresh + probe
    graft.delta.GraftWriter.write(
      Seq((2000L, vec(Seq(1.02, 1.0, 0.0, 0.0)))).toDF("vec_id", "embedding"),
      src, org.apache.spark.sql.SaveMode.Append)
    IvfIndex.refreshFromSource(spark, s"$r/idx")
    val kNow = graft.delta.DeltaTable
      .forPath(spark, s"$r/idx/centroids").toDF.count().toInt
    assert(IvfIndex.topK(spark, s"$r/idx", qv, k = 21, nProbe = kNow)
      .filter(col("id") === 2000L).count() == 1)
    // and a second maintain on the repaired index is a no-op again
    val m2 = IvfIndex.maintain(spark, s"$r/idx")
    assert(m2.clustersRepaired.isEmpty && m2.ghostCentroidsRemoved == 0L &&
      m2.orphanRowsMoved == 0L, s"got $m2")
  }

  // ---- drift telemetry: the graft.ivf.drift domain on the postings table

  /** Squared L2 in the assignment metric's own order (Similarity.SqDistExpr:
    * per-element double differences, summed left to right from 0). */
  private def sqDist(v: Array[Float], c: Seq[Double]): Double =
    v.zip(c).foldLeft(0.0) { case (a, (x, y)) => a + (x.toDouble - y) * (x.toDouble - y) }

  /** (cid, centroid, base_dist) rows of an index. */
  private def centroidRows(idx: String): Seq[(Int, Seq[Double], Double)] = {
    import spark.implicits._
    graft.delta.DeltaTable.forPath(spark, s"$idx/centroids").toDF
      .select(col("cid"), col("centroid").cast("array<double>"), col("base_dist"))
      .as[(Int, Seq[Double], Double)].collect().toSeq
  }

  /** One refresh's hand-computed observation: each vector's (cid, dist) to
    * its nearest centroid, ties to the lowest cid. */
  private def observe(idx: String, vs: Seq[Array[Float]]): Seq[(Int, Double)] = {
    val cents = centroidRows(idx)
    vs.map { v =>
      cents.map { case (cid, c, _) => (sqDist(v, c), cid) }.min.swap
    }
  }

  /** driftReport(r) against the hand-computed answer over `history` (newest
    * first): recent_n = vectors observed in the r newest refreshes,
    * recent_dist = their mean distance, ratio = recent_dist / base_dist. */
  private def assertReport(idx: String, history: Seq[Seq[(Int, Double)]],
                           r: Int): Unit = {
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    val got = IvfIndex.driftReport(spark, idx, r).collect()
      .map(x => x.getInt(0) -> x).toMap
    val cents = centroidRows(idx)
    assert(got.keySet == cents.map(_._1).toSet)
    cents.foreach { case (cid, _, base) =>
      val ds = history.take(r).flatten.filter(_._1 == cid).map(_._2)
      val row = got(cid)
      assert(row.getLong(3) == ds.size, s"r=$r cid=$cid recent_n ${row.getLong(3)} != ${ds.size}")
      if (ds.isEmpty) assert(row.isNullAt(4) && row.isNullAt(5), s"r=$r cid=$cid: $row")
      else {
        val mean = ds.sum / ds.size
        assert(close(row.getDouble(4), mean),
          s"r=$r cid=$cid recent_dist ${row.getDouble(4)} != $mean")
        assert(base > 0 && close(row.getDouble(5), mean / base), s"r=$r cid=$cid ratio: $row")
      }
    }
  }

  test("drift domain: driftReport pinned to hand-computed values across bound and ad-hoc refreshes") {
    import spark.implicits._
    val centers = Seq((10f, 0f), (0f, 10f), (-10f, 0f))
    def near(m: Int, dx: Double, dy: Double): Array[Float] =
      Array((centers(m)._1 + dx).toFloat, (centers(m)._2 + dy).toFloat)
    val buildRows = for (m <- 0 until 3; i <- 0 until 10)
      yield (100L * m + i, near(m, 0.01 * i, -0.01 * i))

    // ---- ad-hoc tier: 10 refreshes, more than the 8 the domain keeps
    val r = root("driftspec")
    val adhoc = s"$r/adhoc"
    IvfIndex.build(spark, buildRows.toDF("vec_id", "embedding"), "vec_id",
      "embedding", adhoc, nClusters = 3)
    assertReport(adhoc, Nil, 5) // no refreshes yet
    var history = Seq.empty[Seq[(Int, Double)]] // newest first
    (0 until 10).foreach { i =>
      val rows = Seq(
        (1000L + 2 * i, near(i % 3, 0.5 + 0.1 * i, 0.3)),
        (1001L + 2 * i, near((i + 1) % 3, -0.2, 0.4 + 0.05 * i)))
      assert(IvfIndex.refresh(spark, rows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", adhoc) == 2)
      history = observe(adhoc, rows.map(_._2)) +: history
      if (i == 2) assertReport(adhoc, history, 5) // history shorter than r
      if (i == 4) // a refresh appending nothing observes nothing
        assert(IvfIndex.refresh(spark, rows.toDF("vec_id", "embedding"),
          "vec_id", "embedding", adhoc) == 0)
    }
    Seq(1, 5, 8).foreach(assertReport(adhoc, history, _))
    val beyond = intercept[IllegalArgumentException](
      IvfIndex.driftReport(spark, adhoc, recentRefreshes = 9))
    assert(beyond.getMessage.contains("8"))

    // a refresh that loses its commit to StaleAppVersionException records
    // nothing: a layout-epoch bump lands while its assignment job runs
    val postings = s"$adhoc/postings"
    val rowsBefore = graft.delta.DeltaTable.forPath(spark, postings).toDF.count()
    IvfRaceHook.fire = () => {
      val log = graft.delta.DeltaLog.forPath(spark, postings)
      val snap = log.update()
      val cur = snap.appTransactionVersion(IvfIndex.LayoutEpochApp)
      log.startTransaction(snap)
        .requireAppVersion(IvfIndex.LayoutEpochApp, cur)
        .addAction(graft.delta.TxnAction(IvfIndex.LayoutEpochApp, cur + 1))
        .commit()
    }
    IvfRaceHook.armed.set(true)
    val racing = Seq((5000L, near(0, 1.0, 1.0))).toDF("vec_id", "embedding")
      .withColumn("vec_id", IvfRaceHook.udfHook(col("vec_id")))
    intercept[graft.delta.StaleAppVersionException](
      IvfIndex.refresh(spark, racing, "vec_id", "embedding", adhoc))
    assert(!IvfRaceHook.armed.get(), "the racing commit must have landed")
    assert(graft.delta.DeltaTable.forPath(spark, postings).toDF.count() == rowsBefore)
    Seq(1, 8).foreach(assertReport(adhoc, history, _))

    // a rebuild resets the history
    IvfIndex.build(spark, buildRows.toDF("vec_id", "embedding"), "vec_id",
      "embedding", adhoc, nClusters = 3)
    assertReport(adhoc, Nil, 8)

    // ---- bound tier: append, delete-only, update + append
    val src = s"$r/source"
    graft.delta.GraftWriter.write(buildRows.toDF("vec_id", "embedding"), src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    val bound = s"$r/bound"
    IvfIndex.buildFromTable(spark, src, "vec_id", "embedding", bound,
      nClusters = 3)
    val appendA = (0 until 3).flatMap(m => Seq(
      (2000L + 10 * m, near(m, 0.7, -0.2)), (2001L + 10 * m, near(m, -0.4, 0.6))))
    graft.delta.GraftWriter.write(appendA.toDF("vec_id", "embedding"), src,
      org.apache.spark.sql.SaveMode.Append)
    assert(IvfIndex.refreshFromSource(spark, bound) == ((6L, 0L)))
    val obsA = observe(bound, appendA.map(_._2))
    graft.delta.Dml.delete(spark, src, col("vec_id").isin(1L, 2L))
    assert(IvfIndex.refreshFromSource(spark, bound) == ((0L, 2L)))
    val moved = near(1, 1.5, 0.5)
    graft.delta.Dml.update(spark, src, col("vec_id") === 3L,
      Map("embedding" -> typedLit(moved)))
    graft.delta.GraftWriter.write(Seq((3000L, near(2, 0.9, 0.9)))
      .toDF("vec_id", "embedding"), src, org.apache.spark.sql.SaveMode.Append)
    assert(IvfIndex.refreshFromSource(spark, bound) == ((2L, 1L)))
    val obsC = observe(bound, Seq(moved, near(2, 0.9, 0.9)))
    // the delete-only window observed nothing: r = 2 reaches back to A
    Seq(1, 2, 5).foreach(assertReport(bound, Seq(obsC, obsA), _))

    // a retired cid never hands its observations to a later split: retire
    // the highest observed cid (all its rows deleted), then split another
    val hot = obsA.map(_._1).max
    val hotIds = graft.delta.DeltaTable.forPath(spark, s"$bound/postings").toDF
      .filter(col("cluster") === hot).select("id").as[Long].collect().toSeq
    graft.delta.Dml.delete(spark, src, col("vec_id").isin(hotIds: _*))
    IvfIndex.refreshFromSource(spark, bound)
    assert(IvfIndex.reclusterCluster(spark, bound, hot).isEmpty)
    val other = centroidRows(bound).map(_._1).min
    val minted = IvfIndex.reclusterCluster(spark, bound, other)
    assert(minted.nonEmpty && minted.forall(_ > hot),
      s"split minted $minted at or below the retired, observed cid $hot")
    val report = IvfIndex.driftReport(spark, bound, 8).collect()
      .map(x => x.getInt(0) -> x).toMap
    assert(!report.contains(hot) && !report.contains(other))
    minted.foreach { c =>
      assert(report(c).getLong(3) == 0 && report(c).isNullAt(5),
        s"fresh cid $c must start with no observations: ${report(c)}")
    }
  }

  test("r17: int8-quantized layout — codes on every write path, probe skips vec, deletes never served, rerank ≡ float") {
    import spark.implicits._
    val (r, src) = boundSource("quant")
    IvfIndex.buildFromTable(spark, src, "vec_id", "embedding", s"$r/idx",
      nClusters = 8, quantize = true)
    val qv = vecs.filter(col("vec_id") === 0)
      .select("embedding").as[Array[Float]].head()
    def quant(nProbe: Int = 8) =
      IvfIndex.topKQuantized(spark, s"$r/idx", qv, k = 10, nProbe = nProbe)
        .as[(Long, Long)].collect().toSeq
    def bf(corpus: org.apache.spark.sql.DataFrame) =
      Quantize.quantizedTopK(corpus, "vec_id", "embedding", 0, 10)
        .as[(Long, Long)].collect().toSeq
    // exhaustive quantized probe ≡ the q60 quantized brute force
    assert(quant() == bf(vecs))
    // the probe plan reads codes, never the float vectors
    val plan = IvfIndex.topKQuantized(spark, s"$r/idx", qv, 10, 8)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    val reads = "ReadSchema: [^\\n]+".r.findAllIn(plan).toSeq
    assert(reads.nonEmpty && reads.exists(_.contains("q8")) &&
      reads.forall(!_.contains("vec")), s"probe must not scan vec:\n$reads")
    // delete wave: tombstone rows (null codes) fold; never served at any
    // probe width, and the quantized ranking matches the post-delete
    // brute force
    val pre = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", 0, 6)
      .select("vec_id").as[Long].collect().toSet - 0L
    graft.delta.Dml.delete(spark, src, col("vec_id").isin(pre.toSeq: _*))
    IvfIndex.refreshFromSource(spark, s"$r/idx")
    val live = vecs.select("vec_id", "embedding")
      .filter(!col("vec_id").isin(pre.toSeq: _*))
    Seq(1, 4, 8).foreach { np =>
      assert(quant(np).map(_._1).toSet.intersect(pre).isEmpty,
        s"nProbe=$np served deleted ids")
    }
    assert(quant() == bf(live))
    // rerank recovers the exact float ranking (candidate pool ≫ k)
    val rr = IvfIndex.topKQuantized(spark, s"$r/idx", qv, 10, 8,
        rerank = 10000).as[(Long, Double)].collect().toSeq
    val fl = IvfIndex.topK(spark, s"$r/idx", qv, 10, 8)
      .as[(Long, Double)].collect().toSeq
    assert(rr == fl, "rerank must recover the float top-k")
    // the APPEND path derives codes too: new ids become quantized-servable
    graft.delta.GraftWriter.write(
      vecs.filter(col("vec_id").isin(pre.toSeq: _*))
        .select((col("vec_id") + 1000000000L).as("vec_id"), col("embedding")),
      src, org.apache.spark.sql.SaveMode.Append)
    IvfIndex.refreshFromSource(spark, s"$r/idx")
    val live2 = live.unionByName(
      vecs.filter(col("vec_id").isin(pre.toSeq: _*))
        .select((col("vec_id") + 1000000000L).as("vec_id"), col("embedding")))
    assert(quant() == bf(live2), "appended vectors must serve quantized")
    // maintenance paths re-derive codes: recluster a populated cluster,
    // then compact tombstones — the quantized probe is unchanged by both
    val cid = graft.delta.DeltaTable.forPath(spark, s"$r/idx/centroids")
      .toDF.orderBy(col("n").desc).select("cid").as[Int].head()
    IvfIndex.reclusterCluster(spark, s"$r/idx", cid)
    assert(quant() == bf(live2), "recluster must preserve quantized serving")
    IvfIndex.compactTombstones(spark, s"$r/idx")
    assert(quant() == bf(live2), "compaction must preserve quantized serving")
    // batched quantized serving: per-query identical to topKQuantized
    val batchQs = Seq(0L, 7L, 42L).map { qid =>
      qid -> vecs.filter(col("vec_id") === qid)
        .select("embedding").as[Array[Float]].head()
    }
    val batch = IvfIndex.topKBatchQuantized(spark, s"$r/idx", batchQs,
        k = 10, nProbe = 8)
      .as[(Long, Long, Long)].collect().groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(r => (r._2, r._3)).toSeq }
    batchQs.foreach { case (qid, qv) =>
      val single = IvfIndex.topKQuantized(spark, s"$r/idx", qv, 10, 8)
        .as[(Long, Long)].collect().toSeq
      assert(batch(qid) == single, s"batch != single for query $qid")
    }
    // a float-only index refuses the quantized probe loudly
    val rf = root("quantrefuse")
    IvfIndex.build(spark, vecs.limit(50), "vec_id", "embedding", s"$rf/idx",
      nClusters = 2)
    val e = intercept[IllegalArgumentException](
      IvfIndex.topKQuantized(spark, s"$rf/idx", qv, 5))
    assert(e.getMessage.contains("quantize"))
  }

  test("embeddingSimilarPairs guard refuses above maxRows unless overridden") {
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingSimilarPairs(vecs, "vec_id", "embedding", 95, 100,
        maxRows = Some(10L))
    }
    assert(e.getMessage.contains("O(n²)"))
    // override runs (bounded slice so the test stays fast)
    assert(Dedup.embeddingSimilarPairs(
      vecs.filter(col("vec_id") < 50), "vec_id", "embedding", 95, 100,
      maxRows = None).count() >= 0)
    // a cap the limit-probe cannot verify (≥ Int.MaxValue) is refused
    // up front instead of silently never tripping (r13 advice)
    val big = intercept[IllegalArgumentException] {
      Dedup.embeddingSimilarPairs(vecs, "vec_id", "embedding", 95, 100,
        maxRows = Some(Int.MaxValue.toLong))
    }
    assert(big.getMessage.contains("maxRows = None"))
  }
}

/** Fires `fire` once, from inside a Spark task, on the first row the armed
  * UDF sees — a commit racing a refresh at a fixed point of its run. The
  * commit runs on a fresh thread, outside the task's context. */
object IvfRaceHook {
  @volatile var fire: () => Unit = () => ()
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  val udfHook = org.apache.spark.sql.functions.udf { (id: Long) =>
    if (armed.compareAndSet(true, false)) {
      val t = new Thread(() => fire())
      t.start()
      t.join()
    }
    id
  }.asNondeterministic()
}
