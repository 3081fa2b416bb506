package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[DedupIndex]]: the standing MinHash-LSH dedup index (r13 verdict #2) —
  * incremental refresh over an append-only CDF source must be
  * indistinguishable from a full recompute, including family merges
  * bridged across batches. (The r16/r17 fold-shape tests live in
  * [[DedupIndexFoldSpec]] — one suite until r18, split for parallel test
  * groups; no test was dropped.) */
class DedupIndexSpec extends AnyFunSuite with DedupIndexFixtures {
  import spark.implicits._

  test("incremental over 3 batches ≡ full recompute; cross-batch bridge merges families") {
    val r = root("equiv")
    val src = s"$r/source"
    graft.delta.GraftWriter.write(slice(corpus, 0, 100), src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    // bands=64×1 rows: candidate recall 1 at any J, so the spec's planted
    // J≈0.6 bridge pair cannot be lost to band luck (verify stays exact)
    DedupIndex.buildFromSource(spark, src, "text", "doc_id", s"$r/idx",
      numHashes = 64, bands = 64)
    Seq((100L, 200L), (200L, 300L), (300L, 400L)).foreach { case (a, b) =>
      graft.delta.GraftWriter.write(slice(corpus, a, b), src, SaveMode.Append)
      DedupIndex.refreshFromSource(spark, s"$r/idx")
    }
    // full recompute over the final corpus, same parameters
    val rf = root("full")
    DedupIndex.buildFromSource(spark, src, "text", "doc_id", s"$rf/idx",
      numHashes = 64, bands = 64)
    assert(dump(DedupIndex.survivors(spark, s"$r/idx")) ==
      dump(DedupIndex.survivors(spark, s"$rf/idx")), "survivors diverged")
    assert(dump(DedupIndex.members(spark, s"$r/idx")
        .select(col("comp"), col("id"), col("len"))) ==
      dump(DedupIndex.members(spark, s"$rf/idx")
        .select(col("comp"), col("id"), col("len"))), "members diverged")
    // the bridge: 10 and 110 were separate families until 210 arrived
    val m = DedupIndex.members(spark, s"$r/idx")
      .filter(col("id").isin(10L, 110L, 210L))
      .select("comp").as[Long].collect().toSet
    assert(m == Set(10L), s"bridge family must merge to comp 10, got $m")
    // family F spans base, batch1 and batch3
    val f = DedupIndex.members(spark, s"$r/idx")
      .filter(col("id").isin(1L, 101L, 301L))
      .select("comp").as[Long].collect().toSet
    assert(f == Set(1L), s"family F must label comp 1, got $f")
    // survivor of the merged bridge family: longest text (210, 30 words)
    val bs = DedupIndex.survivors(spark, s"$r/idx")
      .filter(col("comp") === 10L).select("id").as[Long].head()
    assert(bs == 210L, s"longest bridge member must survive, got $bs")
    // no-op refresh: nothing pending
    assert(DedupIndex.refreshFromSource(spark, s"$r/idx") == ((0L, 0L)))
  }

  test("replayed window (mark rewound) leaves members/survivors unchanged") {
    val r = root("replay")
    val src = s"$r/source"
    graft.delta.GraftWriter.write(slice(corpus, 0, 100), src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    val v0 = DedupIndex.buildFromSource(spark, src, "text", "doc_id",
      s"$r/idx", numHashes = 64, bands = 64)
    graft.delta.GraftWriter.write(slice(corpus, 100, 200), src, SaveMode.Append)
    DedupIndex.refreshFromSource(spark, s"$r/idx")
    val before = dump(DedupIndex.survivors(spark, s"$r/idx"))
    val membersBefore = dump(DedupIndex.members(spark, s"$r/idx")
      .select(col("comp"), col("id"), col("len")))
    // rewind the high-water mark (the crash shape: derived state advanced,
    // mark not) and re-fold the same window — every merge must re-apply
    // identical rows
    val log = graft.delta.DeltaLog.forPath(spark, s"$r/idx/buckets")
    log.update()
    val txn = log.startTransaction()
    txn.addAction(graft.delta.TxnAction(DedupIndex.SourceVersionApp, v0))
    txn.commit()
    val bucketsBefore = graft.delta.DeltaTable
      .forPath(spark, s"$r/idx/buckets").toDF.count()
    val (n, _) = DedupIndex.refreshFromSource(spark, s"$r/idx")
    assert(n > 0, "rewound mark must re-offer the window")
    assert(dump(DedupIndex.survivors(spark, s"$r/idx")) == before,
      "replay must not change survivors")
    assert(dump(DedupIndex.members(spark, s"$r/idx")
        .select(col("comp"), col("id"), col("len"))) == membersBefore,
      "replay must not change members")
    // the batch's band rows landed atomically in the first run — the
    // replay must advance the mark WITHOUT duplicating them (r14 review)
    assert(graft.delta.DeltaTable.forPath(spark, s"$r/idx/buckets")
        .toDF.count() == bucketsBefore,
      "replay must not duplicate bucket rows")
    assert(DedupIndex.refreshFromSource(spark, s"$r/idx") == ((0L, 0L)),
      "replay must still advance the high-water mark")
  }

  test("mixed replay window (mark rewound past a landed AND an unlanded batch) heals per doc") {
    val r = root("mixed")
    val src = s"$r/source"
    graft.delta.GraftWriter.write(slice(corpus, 0, 100), src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    val v0 = DedupIndex.buildFromSource(spark, src, "text", "doc_id",
      s"$r/idx", numHashes = 64, bands = 64)
    // batch A lands through a refresh; batch B appends WITHOUT one
    graft.delta.GraftWriter.write(slice(corpus, 100, 200), src, SaveMode.Append)
    DedupIndex.refreshFromSource(spark, s"$r/idx")
    graft.delta.GraftWriter.write(slice(corpus, 200, 300), src, SaveMode.Append)
    // rewind the mark PAST BOTH: the replay window now mixes landed (A)
    // and never-landed (B) docs — the r14 any⇒all skip dropped B's band
    // rows here forever
    val log = graft.delta.DeltaLog.forPath(spark, s"$r/idx/buckets")
    log.update()
    val txn = log.startTransaction()
    txn.addAction(graft.delta.TxnAction(DedupIndex.SourceVersionApp, v0))
    txn.commit()
    val bucketsBefore = graft.delta.DeltaTable
      .forPath(spark, s"$r/idx/buckets").toDF.count()
    DedupIndex.refreshFromSource(spark, s"$r/idx")
    val bucketsAfter = graft.delta.DeltaTable
      .forPath(spark, s"$r/idx/buckets").toDF.count()
    // B has 101 docs (200..299 slice of the corpus = 210, 205, 206) —
    // exactly its band rows appended, none of A's duplicated
    val bDocs = slice(corpus, 200, 300).count()
    assert(bucketsAfter == bucketsBefore + bDocs * 64,
      s"replay must append exactly batch B's band rows " +
      s"($bucketsBefore -> $bucketsAfter, B=$bDocs docs × 64 bands)")
    // and the merged state equals a full recompute (210 bridges 10/110)
    graft.delta.GraftWriter.write(slice(corpus, 300, 400), src, SaveMode.Append)
    DedupIndex.refreshFromSource(spark, s"$r/idx")
    val rf = root("mixedfull")
    DedupIndex.buildFromSource(spark, src, "text", "doc_id", s"$rf/idx",
      numHashes = 64, bands = 64)
    assert(dump(DedupIndex.survivors(spark, s"$r/idx")) ==
      dump(DedupIndex.survivors(spark, s"$rf/idx")))
  }

  test("window hygiene: identical redelivery collapses, divergent duplicate ids refuse") {
    val r = root("hygiene")
    val src = s"$r/source"
    graft.delta.GraftWriter.write(slice(corpus, 0, 100), src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    DedupIndex.buildFromSource(spark, src, "text", "doc_id", s"$r/idx")
    // byte-identical redelivery of one row: collapses to one doc
    graft.delta.GraftWriter.write(
      Seq((900L, words(90, 0, 12)), (900L, words(90, 0, 12)))
        .toDF("doc_id", "text"), src, SaveMode.Append)
    val (n, _) = DedupIndex.refreshFromSource(spark, s"$r/idx")
    assert(n == 1, s"identical redelivery must collapse, got $n")
    // two TEXTS under one id is an update in disguise: refuse loudly
    // (previously wedged the members MERGE with MultipleMatchException)
    graft.delta.GraftWriter.write(
      Seq((901L, words(91, 0, 12)), (901L, words(91, 0, 13)))
        .toDF("doc_id", "text"), src, SaveMode.Append)
    val e = intercept[IllegalArgumentException] {
      DedupIndex.refreshFromSource(spark, s"$r/idx")
    }
    assert(e.getMessage.contains("duplicate doc ids"))
  }

  test("requireAppVersion refuses a write when the mark moved (concurrent maintainer)") {
    val r = root("stale")
    val src = s"$r/source"
    graft.delta.GraftWriter.write(slice(corpus, 0, 100), src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    val v0 = DedupIndex.buildFromSource(spark, src, "text", "doc_id", s"$r/idx")
    // simulate the race: another refresh advanced the mark after this
    // one read its binding
    intercept[graft.delta.StaleAppVersionException] {
      graft.delta.GraftWriter.write(
        Seq((0, 0L, 999L)).toDF("band_idx", "band_hash", "id"),
        s"$r/idx/buckets", SaveMode.Append,
        partitionBy = Seq("band_idx"),
        extraActions = Seq(
          graft.delta.TxnAction(DedupIndex.SourceVersionApp, v0 + 8)),
        requireAppVersion = Some((DedupIndex.SourceVersionApp, v0 + 7)))
    }
    // and a guard WITHOUT its same-appId TxnAction is a misuse the writer
    // refuses up front — the retry-loop leg of the guarantee needs it
    intercept[IllegalArgumentException] {
      graft.delta.GraftWriter.write(
        Seq((0, 0L, 999L)).toDF("band_idx", "band_hash", "id"),
        s"$r/idx/buckets", SaveMode.Append,
        partitionBy = Seq("band_idx"),
        requireAppVersion = Some((DedupIndex.SourceVersionApp, v0)))
    }
    // and the index is untouched by the refused write
    assert(graft.delta.DeltaTable.forPath(spark, s"$r/idx/buckets")
      .toDF.filter(col("id") === 999L).count() == 0)
  }

  test("r15: torn rebuild (epoch mismatch across tables) refuses to serve or refresh") {
    val r = root("epoch")
    val src = s"$r/source"
    graft.delta.GraftWriter.write(slice(corpus, 0, 100), src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    DedupIndex.buildFromSource(spark, src, "text", "doc_id", s"$r/idx")
    // simulate a rebuild (with changed params) crashing after the members
    // overwrite: members carries a fresh epoch, buckets/survivors the old
    val frozen = graft.delta.DeltaTable.forPath(spark, s"$r/idx/members")
      .toDF.localCheckpoint(true)
    graft.delta.GraftWriter.write(frozen, s"$r/idx/members",
      SaveMode.Overwrite, overwriteSchema = true,
      configuration = Some(Map(DedupIndex.EpochKey -> "torn-epoch")))
    val e1 = intercept[IllegalStateException] {
      DedupIndex.refreshFromSource(spark, s"$r/idx")
    }
    assert(e1.getMessage.contains("torn"))
    intercept[IllegalStateException](DedupIndex.survivors(spark, s"$r/idx"))
    intercept[IllegalStateException](DedupIndex.members(spark, s"$r/idx"))
    // maintain refuses BEFORE it stamps the reclamation cadence or
    // re-clusters anything: no table's version moves
    def versions = Seq("buckets", "members", "survivors").map(t =>
      graft.delta.DeltaLog.forPath(spark, s"$r/idx/$t").update().version)
    val before = versions
    val e2 = intercept[IllegalStateException] {
      DedupIndex.maintain(spark, s"$r/idx", full = true)
    }
    assert(e2.getMessage.contains("torn"))
    assert(versions == before, s"maintain moved a torn index: $before -> $versions")
    // a full rebuild re-stamps one shared epoch and heals the index
    DedupIndex.buildFromSource(spark, src, "text", "doc_id", s"$r/idx")
    assert(DedupIndex.survivors(spark, s"$r/idx").count() > 0)
  }

  test("pre-r16 layouts refuse on every entry with rebuild; buildFromSource migrates them") {
    import graft.delta.{DeltaLog, DeltaTable, GraftWriter, TxnAction}
    val r = root("legacy")
    val src = s"$r/source"
    GraftWriter.write(corpus, src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    val v0 = DedupIndex.buildFromSource(spark, src, "text", "doc_id",
      s"$r/current", numHashes = 64, bands = 64)
    // hand-made legacy roots: the current index's rows written as fresh
    // tables (no clustering declaration, like an index older than the
    // clustered layout), each missing one part of the current layout
    def legacyRoot(name: String, epoch: Boolean, guards: Boolean,
                   tableMarks: Boolean): String = {
      val idx = s"$r/$name"
      def cfg(t: String) = DeltaLog.forPath(spark, s"$r/current/$t").update()
        .metadata.get.configuration
        .filter { case (k, _) => epoch || k != DedupIndex.EpochKey }
      def rows(t: String) = {
        val df = DeltaTable.forPath(spark, s"$r/current/$t").toDF
        if (guards || t == "buckets") df else df.drop("asof", "dead")
      }
      val mark = Seq(TxnAction(DedupIndex.SourceVersionApp, v0))
      Seq("members", "survivors").foreach { t =>
        GraftWriter.write(rows(t), s"$idx/$t", configuration = Some(cfg(t)),
          extraActions = if (tableMarks) mark else Nil)
      }
      GraftWriter.write(rows("buckets"), s"$idx/buckets",
        partitionBy = Seq("band_idx"), configuration = Some(cfg("buckets")),
        extraActions = mark)
      idx
    }
    val roots = Seq(
      "no epoch on any table" ->
        legacyRoot("noepoch", epoch = false, guards = true, tableMarks = true),
      "members and survivors without asof/dead" ->
        legacyRoot("noguards", epoch = true, guards = false, tableMarks = true),
      "members and survivors without their own mark" ->
        legacyRoot("nomarks", epoch = true, guards = true, tableMarks = false))
    // a pending window, so a refresh that got past the check would fold
    GraftWriter.write(Seq((900L, words(90, 0, 15))).toDF("doc_id", "text"),
      src, SaveMode.Append)
    val entries: Seq[(String, String => Any)] = Seq(
      "refreshFromSource" -> (idx => DedupIndex.refreshFromSource(spark, idx)),
      "survivors" -> (idx => DedupIndex.survivors(spark, idx)),
      "members" -> (idx => DedupIndex.members(spark, idx)),
      "compactDead" -> (idx => DedupIndex.compactDead(spark, idx)),
      "maintain" -> (idx => DedupIndex.maintain(spark, idx, full = true)))
    roots.foreach { case (what, idx) =>
      entries.foreach { case (entry, call) =>
        val e = intercept[IllegalStateException](call(idx))
        assert(e.getMessage.contains("rebuild"), s"$what, $entry: ${e.getMessage}")
      }
    }
    // buildFromSource over each legacy root is the migration: it succeeds,
    // declares the clustering the legacy tables lacked, and serves the
    // same survivors as a fresh build over the same source version
    val fresh = root("legacyfresh")
    DedupIndex.buildFromSource(spark, src, "text", "doc_id", fresh,
      numHashes = 64, bands = 64)
    roots.foreach { case (what, idx) =>
      DedupIndex.buildFromSource(spark, src, "text", "doc_id", idx,
        numHashes = 64, bands = 64)
      assert(dump(DedupIndex.survivors(spark, idx)) ==
        dump(DedupIndex.survivors(spark, fresh)), s"$what: migrated survivors")
      assert(Seq("buckets", "members", "survivors").forall(t =>
        DeltaTable.forPath(spark, s"$idx/$t").clusteringColumns.nonEmpty),
        s"$what: migration must declare clustering")
      assert(DedupIndex.refreshFromSource(spark, idx) == ((0L, 0L)),
        s"$what: the migrated index is current")
    }
  }

  test("r15: cross-window id reuse with different text refuses; identical redelivery is idempotent") {
    val r = root("reuse")
    val src = s"$r/source"
    graft.delta.GraftWriter.write(slice(corpus, 0, 100), src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    DedupIndex.buildFromSource(spark, src, "text", "doc_id", s"$r/idx")
    val before = dump(DedupIndex.members(spark, s"$r/idx")
      .select(col("comp"), col("id"), col("len")))
    // identical redelivery of an ALREADY-INDEXED doc (at-least-once
    // upstream): equal length, folds idempotently
    graft.delta.GraftWriter.write(Seq((5L, words(5, 0, 15)))
      .toDF("doc_id", "text"), src, SaveMode.Append)
    DedupIndex.refreshFromSource(spark, s"$r/idx")
    assert(dump(DedupIndex.members(spark, s"$r/idx")
        .select(col("comp"), col("id"), col("len"))) == before,
      "identical redelivery must not change members")
    // the same id arriving with DIFFERENT text is an update in disguise —
    // previously folded silently (members kept the old len while both
    // texts' band rows accumulated under one id); must refuse loudly
    graft.delta.GraftWriter.write(Seq((6L, words(99, 0, 25)))
      .toDF("doc_id", "text"), src, SaveMode.Append)
    val e = intercept[IllegalArgumentException] {
      DedupIndex.refreshFromSource(spark, s"$r/idx")
    }
    assert(e.getMessage.contains("globally unique ids"))
  }

  test("r15: a fixed batch's probe reads a bounded file subset while the corpus grows") {
    val r = root("bounded")
    val src = s"$r/source"
    // tiny files so the layout machinery produces many per partition
    spark.conf.set("spark.graft.dedup.maintainTargetBytes", "2048")
    try {
      def docs(from: Int, until: Int) =
        spark.range(from, until).selectExpr("id AS doc_id",
          "concat_ws(' ', transform(sequence(0, 14), " +
          "i -> concat('u', id, 'x', i))) AS text")
      graft.delta.GraftWriter.write(docs(0, 400), src,
        configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
      DedupIndex.buildFromSource(spark, src, "text", "doc_id", s"$r/idx",
        numHashes = 16, bands = 4)
      // grow the corpus through refreshes (each maintains the layout)
      Seq((400, 800), (800, 1200)).foreach { case (a, b) =>
        graft.delta.GraftWriter.write(docs(a, b), src, SaveMode.Append)
        DedupIndex.refreshFromSource(spark, s"$r/idx")
      }
      val bucketsPath = s"$r/idx/buckets"
      val total = graft.delta.DeltaLog.forPath(spark, bucketsPath)
        .update().files.size
      assert(total >= 12, s"layout must produce many files, got $total")
      // a small fixed probe (one doc's band hashes) — the exact shape
      // refreshFromSource's candidate probe pushes
      val keyRows = graft.delta.DeltaTable.forPath(spark, bucketsPath)
        .toDF.filter(col("id") === 700L)
        .select("band_idx", "band_hash").collect()
        .map(r => (r.getInt(0), r.getLong(1)))
      assert(keyRows.length == 4)
      val probe = DedupIndex.prunedBuckets(spark, s"$r/idx",
        Some(keyRows.groupBy(_._1).map { case (b, ps) => b -> ps.map(_._2) }))
      val read = probe.inputFiles.length
      assert(read < total / 2,
        s"bounded probe must skip most files: read $read of $total")
      // pruning is file-level only — the kept files still serve every row
      // the unpruned scan would (exactness comes from the join above)
      assert(probe.filter(col("id") === 700L).count() == 4)
    } finally spark.conf.unset("spark.graft.dedup.maintainTargetBytes")
  }

  test("r15: string-keyed members probe reads a bounded file subset") {
    // the verdict-#8 scale posture: generic keys keep the bounded-probe
    // property — InStringSet prunes the id-clustered members layout just
    // like InLongSet prunes long keys
    val r = root("strbounded")
    val src = s"$r/source"
    spark.conf.set("spark.graft.dedup.maintainTargetBytes", "2048")
    try {
      def docs(from: Int, until: Int) =
        spark.range(from, until).selectExpr(
          "format_string('doc://%04d', id) AS doc_id",
          "concat_ws(' ', transform(sequence(0, 14), " +
          "i -> concat('u', id, 'x', i))) AS text")
      graft.delta.GraftWriter.write(docs(0, 400), src,
        configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
      DedupIndex.buildFromSource(spark, src, "text", "doc_id", s"$r/idx",
        numHashes = 16, bands = 4)
      Seq((400, 800), (800, 1200)).foreach { case (a, b) =>
        graft.delta.GraftWriter.write(docs(a, b), src, SaveMode.Append)
        DedupIndex.refreshFromSource(spark, s"$r/idx")
      }
      val membersPath = s"$r/idx/members"
      val total = graft.delta.DeltaLog.forPath(spark, membersPath)
        .update().files.size
      assert(total >= 6, s"layout must produce many files, got $total")
      val probe = DedupIndex.prunedScan(spark, membersPath, "id",
        Some(Array[Any]("doc://0007", "doc://0700")))
      val read = probe.inputFiles.length
      assert(read < total / 2,
        s"string probe must skip most files: read $read of $total")
      // file-level pruning only — the kept files serve every matching row
      assert(probe.filter(col("id").isin("doc://0007", "doc://0700"))
        .count() == 2)
    } finally spark.conf.unset("spark.graft.dedup.maintainTargetBytes")
  }

  test("r15: deletes fold — non-survivor, survivor, and bridge deletions ≡ full recompute") {
    val r = root("del")
    val src = s"$r/source"
    graft.delta.GraftWriter.write(corpus, src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    DedupIndex.buildFromSource(spark, src, "text", "doc_id", s"$r/idx",
      numHashes = 64, bands = 64)
    // family {1,101,301} comp 1 (301 survives: longest); bridge family
    // {10,110,210} comp 10 (210 survives; 10~210, 110~210, but 10 !~ 110)
    def comps(ids: Long*): Set[Long] =
      DedupIndex.members(spark, s"$r/idx")
        .filter(col("id").isin(ids.map(Long.box): _*))
        .select("comp").as[Long].collect().toSet

    // 1. delete a NON-SURVIVOR member (1): family relabels to min remaining
    graft.delta.Dml.delete(spark, src, col("doc_id") === 1L)
    DedupIndex.refreshFromSource(spark, s"$r/idx")
    assert(comps(101L, 301L) == Set(101L), "family must relabel to 101")
    assert(DedupIndex.survivors(spark, s"$r/idx")
      .filter(col("comp") === 101L).select("id").as[Long].head() == 301L)
    assert(DedupIndex.survivors(spark, s"$r/idx")
      .filter(col("comp") === 1L).count() == 0, "old label row must go")

    // 2. delete the BRIDGE (210): {10,110} must SPLIT (J(10,110) < 1/2)
    graft.delta.Dml.delete(spark, src, col("doc_id") === 210L)
    DedupIndex.refreshFromSource(spark, s"$r/idx")
    assert(comps(10L) == Set(10L) && comps(110L) == Set(110L),
      "bridge deletion must split the family")
    assert(DedupIndex.survivors(spark, s"$r/idx")
      .filter(col("comp").isin(10L, 110L)).count() == 2)

    // 3. delete the SURVIVOR (301): {101} re-elects 101
    graft.delta.Dml.delete(spark, src, col("doc_id") === 301L)
    DedupIndex.refreshFromSource(spark, s"$r/idx")
    assert(DedupIndex.survivors(spark, s"$r/idx")
      .filter(col("comp") === 101L).select("id").as[Long].head() == 101L)

    // 4. a later insert window still folds correctly against the
    // post-delete standing state, and the whole thing ≡ a full rebuild
    graft.delta.GraftWriter.write(
      Seq((900L, words(7, 0, 24) + " tailnine")).toDF("doc_id", "text"),
      src, SaveMode.Append) // near-dup of the remaining 101
    DedupIndex.refreshFromSource(spark, s"$r/idx")
    assert(comps(101L, 900L) == Set(101L), "insert must join the family")
    val rf = root("delfull")
    DedupIndex.buildFromSource(spark, src, "text", "doc_id", s"$rf/idx",
      numHashes = 64, bands = 64)
    assert(dump(DedupIndex.survivors(spark, s"$r/idx")) ==
      dump(DedupIndex.survivors(spark, s"$rf/idx")), "≡ full recompute")
    assert(dump(DedupIndex.members(spark, s"$r/idx")
        .select(col("comp"), col("id"), col("len"))) ==
      dump(DedupIndex.members(spark, s"$rf/idx")
        .select(col("comp"), col("id"), col("len"))), "members ≡")
    // deleted docs' band rows are physically gone
    assert(graft.delta.DeltaTable.forPath(spark, s"$r/idx/buckets").toDF
      .filter(col("id").isin(1L, 210L, 301L)).count() == 0)
  }

  test("r15 review: delete→insert→delete in ONE window leaves no orphan band rows") {
    val r = root("dxd")
    val src = s"$r/source"
    graft.delta.GraftWriter.write(slice(corpus, 0, 100), src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    DedupIndex.buildFromSource(spark, src, "text", "doc_id", s"$r/idx",
      numHashes = 64, bands = 64)
    // one window: delete 5 (pre-image = original text A), re-insert with
    // text B, delete again (pre-image = B). Folding only the LAST delete's
    // pre-image would miss A's standing band rows.
    graft.delta.Dml.delete(spark, src, col("doc_id") === 5L)
    graft.delta.GraftWriter.write(Seq((5L, words(95, 0, 20)))
      .toDF("doc_id", "text"), src, SaveMode.Append)
    graft.delta.Dml.delete(spark, src, col("doc_id") === 5L)
    DedupIndex.refreshFromSource(spark, s"$r/idx")
    assert(graft.delta.DeltaTable.forPath(spark, s"$r/idx/buckets").toDF
      .filter(col("id") === 5L).count() == 0,
      "no band rows of ANY of the window's texts may survive")
    assert(DedupIndex.members(spark, s"$r/idx")
      .filter(col("id") === 5L).count() == 0)
    // ≡ full recompute over the final corpus (5 gone)
    val rf = root("dxdfull")
    DedupIndex.buildFromSource(spark, src, "text", "doc_id", s"$rf/idx",
      numHashes = 64, bands = 64)
    assert(dump(DedupIndex.survivors(spark, s"$r/idx")) ==
      dump(DedupIndex.survivors(spark, s"$rf/idx")))
  }

  test("r15 review: a MIXED present/absent epoch set is torn too") {
    val r = root("epochmix")
    val src = s"$r/source"
    graft.delta.GraftWriter.write(slice(corpus, 0, 100), src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    DedupIndex.buildFromSource(spark, src, "text", "doc_id", s"$r/idx")
    // simulate a rebuild of a PRE-epoch index crashing after the members
    // overwrite: members carries an epoch, the other tables none — strip
    // the epoch from members (equivalent torn shape, inverted)
    val frozen = graft.delta.DeltaTable.forPath(spark, s"$r/idx/members")
      .toDF.localCheckpoint(true)
    graft.delta.GraftWriter.write(frozen, s"$r/idx/members",
      SaveMode.Overwrite, overwriteSchema = true,
      configuration = Some(Map.empty))
    val e = intercept[IllegalStateException] {
      DedupIndex.survivors(spark, s"$r/idx")
    }
    assert(e.getMessage.contains("torn"))
  }

  test("r15: same-window delete + re-insert (replacement) re-indexes under the new text") {
    val r = root("replace")
    val src = s"$r/source"
    graft.delta.GraftWriter.write(slice(corpus, 0, 100), src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    DedupIndex.buildFromSource(spark, src, "text", "doc_id", s"$r/idx",
      numHashes = 64, bands = 64)
    // replace singleton 5's text with a near-dup of family {1,...}: the
    // window carries DELETE(5, old) then INSERT(5, new)
    graft.delta.Dml.delete(spark, src, col("doc_id") === 5L)
    graft.delta.GraftWriter.write(
      Seq((5L, words(7, 0, 24) + " tailfive")).toDF("doc_id", "text"),
      src, SaveMode.Append)
    DedupIndex.refreshFromSource(spark, s"$r/idx")
    val m = DedupIndex.members(spark, s"$r/idx")
      .filter(col("id").isin(1L, 5L)).select("comp").as[Long].collect().toSet
    assert(m == Set(1L), s"replaced doc must join family 1, got $m")
    val rf = root("replacefull")
    DedupIndex.buildFromSource(spark, src, "text", "doc_id", s"$rf/idx",
      numHashes = 64, bands = 64)
    assert(dump(DedupIndex.survivors(spark, s"$r/idx")) ==
      dump(DedupIndex.survivors(spark, s"$rf/idx")))
  }

  test("r15: a replayed DELETE window (mark rewound) folds idempotently") {
    val r = root("delreplay")
    val src = s"$r/source"
    graft.delta.GraftWriter.write(corpus, src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    val v0 = DedupIndex.buildFromSource(spark, src, "text", "doc_id",
      s"$r/idx", numHashes = 64, bands = 64)
    graft.delta.Dml.delete(spark, src, col("doc_id").isin(210L, 301L))
    DedupIndex.refreshFromSource(spark, s"$r/idx")
    val before = dump(DedupIndex.survivors(spark, s"$r/idx"))
    val membersBefore = dump(DedupIndex.members(spark, s"$r/idx")
      .select(col("comp"), col("id"), col("len")))
    val bucketsBefore = graft.delta.DeltaTable
      .forPath(spark, s"$r/idx/buckets").toDF.count()
    // rewind the mark and re-fold the same delete window
    val log = graft.delta.DeltaLog.forPath(spark, s"$r/idx/buckets")
    log.update()
    val txn = log.startTransaction()
    txn.addAction(graft.delta.TxnAction(DedupIndex.SourceVersionApp, v0))
    txn.commit()
    DedupIndex.refreshFromSource(spark, s"$r/idx")
    assert(dump(DedupIndex.survivors(spark, s"$r/idx")) == before)
    assert(dump(DedupIndex.members(spark, s"$r/idx")
      .select(col("comp"), col("id"), col("len"))) == membersBefore)
    assert(graft.delta.DeltaTable.forPath(spark, s"$r/idx/buckets")
      .toDF.count() == bucketsBefore)
    assert(DedupIndex.refreshFromSource(spark, s"$r/idx") == ((0L, 0L)),
      "the replay must still advance the mark")
  }

  test("r15: string doc ids — lifecycle ≡ full recompute; fences hold (verdict #8)") {
    // real corpora key on URLs/UUIDs: the whole index must run on a STRING
    // id column with no long cast anywhere — comp labels become min ids
    // under UTF-8 order, probes prune via InStringSet, null literals take
    // the id type
    val r = root("strids")
    val src = s"$r/source"
    def strify(df: org.apache.spark.sql.DataFrame) =
      df.select(format_string("doc://s%d/p%04d", col("doc_id") % 7,
        col("doc_id")).as("doc_id"), col("text"))
    graft.delta.GraftWriter.write(strify(slice(corpus, 0, 200)), src,
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true")))
    DedupIndex.buildFromSource(spark, src, "text", "doc_id", s"$r/idx",
      numHashes = 64, bands = 64)
    assert(DedupIndex.members(spark, s"$r/idx").schema("id").dataType ==
      org.apache.spark.sql.types.StringType,
      "ids must keep their native string type end-to-end")
    // an insert window (bridges 10–110 via 210), then a delete window
    // (take the bridge down again), then another insert window
    graft.delta.GraftWriter.write(strify(slice(corpus, 200, 300)), src,
      SaveMode.Append)
    DedupIndex.refreshFromSource(spark, s"$r/idx")
    graft.delta.Dml.delete(spark, src, col("doc_id") === "doc://s0/p0210")
    DedupIndex.refreshFromSource(spark, s"$r/idx")
    graft.delta.GraftWriter.write(strify(slice(corpus, 300, 400)), src,
      SaveMode.Append)
    DedupIndex.refreshFromSource(spark, s"$r/idx")
    // ≡ full recompute over the final (post-delete) corpus
    val rf = root("strfull")
    DedupIndex.buildFromSource(spark, src, "text", "doc_id", s"$rf/idx",
      numHashes = 64, bands = 64)
    def dumpS(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Long)] =
      df.select("comp", "id", "len").as[(String, String, Long)]
        .collect().toSeq.sorted
    assert(dumpS(DedupIndex.survivors(spark, s"$r/idx")) ==
      dumpS(DedupIndex.survivors(spark, s"$rf/idx")),
      "string-id survivors ≡ full recompute")
    assert(dumpS(DedupIndex.members(spark, s"$r/idx")
        .select(col("comp"), col("id"), col("len"))) ==
      dumpS(DedupIndex.members(spark, s"$rf/idx")
        .select(col("comp"), col("id"), col("len"))), "members ≡")
    // the bridge delete split {10,110} under string labels too
    val m = DedupIndex.members(spark, s"$r/idx")
      .filter(col("id").isin("doc://s3/p0010", "doc://s5/p0110"))
      .select("id", "comp").as[(String, String)].collect().toMap
    assert(m("doc://s3/p0010") == "doc://s3/p0010" &&
      m("doc://s5/p0110") == "doc://s5/p0110",
      s"bridge deletion must split the string-keyed family, got $m")
    // the cross-window id-reuse fence works on strings: re-delivering an
    // indexed id with DIFFERENT text refuses loudly
    graft.delta.GraftWriter.write(
      Seq(("doc://s5/p0005", "completely different body")).toDF("doc_id", "text"),
      src, SaveMode.Append)
    val e = intercept[IllegalArgumentException] {
      DedupIndex.refreshFromSource(spark, s"$r/idx")
    }
    assert(e.getMessage.contains("DIFFERENT"))
  }
}
