package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Maintenance surface of the persisted IVF index: retry-idempotent
  * appends (txn identity), CDC-driven refresh with deletes, stale-index
  * query fallback, the probe-broadcast guard, and a seeded maintenance
  * fuzz interleaving appends × replays × assign-table compaction.
  */
class IvfIndexMaintenanceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("ivf-index-maintenance-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def tmp(name: String): String = {
    val d = s"/tmp/btr-ivf-maint-spec/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    d
  }

  private val Dim = 8

  private def randVecs(ids: Seq[Long], seed: Long): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    ids.map(i => i -> Seq.fill(Dim)(rnd.nextGaussian().toFloat))
  }

  private def df(rows: Seq[(Long, Seq[Float])]): DataFrame = rows.toDF("cid", "cvec")

  private def assignRows(dir: String): Seq[(Long, Int)] =
    spark.read.format("btr").load(SimilarityOps.ivfIndexAssignPath(dir))
      .select(col("cid"), col("cluster"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq

  test("txn-identified append: replayed batch is a no-op; duplicate rows WOULD corrupt top-k") {
    val dir = tmp("txn-append")
    val corpus = randVecs(0L until 200L, seed = 5)
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 8, fitSampleRows = 100)
    // the increment contains a guaranteed rank-1 neighbor per query:
    // cvec = 1.5 × the query vector (cosine exactly 1.0)
    val queries = corpus.take(3).map { case (i, v) => (i, v) }
    val inc = queries.map { case (i, v) => (10000L + i, v.map(x => x * 1.5f)) }
    val (n1, d1) = SimilarityOps.ivfIndexAppend(df(inc), dir,
      txnAppId = Some("feed"), txnVersion = Some(1L))
    assert(n1 == 3 && d1 > 0.0)
    val after1 = assignRows(dir)
    assert(after1.map(_._1).sorted == (corpus.map(_._1) ++ inc.map(_._1)).sorted)

    // replay of the SAME (appId, version): zero rows, table untouched
    val (n2, d2) = SimilarityOps.ivfIndexAppend(df(inc), dir,
      txnAppId = Some("feed"), txnVersion = Some(1L))
    assert(n2 == 0L && d2 == 1.0, s"replay must no-op, got ($n2, $d2)")
    assert(assignRows(dir).sorted == after1.sorted, "replay must not change the assign table")
    // stale below-high-water version: also a no-op
    val (n3, _) = SimilarityOps.ivfIndexAppend(df(inc), dir,
      txnAppId = Some("feed"), txnVersion = Some(0L))
    assert(n3 == 0L)
    assert(assignRows(dir).map(_._1).distinct.length == assignRows(dir).length,
      "no duplicate cids after replays")

    // the NEXT version appends; an independent app is independent
    val inc2 = Seq((20000L, corpus(3)._2.map(_ * 2.0f)))
    val (n4, _) = SimilarityOps.ivfIndexAppend(df(inc2), dir,
      txnAppId = Some("feed"), txnVersion = Some(2L))
    assert(n4 == 1L)

    // sanity before injection: indexed top-k (full probe) ≡ brute force
    val full = df(corpus ++ inc ++ inc2)
    val qdf = df(queries).select(col("cid").as("qid"), col("cvec").as("qvec"))
    def topk() = SimilarityOps.ivfTopKIndexed(qdf, full, dir, k = 3, nprobe = 8)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSeq
    val exact = SimilarityOps.bruteForceTopK(qdf, full, 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSeq
    assert(topk().sorted == exact.sorted)

    // INJECTION: a txn-LESS replay appends duplicate assign rows, and the
    // membership join then serves duplicated candidates — the guaranteed
    // rank-1 neighbors occupy MULTIPLE ranks and displace true results.
    // This is the silent corruption the txn identity exists to prevent.
    SimilarityOps.ivfIndexAppend(df(inc), dir) // no identity: duplicates land
    val dupRows = assignRows(dir)
    assert(dupRows.length == dupRows.map(_._1).distinct.length + 3,
      "injection must produce exactly the 3 duplicate rows")
    val corrupted = topk()
    val dupPairs = corrupted.groupBy(identity).filter(_._2.length > 1)
    assert(dupPairs.nonEmpty,
      "duplicate assign rows must visibly corrupt the indexed top-k " +
        s"(got ${corrupted.length} rows, no duplicated (qid,cid))")
    assert(corrupted.sorted != exact.sorted)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("ivfIndexRefresh consumes CDC deletes and updates; replayed batch no-ops") {
    val base = tmp("refresh")
    val table = s"$base/table"
    val idx = s"$base/index"
    val all = randVecs(0L until 300L, seed = 9)
    // v1: the corpus, retained so the change feed can serve deletes
    df(all).select(col("cid").as("vec_id"), col("cvec").as("embedding"))
      .write.format("btr").option("btr.retainRemoved", "true")
      .mode("overwrite").save(table)
    val v1 = spark.read.format("btr").option("btr.versionAsOf", "1").load(table)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    SimilarityOps.ivfIndexBuild(v1, idx, nlist = 8, fitSampleRows = 100)

    // v2: DELETE every cid % 10 == 0; v3: append fresh rows 1000..1019
    // plus an UPDATE-shaped re-insert of cid 5 with a NEW vector
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.sources.BtrCatalog].getName)
    spark.sql(s"DELETE FROM graft.`$table` WHERE vec_id % 10 = 0 OR vec_id = 5")
    val fresh = randVecs(1000L until 1020L, seed = 77) :+ (5L -> Seq.fill(Dim)(0.25f))
    df(fresh).select(col("cid").as("vec_id"), col("cvec").as("embedding"))
      .write.format("btr").mode("append").save(table)

    val feed = graft.sources.BtrChanges.between(spark, table, 1L, 3L)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"),
        col("_change_type"), col("_commit_version"))
    val stats = SimilarityOps.ivfIndexRefresh(feed, idx,
      txnAppId = Some("refresh"), txnVersion = Some(3L))
    assert(!stats.replayed)
    // the netted feed makes the telemetry EXACT: net-dead = the truly
    // removed cids (cid 5 was re-inserted at v3, so it nets live even
    // though the copy-on-write rewrite emitted delete+re-insert pairs
    // for every rewritten file's survivor)
    assert(stats.rowsDeleted == all.count(_._1 % 10 == 0).toLong,
      s"net-dead must be exactly the removed cids, got ${stats.rowsDeleted}")
    assert(stats.rowsAssigned >= fresh.length)

    // assign table == current table's cids, exactly once each
    val current = spark.read.format("btr").load(table)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val assignCids = assignRows(idx).map(_._1)
    assert(assignCids.sorted == current.select("cid").as[Long].collect().sorted.toSeq,
      "assign table must equal the live corpus after the delete+insert batch")
    assert(assignCids.distinct.length == assignCids.length)

    // the UPDATEd cid 5 carries its NEW vector's assignment
    val centers = SimilarityOps.centroidsOf(spark, idx).map(_._2)
    val fresh5 = df(Seq(5L -> Seq.fill(Dim)(0.25f)))
      .select(element_at(NearestCentersExpr.of(col("cvec"), centers, 1), 1))
      .collect()(0).getInt(0)
    assert(assignRows(idx).toMap.apply(5L) == fresh5)

    // indexed ≡ brute force on the refreshed corpus (full probe)
    val qs = current.filter(col("cid") < 4).select(col("cid").as("qid"), col("cvec").as("qvec"))
    val viaIdx = SimilarityOps.ivfTopKIndexed(qs, current, idx, k = 3, nprobe = 8)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val exact = SimilarityOps.bruteForceTopK(qs, current, 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    assert(viaIdx == exact)

    // replay of the whole batch: no delete re-run, no append — the
    // delete-then-append sequence must NOT eat the updated row on retry
    val before = assignRows(idx).sorted
    val replay = SimilarityOps.ivfIndexRefresh(feed, idx,
      txnAppId = Some("refresh"), txnVersion = Some(3L))
    assert(replay.replayed && replay.rowsAssigned == 0 && replay.rowsDeleted == 0)
    assert(assignRows(idx).sorted == before)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("stale index: unassigned candidates assign on the fly, staleness probe counts them") {
    val dir = tmp("stale")
    val all0 = randVecs(0L until 240L, seed = 13)
    // plant a guaranteed fallback hit: lagging cid 4 = 1.5 × query 1's
    // vector (cosine 1.0 → rank 1 for qid 1), so the on-the-fly
    // assignment is provably exercised, not left to random top-k chance
    val all = all0.map { case (i, v) =>
      if (i == 4L) (i, all0(1)._2.map(x => x * 1.5f)) else (i, v)
    }
    val (indexed, lagging) = all.partition(_._1 % 4 != 0)
    SimilarityOps.ivfIndexBuild(df(indexed), dir, nlist = 8, fitSampleRows = 100)
    val full = df(all)
    assert(SimilarityOps.ivfIndexStaleness(full, dir) == lagging.length,
      "staleness probe = candidates the index has not assigned")
    assert(SimilarityOps.ivfIndexStaleness(df(indexed), dir) == 0L)
    // the query path must cover the FULL candidate set — the lagging rows
    // assign on the fly against the persisted centroids, so a full probe
    // still equals brute force (an inner membership join would silently
    // drop every 4th row)
    val qs = full.filter(col("cid") < 4).select(col("cid").as("qid"), col("cvec").as("qvec"))
    val viaIdx = SimilarityOps.ivfTopKIndexed(qs, full, dir, k = 4, nprobe = 8)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val exact = SimilarityOps.bruteForceTopK(qs, full, 4)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    assert(viaIdx == exact, "stale index must not narrow the search space")
    assert(viaIdx.exists { case (_, cid) => cid % 4 == 0 },
      "schedule too tame: no lagging row in any top-k — the fallback went unexercised")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("probe broadcast guard: an oversized query batch drops the hint, same rows") {
    val dir = tmp("guard")
    val corpus = randVecs(0L until 150L, seed = 21)
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 8, fitSampleRows = 100)
    val full = df(corpus)
    val qs = full.filter(col("cid") < 6).select(col("cid").as("qid"), col("cvec").as("qvec"))
    val hinted = SimilarityOps.ivfTopKIndexed(qs, full, dir, k = 3, nprobe = 8)
    val guarded = SimilarityOps.ivfTopKIndexed(qs, full, dir, k = 3, nprobe = 8,
      maxBroadcastProbes = 1L)
    def hasBroadcastHint(dfr: DataFrame): Boolean =
      dfr.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.hint.leftHint.exists(_.strategy.isDefined) ||
              j.hint.rightHint.exists(_.strategy.isDefined) => j
      }.nonEmpty
    assert(hasBroadcastHint(hinted), "bounded batch keeps the broadcast hint")
    assert(!hasBroadcastHint(guarded), "over-cap batch must drop the broadcast hint")
    val a = hinted.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val b = guarded.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(a == b, "guarded path returns identical rows")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("centroid cache: a wipe + rebuild at the same v1 serves the NEW centroids") {
    // ADVICE r21 (medium): the cache keyed on the marker's (mtime, length)
    // alone — a full index wipe + rebuild reuses v1 with an identical-
    // length body, so a coarse-mtime filesystem could serve the OLD
    // build's centroids. The marker now carries a per-publication stamp
    // and the cache keys on the body content, so the second build MUST
    // miss regardless of filesystem timestamp granularity.
    val dir = tmp("centroid-cache")
    val corpusA = randVecs(0L until 200L, seed = 31)
    SimilarityOps.ivfIndexBuild(df(corpusA), dir, nlist = 4, fitSampleRows = 100)
    val centsA = SimilarityOps.centroidsOf(spark, dir) // fills the cache
    // the published marker body carries the publication stamp
    val marker = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/v1/_published")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(marker.contains("\"stamp\""),
      s"published marker must carry a per-publication stamp, got: $marker")
    // full wipe + rebuild of the SAME v1 from different vectors, back to
    // back (same mtime tick on coarse filesystems; the stamp still differs)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val corpusB = randVecs(0L until 200L, seed = 32)
    SimilarityOps.ivfIndexBuild(df(corpusB), dir, nlist = 4, fitSampleRows = 100)
    val centsB = SimilarityOps.centroidsOf(spark, dir)
    assert(centsB != centsA,
      "rebuild at the same v1 must serve fresh centroids, not the cached build's")
    // and the fresh read really is the new build's content
    val onDisk = spark.read.format("btr").load(s"$dir/v1/centroids")
      .select(col("cluster"), col("centroid"), col("mean_cos"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(centsB == onDisk)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("ivfIndexMaintainStream: the index tracks the change feed across appends, deletes and restart") {
    val base = tmp("stream")
    val table = s"$base/table"
    val idx = s"$base/index"
    val ckpt = s"$base/ckpt"
    val all = randVecs(0L until 200L, seed = 31)
    df(all).select(col("cid").as("vec_id"), col("cvec").as("embedding"))
      .write.format("btr").option("btr.retainRemoved", "true")
      .mode("overwrite").save(table)
    val snapshot = spark.read.format("btr").load(table)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    SimilarityOps.ivfIndexBuild(snapshot, idx, nlist = 8, fitSampleRows = 100)

    def startStream() = SimilarityOps.ivfIndexMaintainStream(
      spark, table, idx, "vec_id", "embedding", appId = "maint", checkpointDir = ckpt)

    val b1 = randVecs(1000L until 1030L, seed = 41)
    val q = startStream()
    try {
      // micro-batch 1: an append lands in the index incrementally
      df(b1).select(col("cid").as("vec_id"), col("cvec").as("embedding"))
        .write.format("btr").mode("append").save(table)
      q.processAllAvailable()
      assert(assignRows(idx).map(_._1).sorted == (all ++ b1).map(_._1).sorted)

      // micro-batch 2: a DELETE flows through as delete rows
      spark.conf.set("spark.sql.catalog.graft", classOf[graft.sources.BtrCatalog].getName)
      spark.sql(s"DELETE FROM graft.`$table` WHERE vec_id % 5 = 0")
      q.processAllAvailable()
      val live = (all ++ b1).map(_._1).filterNot(_ % 5 == 0)
      assert(assignRows(idx).map(_._1).sorted == live.sorted,
        "delete batch must shrink the assign table to the live corpus")
    } finally q.stop()

    // restart on the same checkpoint: no duplicate refreshes, and the
    // next batch continues from the recorded horizon. The offline window
    // also plants an IN-BATCH insert-then-delete: rows 2005..2009 are
    // appended and then deleted BEFORE the stream restarts, so one
    // micro-batch carries both events — the netted refresh must leave no
    // phantom assign rows for rows that lived shorter than the batch
    val b2 = randVecs(2000L until 2010L, seed = 43)
    df(b2).select(col("cid").as("vec_id"), col("cvec").as("embedding"))
      .write.format("btr").mode("append").save(table)
    spark.sql(s"DELETE FROM graft.`$table` WHERE vec_id >= 2005")
    val q2 = startStream()
    try {
      q2.processAllAvailable()
      val live = ((all ++ b1).map(_._1).filterNot(_ % 5 == 0) ++
        b2.map(_._1).filter(_ < 2005)).sorted
      val rows = assignRows(idx)
      assert(rows.map(_._1).sorted == live, "restarted stream must continue exactly-once")
      assert(rows.map(_._1).distinct.length == rows.length, "no duplicate assign rows after restart")
      // and the maintained index still serves exact results (full probe)
      val current = spark.read.format("btr").load(table)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val qs = current.filter(col("cid") < 4).select(col("cid").as("qid"), col("cvec").as("qvec"))
      val viaIdx = SimilarityOps.ivfTopKIndexed(qs, current, idx, k = 3, nprobe = 8)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
      val exact = SimilarityOps.bruteForceTopK(qs, current, 3)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
      assert(viaIdx == exact)
    } finally q2.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("drift probe ≈1 on the build corpus; a shifted corpus triggers the gated rebuild") {
    val dir = tmp("drift")
    // corpus lives in the FIRST half of the dims; the drifted corpus
    // moves the same values into the second half — every drifted vector
    // is exactly orthogonal to every build-time centroid (probe → 0),
    // so the gate decision is deterministic, not threshold-marginal
    val corpus = randVecs(0L until 300L, seed = 51).map { case (i, v) =>
      (i, v.zipWithIndex.map { case (x, j) => if (j < Dim / 2) x else 0f })
    }
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 8, fitSampleRows = 200)
    val d0 = SimilarityOps.ivfIndexDriftProbe(df(corpus), dir, sampleRows = 200)
    assert(d0 > 0.75 && d0 < 1.25, s"same-corpus drift probe should be ~1, got $d0")
    val (rebuilt0, _) = SimilarityOps.ivfIndexRebuildIfDrifted(df(corpus), dir,
      minDrift = 0.8, nlist = 8, fitSampleRows = 200, sampleRows = 200)
    assert(!rebuilt0, "an undrifted corpus must not trigger a rebuild")

    // rotate the distribution into the orthogonal half-space
    val shifted = corpus.map { case (i, v) =>
      (i, v.indices.map(j => if (j >= Dim / 2) v(j - Dim / 2) else 0f).toSeq)
    }
    val dShift = SimilarityOps.ivfIndexDriftProbe(df(shifted), dir, sampleRows = 200)
    assert(dShift < 0.2, s"orthogonal corpus must probe as fully drifted, got $dShift")
    val (rebuilt, dAtRebuild) = SimilarityOps.ivfIndexRebuildIfDrifted(df(shifted), dir,
      minDrift = 0.8, nlist = 8, fitSampleRows = 200, sampleRows = 200)
    assert(rebuilt && dAtRebuild == dShift)
    // after the re-fit the index describes the shifted corpus again and
    // serves brute-force-exact results at full probe
    val dAfter = SimilarityOps.ivfIndexDriftProbe(df(shifted), dir, sampleRows = 200)
    assert(dAfter > 0.75 && dAfter < 1.25, s"post-rebuild drift should be ~1, got $dAfter")
    val qs = df(shifted.take(3)).select(col("cid").as("qid"), col("cvec").as("qvec"))
    val viaIdx = SimilarityOps.ivfTopKIndexed(qs, df(shifted), dir, k = 3, nprobe = 8)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val exact = SimilarityOps.bruteForceTopK(qs, df(shifted), 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    assert(viaIdx == exact)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("rebuild is crash-atomic: a crash in either window leaves readers on the prior build") {
    val dir = tmp("crash-rebuild")
    val corpus = randVecs(0L until 200L, seed = 61)
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 8, fitSampleRows = 100)
    val st1 = SimilarityOps.ivfIndexState(dir)
    val qs = df(corpus.take(3)).select(col("cid").as("qid"), col("cvec").as("qvec"))
    def topk() = SimilarityOps.ivfTopKIndexed(qs, df(corpus), dir, k = 3, nprobe = 8)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val before = topk()
    val beforeCents = SimilarityOps.centroidsOf(spark, dir)
    val beforeAssign = assignRows(dir).sorted
    // a rebuild attempt whose quantizer input DIFFERS (scaled vectors) —
    // if any window leaked, the mixed state would be visible below
    val scaled = corpus.map { case (i, v) => (i, v.map(_ * 3f)) }
    def crashed(hook: (() => Unit) => Unit): Unit = {
      hook(() => throw new RuntimeException("injected crash"))
      try {
        val e = intercept[RuntimeException] {
          SimilarityOps.ivfIndexBuild(df(scaled), dir, nlist = 8, fitSampleRows = 100)
        }
        assert(e.getMessage == "injected crash")
      } finally hook(() => ())
      // the pointer never advanced: readers see the OLD build in full —
      // old centroids AND old assign rows, never a mix
      assert(SimilarityOps.ivfIndexState(dir).buildVersion == st1.buildVersion,
        "a crashed rebuild must not advance the pointer")
      assert(SimilarityOps.centroidsOf(spark, dir) == beforeCents,
        "reader must still resolve the OLD centroids")
      assert(assignRows(dir).sorted == beforeAssign,
        "reader must still resolve the OLD assign table")
      assert(topk() == before, "serving must be unchanged by the crashed rebuild")
    }
    // window A: between the staged centroids write and the assign write
    crashed(f => SimilarityOps.ivfBuildInjectMid = f)
    // window B: both tables staged, pointer not yet published
    crashed(f => SimilarityOps.ivfBuildInjectPrePublish = f)
    // a COMPLETED rebuild flips atomically to the new build
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 8, fitSampleRows = 100)
    val st2 = SimilarityOps.ivfIndexState(dir)
    assert(st2.buildVersion > st1.buildVersion)
    assert(assignRows(dir).length == corpus.length)
    assert(topk() == before, "same corpus, full probe: results identical across builds")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("rebuild corpusVersion: an overlapping change-feed replay converges, no duplicates") {
    val base = tmp("rebuild-overlap")
    val table = s"$base/table"
    val idx = s"$base/index"
    val all = randVecs(0L until 200L, seed = 71)
    df(all).select(col("cid").as("vec_id"), col("cvec").as("embedding"))
      .write.format("btr").option("btr.retainRemoved", "true")
      .mode("overwrite").save(table) // v1
    val b1 = randVecs(1000L until 1020L, seed = 72)
    df(b1).select(col("cid").as("vec_id"), col("cvec").as("embedding"))
      .write.format("btr").mode("append").save(table) // v2
    // the rebuild reads the corpus AS OF v2 and records it
    val cur = spark.read.format("btr").option("btr.versionAsOf", "2").load(table)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    SimilarityOps.ivfIndexBuild(cur, idx, nlist = 8, fitSampleRows = 100,
      corpusVersion = Some(2L))
    assert(SimilarityOps.ivfIndexState(idx).corpusVersion.contains(2L))
    def feed(from: Long, to: Long) =
      graft.sources.BtrChanges.between(spark, table, from, to)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"),
          col("_change_type"), col("_commit_version"))
    // a lagging consumer replays the (1,2] feed the build already
    // reflects: without the base-version filter this would append 20
    // duplicate assign rows (the pure-append path has no MERGE leg)
    val st = SimilarityOps.ivfIndexRefresh(feed(1L, 2L), idx,
      txnAppId = Some("lag"), txnVersion = Some(2L))
    assert(st.rowsAssigned == 0,
      s"events at-or-below the build's corpusVersion must drop, got $st")
    val rows1 = assignRows(idx)
    assert(rows1.map(_._1).distinct.length == rows1.length)
    assert(rows1.length == all.length + b1.length)
    // a feed STRADDLING the base applies only its post-base suffix
    val b2 = randVecs(2000L until 2015L, seed = 73)
    df(b2).select(col("cid").as("vec_id"), col("cvec").as("embedding"))
      .write.format("btr").mode("append").save(table) // v3
    val st2 = SimilarityOps.ivfIndexRefresh(feed(1L, 3L), idx,
      txnAppId = Some("lag"), txnVersion = Some(3L))
    assert(st2.rowsAssigned == b2.length.toLong,
      s"straddling feed must apply exactly the post-base suffix, got $st2")
    val rows2 = assignRows(idx)
    assert(rows2.map(_._1).distinct.length == rows2.length, "no duplicate assign rows")
    assert(rows2.map(_._1).sorted == (all ++ b1 ++ b2).map(_._1).sorted)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("streaming drift loop: injected drift triggers exactly one atomic rebuild, serving stays exact") {
    val base = tmp("stream-drift")
    val table = s"$base/table"
    val idx = s"$base/index"
    val ckpt = s"$base/ckpt"
    // build-time corpus lives in the FIRST half of the dims; the injected
    // drift appends 2× as many rows living in the orthogonal second half,
    // pulling the corpus-level probe ratio to ~1/3 — far below the gate
    val corpus = randVecs(0L until 200L, seed = 81).map { case (i, v) =>
      (i, v.zipWithIndex.map { case (x, j) => if (j < Dim / 2) x else 0f })
    }
    df(corpus).select(col("cid").as("vec_id"), col("cvec").as("embedding"))
      .write.format("btr").option("btr.retainRemoved", "true")
      .mode("overwrite").save(table)
    val snapshot = spark.read.format("btr").load(table)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    SimilarityOps.ivfIndexBuild(snapshot, idx, nlist = 8, fitSampleRows = 200)
    val st0 = SimilarityOps.ivfIndexState(idx)
    val q = SimilarityOps.ivfIndexMaintainStream(
      spark, table, idx, "vec_id", "embedding", appId = "maint-drift",
      checkpointDir = ckpt, driftProbeEveryBatches = 1, minDrift = 0.8,
      nlist = 8, fitSampleRows = 200, driftSampleRows = 200)
    try {
      val shifted = randVecs(1000L until 1400L, seed = 82).map { case (i, v) =>
        (i, v.zipWithIndex.map { case (x, j) => if (j >= Dim / 2) x else 0f })
      }
      df(shifted).select(col("cid").as("vec_id"), col("cvec").as("embedding"))
        .write.format("btr").mode("append").save(table)
      q.processAllAvailable()
      val st1 = SimilarityOps.ivfIndexState(idx)
      assert(st1.buildVersion == st0.buildVersion + 1,
        s"drifted batch must trigger exactly ONE rebuild, got $st0 -> $st1")
      assert(st1.corpusVersion.isDefined, "the in-loop rebuild must record its corpus version")
      val rows1 = assignRows(idx)
      assert(rows1.map(_._1).distinct.length == rows1.length, "no duplicates after the rebuild")
      assert(rows1.map(_._1).sorted == (corpus ++ shifted).map(_._1).sorted)
      // an UNDRIFTED follow-up batch refreshes incrementally (its events
      // postdate the recorded corpus version) and must NOT rebuild again
      val b2 = randVecs(2000L until 2030L, seed = 83).map { case (i, v) =>
        (i, v.zipWithIndex.map { case (x, j) => if (j >= Dim / 2) x else 0f })
      }
      df(b2).select(col("cid").as("vec_id"), col("cvec").as("embedding"))
        .write.format("btr").mode("append").save(table)
      q.processAllAvailable()
      val st2 = SimilarityOps.ivfIndexState(idx)
      assert(st2.buildVersion == st1.buildVersion, "undrifted batch must not rebuild")
      val rows2 = assignRows(idx)
      assert(rows2.map(_._1).distinct.length == rows2.length)
      assert(rows2.map(_._1).sorted == (corpus ++ shifted ++ b2).map(_._1).sorted,
        "exactly-once across the rebuild boundary")
      // serving stays exact throughout (full probe ≡ brute force)
      val current = spark.read.format("btr").load(table)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val qs = current.filter(col("cid").isin(0L, 1L, 1000L, 2000L))
        .select(col("cid").as("qid"), col("cvec").as("qvec"))
      val viaIdx = SimilarityOps.ivfTopKIndexed(qs, current, idx, k = 3, nprobe = 8)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
      val exact = SimilarityOps.bruteForceTopK(qs, current, 3)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
      assert(viaIdx == exact)
    } finally q.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("ivfIndexVacuum drops superseded builds, keeps current + prior, spares staged rebuilds") {
    val dir = tmp("vacuum")
    val corpus = randVecs(0L until 150L, seed = 91)
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 4, fitSampleRows = 100) // v1
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 4, fitSampleRows = 100) // v2
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 4, fitSampleRows = 100) // v3
    def vdirs(): Set[String] = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("v\\d+")).map(_.getName).toSet
    assert(vdirs() == Set("v1", "v2", "v3"))
    // a STAGED rebuild above the pointer (crash mid-build) must survive
    val staged = new java.io.File(dir, "v4/_claim")
    staged.getParentFile.mkdirs()
    new java.io.FileOutputStream(staged).close()
    // default keepLast=2: current (v3) + one prior (v2) stay
    assert(SimilarityOps.ivfIndexVacuum(dir) == 1)
    assert(vdirs() == Set("v2", "v3", "v4"), s"got ${vdirs()}")
    // keepLast=1: only the current build remains (plus the staged v4)
    assert(SimilarityOps.ivfIndexVacuum(dir, keepLast = 1) == 1)
    assert(vdirs() == Set("v3", "v4"))
    // serving is untouched throughout
    val qs = df(corpus.take(2)).select(col("cid").as("qid"), col("cvec").as("qvec"))
    val viaIdx = SimilarityOps.ivfTopKIndexed(qs, df(corpus), dir, k = 3, nprobe = 4)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val exact = SimilarityOps.bruteForceTopK(qs, df(corpus), 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    assert(viaIdx == exact)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("maintenance fuzz: appends × replays × assign-table compaction stay exactly-once") {
    // the assign table is an ordinary btr table — index appends race
    // OPTIMIZE like any writer. Seeded rounds interleave txn-identified
    // appends, replays of committed versions, and compaction with an
    // append/replay fired INSIDE the compactor's windows; the oracle is
    // exactly-once: assign cids == committed batches' cids, no
    // duplicates, and clusters == a fresh kernel assignment at the end.
    val extra = sys.env.get("SPARK_GRAFT_FUZZ_SEEDS").toSeq
      .flatMap(_.split(',')).flatMap(s => scala.util.Try(s.trim.toLong).toOption)
    // schedule-coverage counters aggregate across ALL seeds in the run:
    // an arbitrary hunt seed may legitimately draw a tame schedule
    // (P(zero compacts in 16 rounds) ≈ 5%), but the RUN as a whole must
    // exercise every arm or the fuzz proves nothing
    var replays = 0; var compacts = 0; var inWindow = 0; var refreshes = 0
    for (seed <- Seq(11051105L, 90210L) ++ extra) {
      val dir = tmp(s"fuzz-$seed")
      val rnd = new scala.util.Random(seed)
      val corpus = randVecs(0L until 120L, seed = seed)
      SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 4, fitSampleRows = 100)
      val live = scala.collection.mutable.Map[Long, Seq[Float]](corpus: _*)
      var nextCid = 1000L
      var nextVer = 0L
      val committed = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[(Long, Seq[Float])])]
      // committed REFRESH batches: (version, feed rows (cid, cvec, type, ver))
      val refreshedBatches =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[(Long, Seq[Float], String, Long)])]

      def freshBatch(): Seq[(Long, Seq[Float])] = {
        val n = 2 + rnd.nextInt(5)
        val b = randVecs(nextCid until nextCid + n, seed = rnd.nextLong())
        nextCid += n
        b
      }
      def feedDf(rows: Seq[(Long, Seq[Float], String, Long)]): org.apache.spark.sql.DataFrame =
        rows.toDF("cid", "cvec", "_change_type", "_commit_version")
      def append(): Unit = {
        val b = freshBatch(); nextVer += 1
        val (n, _) = SimilarityOps.ivfIndexAppend(df(b), dir,
          txnAppId = Some("fuzz"), txnVersion = Some(nextVer))
        assert(n == b.length)
        committed += ((nextVer, b)); b.foreach { case (i, v) => live(i) = v }
      }
      def replay(): Unit = if (committed.nonEmpty || refreshedBatches.nonEmpty) {
        // any committed version (append OR refresh) must no-op on replay
        val total = committed.length + refreshedBatches.length
        val pick = rnd.nextInt(total)
        if (pick < committed.length) {
          val (ver, b) = committed(pick)
          val (n, _) = SimilarityOps.ivfIndexAppend(df(b), dir,
            txnAppId = Some("fuzz"), txnVersion = Some(ver))
          assert(n == 0L, s"seed=$seed: replay of append v$ver appended $n rows")
        } else {
          val (ver, rows) = refreshedBatches(pick - committed.length)
          val st = SimilarityOps.ivfIndexRefresh(feedDf(rows), dir,
            txnAppId = Some("fuzz"), txnVersion = Some(ver))
          assert(st.replayed && st.rowsAssigned == 0 && st.rowsDeleted == 0,
            s"seed=$seed: replay of refresh v$ver was not a no-op: $st")
        }
        replays += 1
      }
      def refresh(): Unit = {
        // a netted change batch: fresh inserts, deletes of existing cids,
        // an update (delete+insert of one existing cid at the same
        // version), and sometimes a PHANTOM (insert@1 then delete@2 —
        // a row living shorter than the batch must leave no assign row)
        val ins = freshBatch()
        val pool = rnd.shuffle(live.keys.toSeq.sorted)
        val dels = pool.take(rnd.nextInt(math.min(4, pool.size + 1)))
        val upd = pool.drop(dels.length).take(rnd.nextInt(2))
        val updVecs = upd.map(i => i -> randVecs(Seq(i), rnd.nextLong()).head._2)
        val phantom =
          if (rnd.nextBoolean()) randVecs(Seq({ nextCid += 1; nextCid - 1 }), rnd.nextLong())
          else Nil
        val rows =
          ins.map { case (i, v) => (i, v, "insert", 1L) } ++
            dels.map(i => (i, live(i), "delete", 1L)) ++
            updVecs.map { case (i, v) => (i, v, "insert", 1L) } ++
            upd.map(i => (i, live(i), "delete", 1L)) ++
            phantom.map { case (i, v) => (i, v, "insert", 1L) } ++
            phantom.map { case (i, v) => (i, v, "delete", 2L) }
        nextVer += 1
        val st = SimilarityOps.ivfIndexRefresh(feedDf(rows), dir,
          txnAppId = Some("fuzz"), txnVersion = Some(nextVer))
        assert(!st.replayed, s"seed=$seed: fresh refresh v$nextVer claimed replayed")
        assert(st.rowsAssigned == ins.length + upd.length,
          s"seed=$seed: refresh assigned ${st.rowsAssigned}, want ${ins.length + upd.length}")
        assert(st.rowsDeleted == dels.length + phantom.length,
          s"seed=$seed: refresh net-dead ${st.rowsDeleted}, want ${dels.length + phantom.length}")
        refreshedBatches += ((nextVer, rows))
        dels.foreach(live.remove)
        ins.foreach { case (i, v) => live(i) = v }
        updVecs.foreach { case (i, v) => live(i) = v }
        refreshes += 1
      }
      for (round <- 0 until 16) {
        rnd.nextInt(6) match {
          case 0 | 1 => append()
          case 2 => replay()
          case 3 | 4 => refresh()
          case _ =>
            // compaction with an append or replay landing inside its
            // window (before the conflict check, or between journal
            // publish and renames)
            val fire: () => Unit =
              if (rnd.nextBoolean()) { () => { append(); inWindow += 1 } }
              else { () => { replay(); inWindow += 1 } }
            try {
              if (rnd.nextBoolean())
                graft.sources.BtrCompact.compact(spark, SimilarityOps.ivfIndexAssignPath(dir), 1L << 20,
                  beforeSwap = fire)
              else
                graft.sources.BtrCompact.compact(spark, SimilarityOps.ivfIndexAssignPath(dir), 1L << 20,
                  afterJournal = fire)
            } catch { case _: IllegalStateException => () } // compactor yields
            compacts += 1
        }
        val rows = assignRows(dir)
        assert(rows.map(_._1).sorted == live.keys.toSeq.sorted,
          s"seed=$seed round=$round: assign cids != committed cids")
        assert(rows.map(_._1).distinct.length == rows.length,
          s"seed=$seed round=$round: duplicate assign rows")
      }
      // final semantic oracle: every live cid carries the same cluster a
      // fresh assignment against the persisted centroids produces
      val centers = SimilarityOps.centroidsOf(spark, dir).map(_._2)
      val freshAssign = df(live.toSeq)
        .select(col("cid"), element_at(NearestCentersExpr.of(col("cvec"), centers, 1), 1).as("cl"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assignRows(dir).foreach { case (cid, cl) =>
        assert(freshAssign(cid) == cl, s"seed=$seed: cid=$cid cluster drifted through maintenance")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
    assert(replays >= 1 && compacts >= 1 && inWindow >= 1 && refreshes >= 1,
      s"run-wide schedule too tame: replays=$replays compacts=$compacts " +
        s"inWindow=$inWindow refreshes=$refreshes")
  }

  test("concurrent rebuild: the lost race never moves the pointer backwards") {
    // Staging serializes on the v{N}/_claim putIfAbsent, but PUBLICATION
    // order is a separate hazard: build A claims v2, then a faster build
    // B claims v3 and publishes FIRST. A's blind pointer put would move
    // _current BACKWARDS onto v2 — and a vacuum(keepLast=1) after B's
    // publish deletes v2 (below the pointer), so A would then publish a
    // pointer to a deleted build. The monotonic guard re-reads the
    // pointer pre-publish and abandons the superseded build instead.
    val dir = tmp("concurrent-rebuild")
    val corpus = randVecs(0L until 150L, seed = 101)
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 4, fitSampleRows = 100) // v1
    // A's quantizer input DIFFERS (scaled): if A's build ever became
    // current, serving would rank against the wrong vector copies
    val scaled = corpus.map { case (i, v) => (i, v.map(_ * 3f)) }
    var innerPublished = false
    SimilarityOps.ivfBuildInjectPrePublish = () => {
      // reset FIRST: the nested build fires the same hook
      SimilarityOps.ivfBuildInjectPrePublish = () => ()
      // B: claims the next free slot (v3; v2 is A's), publishes v3
      innerPublished = SimilarityOps.ivfIndexBuild(
        df(corpus), dir, nlist = 4, fitSampleRows = 100)
      // vacuum racing A's unpublished staging: v2 is below the pointer —
      // keepLast=1 sweeps it, the exact ADVICE hazard; A must still not
      // publish a pointer onto the deleted v2
      SimilarityOps.ivfIndexVacuum(dir, keepLast = 1)
    }
    val outerPublished =
      try SimilarityOps.ivfIndexBuild(df(scaled), dir, nlist = 4, fitSampleRows = 100)
      finally SimilarityOps.ivfBuildInjectPrePublish = () => ()
    assert(innerPublished, "the faster rebuild publishes normally")
    assert(!outerPublished, "the lost race must report it did NOT publish")
    val st = SimilarityOps.ivfIndexState(dir)
    assert(st.buildVersion == 3L,
      s"pointer must stay on the newest published build, got v${st.buildVersion}")
    // serving resolves B's build end-to-end (A's scaled vectors nowhere)
    val qs = df(corpus.take(2)).select(col("cid").as("qid"), col("cvec").as("qvec"))
    val viaIdx = SimilarityOps.ivfTopKIndexed(qs, df(corpus), dir, k = 3, nprobe = 4)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val exact = SimilarityOps.bruteForceTopK(qs, df(corpus), 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    assert(viaIdx == exact)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("vacuum retention counts only PUBLISHED builds; abandoned stages are swept") {
    // ADVICE r17: an abandoned UNPUBLISHED stage (lost concurrent-rebuild
    // race) must not occupy a keepLast slot — with keepLast=2 the real
    // prior published build stays (the reader-safety contract), and the
    // useless stage is swept as superseded.
    val dir = tmp("vacuum-published-only")
    val corpus = randVecs(0L until 150L, seed = 131)
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 4, fitSampleRows = 100) // v1
    SimilarityOps.ivfBuildInjectPrePublish = () => {
      SimilarityOps.ivfBuildInjectPrePublish = () => ()
      SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 4, fitSampleRows = 100) // v3
    }
    val won = // claims v2, loses the race to the nested v3, abandons
      try SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 4, fitSampleRows = 100)
      finally SimilarityOps.ivfBuildInjectPrePublish = () => ()
    assert(!won)
    assert(SimilarityOps.ivfIndexState(dir).buildVersion == 3L)
    val dropped = SimilarityOps.ivfIndexVacuum(dir, keepLast = 2)
    assert(dropped >= 1, "the abandoned v2 stage must be swept")
    assert(new java.io.File(dir, "v1/_published").exists(),
      "keepLast=2 must retain the prior PUBLISHED build v1, not the v2 stage")
    assert(!new java.io.File(dir, "v2").exists(),
      "the unpublished v2 stage below the pointer is superseded garbage")
    assert(new java.io.File(dir, "v3/_published").exists())
    // a reader pinned on v1 (resolved just before v3 published) still reads
    assert(spark.read.format("btr").load(s"$dir/v1/assign").count() == corpus.length.toLong)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("a stale (backwards) pointer never moves RESOLUTION backwards") {
    // VERDICT r17 #4: the publication guard was check-then-put, so a lost
    // race could still write _current backwards in a narrow window. The
    // published markers are now the authority: resolution takes the max
    // of pointer and markers, so even a deterministically-injected
    // backwards pointer cannot regress a reader.
    val dir = tmp("stale-pointer")
    val corpus = randVecs(0L until 150L, seed = 141)
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 4, fitSampleRows = 100,
      corpusVersion = Some(5L)) // v1
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 4, fitSampleRows = 100,
      corpusVersion = Some(9L)) // v2
    // inject the inversion: a lost-race v1 build blindly rewrites _current
    // (drop the local-FS checksum sidecar — a raw write bypasses it)
    new java.io.File(dir, "._current.crc").delete()
    java.nio.file.Files.write(new java.io.File(dir, "_current").toPath,
      "{\"v\":1,\"corpusVersion\":5}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val st = SimilarityOps.ivfIndexState(dir)
    assert(st.buildVersion == 2L, s"marker must out-rank the stale pointer, got $st")
    assert(st.corpusVersion.contains(9L),
      s"resolution must carry the published build's corpusVersion, got $st")
    // the full read path serves v2 through the inverted pointer
    val qs = df(corpus.take(2)).select(col("cid").as("qid"), col("cvec").as("qvec"))
    val viaIdx = SimilarityOps.ivfTopKIndexed(qs, df(corpus), dir, k = 3, nprobe = 4)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val exact = SimilarityOps.bruteForceTopK(qs, df(corpus), 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    assert(viaIdx == exact)
    // vacuum under the stale pointer uses the RESOLVED version: v2 survives
    SimilarityOps.ivfIndexVacuum(dir, keepLast = 1)
    assert(new java.io.File(dir, "v2/_published").exists())
    // the next publish repairs the pointer cache
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 4, fitSampleRows = 100) // v3
    assert(SimilarityOps.ivfIndexState(dir).buildVersion == 3L)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("absent _current resolves the highest PUBLISHED build, never the swept root") {
    // On stores whose rename refuses to clobber, the pointer republish is
    // delete-then-rename: a reader racing the gap sees NO _current, so
    // state resolution must fall back to the highest once-published v-dir
    // instead of reading as "no build yet".
    val dir = tmp("absent-pointer")
    val corpus = randVecs(0L until 150L, seed = 111)
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 4, fitSampleRows = 100) // v1
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 4, fitSampleRows = 100) // v2
    // a staged-but-unpublished v3 (crashed rebuild) must NOT be resolved
    val staged = new java.io.File(dir, "v3/_claim")
    staged.getParentFile.mkdirs()
    new java.io.FileOutputStream(staged).close()
    assert(new java.io.File(dir, "_current").delete(), "simulate the republish gap")
    val st = SimilarityOps.ivfIndexState(dir)
    assert(st.buildVersion == 2L && st.root.endsWith("/v2"),
      s"expected the highest published build v2, got $st")
    // the full read path serves through the fallback
    val qs = df(corpus.take(2)).select(col("cid").as("qid"), col("cvec").as("qvec"))
    val viaIdx = SimilarityOps.ivfTopKIndexed(qs, df(corpus), dir, k = 3, nprobe = 4)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val exact = SimilarityOps.bruteForceTopK(qs, df(corpus), 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    assert(viaIdx == exact)
    // no pointer and no published v-dir is "no build yet": tables at the
    // index root are never read, and the next build claims v1
    val empty = tmp("absent-pointer-empty")
    SimilarityOps.ivfIndexBuild(df(corpus), empty, nlist = 4, fitSampleRows = 100)
    val ef = new java.io.File(empty)
    Seq("centroids", "assign").foreach(t => org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(ef, s"v1/$t"), new java.io.File(ef, t)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ef, "v1"))
    assert(new java.io.File(ef, "_current").delete())
    val est = SimilarityOps.ivfIndexState(empty)
    assert(est.buildVersion == 0L && est.root.endsWith("/v0"), s"no build yet, got $est")
    intercept[Exception](SimilarityOps.centroidsOf(spark, empty))
    SimilarityOps.ivfIndexBuild(df(corpus), empty, nlist = 4, fitSampleRows = 100)
    assert(SimilarityOps.ivfIndexState(empty).buildVersion == 1L)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(empty))
  }

  test("null _commit_version events still APPLY after a rebuild records corpusVersion") {
    // A caller-assembled feed without version info is legal (ver falls
    // back to 0). The rebuild-overlap filter must not coalesce null to 0
    // and drop such events behind the recorded base — that silently
    // no-ops the whole feed; only a NON-NULL version proves an event is
    // already reflected in the build.
    val dir = tmp("null-ver-feed")
    val corpus = randVecs(0L until 100L, seed = 121)
    SimilarityOps.ivfIndexBuild(df(corpus), dir, nlist = 4, fitSampleRows = 100,
      corpusVersion = Some(7L))
    assert(SimilarityOps.ivfIndexState(dir).corpusVersion.contains(7L))
    val newRows = randVecs(500L until 510L, seed = 122)
    val feed = newRows.map { case (id, v) => (id, v, "insert", null.asInstanceOf[java.lang.Long]) }
      .toDF("cid", "cvec", "_change_type", "_commit_version")
    val st = SimilarityOps.ivfIndexRefresh(feed, dir,
      txnAppId = Some("nullver"), txnVersion = Some(1L))
    assert(st.rowsAssigned == newRows.length.toLong,
      s"null-version events must apply (at-least-once), got $st")
    assert(assignRows(dir).map(_._1).toSet ==
      (corpus.map(_._1) ++ newRows.map(_._1)).toSet)
    // versioned events at-or-below the base still drop (the filter's
    // other half is not weakened by the null fix)
    val stale = randVecs(600L until 605L, seed = 123)
      .map { case (id, v) => (id, v, "insert", java.lang.Long.valueOf(7L)) }
      .toDF("cid", "cvec", "_change_type", "_commit_version")
    val st2 = SimilarityOps.ivfIndexRefresh(stale, dir,
      txnAppId = Some("nullver"), txnVersion = Some(2L))
    assert(st2.rowsAssigned == 0L,
      s"events at-or-below the recorded base must still drop, got $st2")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
