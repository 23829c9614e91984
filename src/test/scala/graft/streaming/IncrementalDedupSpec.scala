package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** Streaming incremental near-dedup: micro-batches band against the
  * standing index, emit candidate pairs, and grow the index — so a doc
  * seen in ANY earlier batch catches later duplicates, closing the
  * production day-N+1 loop continuously (batch ↔ streaming parity for
  * the `dedup_incremental` shape). */
class IncrementalDedupSpec extends SparkSpec {

  private val base = ("spark catalyst shuffles partition data across " +
    "executors for wide joins and aggregations at scale ") * 8
  private val far = "completely different words about cooking pasta " +
    "with tomatoes basil garlic olive oil and fresh bread " * 3

  test("pairs accumulate against the growing standing index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val indexDir = tmpDir("incr-index") + "/bands"
    val pairsDir = tmpDir("incr-pairs") + "/pairs"
    val ckpt = tmpDir("incr-ckpt")
    val q = IncrementalDedup.start(
      input.toDF().toDF("doc_id", "text"),
      indexDir, pairsDir, ckpt, Trigger.ProcessingTime(0))
    try {
      def pairs(): Set[(Long, Long)] =
        if (new java.io.File(pairsDir).exists())
          readStateTable(pairsDir).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        else Set.empty

      // Batch 1 seeds the corpus: nothing standing yet, no pairs.
      input.addData((1L, base), (2L, far))
      q.processAllAvailable()
      assert(pairs().isEmpty)
      assert(readStateTable(indexDir).select("doc_id")
        .distinct().count() == 2)

      // Batch 2: a dup of doc 1 pairs with it; an unrelated doc with
      // nothing. Both join the index.
      input.addData((20L, base), (21L, far.replace("pasta", "rice")))
      q.processAllAvailable()
      assert(pairs() == Set((20L, 1L)))

      // Batch 3: another copy pairs with BOTH earlier copies — the
      // index grew across batches.
      input.addData((40L, base))
      q.processAllAvailable()
      assert(pairs() == Set((20L, 1L), (40L, 1L), (40L, 20L)))
    } finally q.stop()
  }

  test("duplicates landing in the SAME micro-batch pair with each other") {
    import spark.implicits._
    val indexDir = tmpDir("incr-ib-index") + "/bands"
    val pairsDir = tmpDir("incr-ib-pairs") + "/pairs"
    // Two copies of `base` arrive in one batch: the standing index is
    // empty, so only the batch-vs-itself pass can link them. The later
    // doc pairs to the earlier (new_doc > corpus_doc orientation); no
    // self or mirror edges.
    IncrementalDedup.processBatch(
      Seq((1L, base), (2L, far), (3L, base)).toDF("doc_id", "text"),
      indexDir, pairsDir, 0L)
    val got = readStateTable(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((3L, 1L)))
    // The next batch's copy still pairs with BOTH same-batch copies
    // through the standing index.
    IncrementalDedup.processBatch(
      Seq((9L, base)).toDF("doc_id", "text"), indexDir, pairsDir, 1L)
    val got2 = readStateTable(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == Set((3L, 1L), (9L, 1L), (9L, 3L)))
  }

  test("epoch replay converges instead of doubling (effectively-once appends)") {
    import spark.implicits._
    val indexDir = tmpDir("incr-eo-index") + "/bands"
    val pairsDir = tmpDir("incr-eo-pairs") + "/pairs"
    IncrementalDedup.processBatch(
      Seq((1L, base), (2L, far)).toDF("doc_id", "text"), indexDir, pairsDir, 0L)
    IncrementalDedup.processBatch(
      Seq((20L, base)).toDF("doc_id", "text"), indexDir, pairsDir, 1L)
    def rows(dir: String): Seq[String] =
      readStateTable(dir).collect().map(_.toString).sorted.toSeq
    val (idx1, prs1) = (rows(indexDir), rows(pairsDir))
    // Crash between epoch 1's appends and its checkpoint commit → the
    // engine replays the epoch VERBATIM. The batch_id partition
    // overwrite must rewrite, not double.
    IncrementalDedup.processBatch(
      Seq((20L, base)).toDF("doc_id", "text"), indexDir, pairsDir, 1L)
    assert(rows(indexDir) == idx1,
      "replayed epoch must rewrite its index partition, not double it")
    assert(rows(pairsDir) == prs1,
      "replayed epoch must rewrite its pairs partition, not double it")
    // Probe results and cap headroom unchanged: the next epoch sees
    // the same standing state as if no replay had happened — exactly
    // one band row set per doc, so replay never consumes
    // degenerate-bucket cap slots.
    IncrementalDedup.processBatch(
      Seq((40L, base)).toDF("doc_id", "text"), indexDir, pairsDir, 2L)
    val got = readStateTable(pairsDir).select("new_doc", "corpus_doc")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((20L, 1L), (40L, 1L), (40L, 20L)))
    // And the downstream consumers close the loop off this state: one
    // cluster labeled by its min doc, survivors = representative +
    // the unpaired doc.
    val labels = IncrementalDedup.components(spark, pairsDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labels == Set((1L, 1L), (20L, 1L), (40L, 1L)))
    val surv = IncrementalDedup.survivors(
      Seq(1L, 2L, 20L, 40L).toDF("doc_id"), pairsDir)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("cluster_size"))).toSet
    assert(surv == Set((1L, 3L), (2L, 1L)))
  }

  test("consumers on a loop that has emitted no pairs return the empty graph") {
    import spark.implicits._
    val pairsDir = tmpDir("no-pairs-yet") + "/pairs"
    assert(IncrementalDedup.components(spark, pairsDir).isEmpty,
      "no pairs directory = empty component graph, not a failed job")
    val surv = IncrementalDedup.survivors(
      Seq(1L, 2L).toDF("doc_id"), pairsDir)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("cluster_size"))).toSet
    assert(surv == Set((1L, 1L), (2L, 1L)),
      "everything survives (size 1) when nothing has paired yet")
  }

  test("bucketed index: a replayed epoch is skipped whole by the batch_id guard") {
    import spark.implicits._
    val tbl = "incr_eo_bucketed_spec"
    val pairsDir = tmpDir("incr-eob-pairs") + "/pairs"
    val index = IncrementalDedup.BucketedIndex(tbl, 8)
    try {
      IncrementalDedup.processBatch(
        Seq((1L, base), (2L, far)).toDF("doc_id", "text"), index, pairsDir, 0L)
      IncrementalDedup.processBatch(
        Seq((20L, base)).toDF("doc_id", "text"), index, pairsDir, 1L)
      val before = spark.table(tbl).collect().map(_.toString).sorted.toSeq
      IncrementalDedup.processBatch(
        Seq((20L, base)).toDF("doc_id", "text"), index, pairsDir, 1L)
      assert(spark.table(tbl).collect().map(_.toString).sorted.toSeq == before,
        "the bucketed index guard must skip a replayed epoch whole")
      IncrementalDedup.processBatch(
        Seq((40L, base)).toDF("doc_id", "text"), index, pairsDir, 2L)
      val got = readStateTable(pairsDir).select("new_doc", "corpus_doc")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((20L, 1L), (40L, 1L), (40L, 20L)))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("bucketed standing index: pairs accumulate identically, standing side moves zero rows") {
    import spark.implicits._
    val tbl = "incr_band_index_spec"
    val pairsDir = tmpDir("incr-b-pairs") + "/pairs"
    val index = IncrementalDedup.BucketedIndex(tbl, 8)
    try {
      def pairs(): Set[(Long, Long)] =
        readStateTable(pairsDir).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      // Same three-batch script as the directory-index test: behavior
      // parity is the point — the layout changes, the answers don't.
      IncrementalDedup.processBatch(
        Seq((1L, base), (2L, far)).toDF("doc_id", "text"), index, pairsDir, 0L)
      IncrementalDedup.processBatch(
        Seq((20L, base)).toDF("doc_id", "text"), index, pairsDir, 1L)
      assert(pairs() == Set((20L, 1L)))
      IncrementalDedup.processBatch(
        Seq((40L, base)).toDF("doc_id", "text"), index, pairsDir, 2L)
      assert(pairs() == Set((20L, 1L), (40L, 1L), (40L, 20L)),
        "the bucketed index grows across appends like the directory layout")

      // The scale claim, pinned: the STANDING side moves zero rows —
      // no shuffle Exchange anywhere above the bucketed table scan
      // (the distinct + rank window + pair join all ride the bucket
      // layout, because HashPartitioning(bh) satisfies every
      // (…, bh)-clustered requirement). The only shuffles left in the
      // plan are NEW-BATCH-sized (the batch's bucket-key distinct and
      // the emitted-pair distinct), which is the point: per-batch cost
      // follows the batch, never the index.
      val probe = graft.dedup.DedupQueries.bandProbe.pairs(
        graft.dedup.DedupQueries.bandsOfDocs(
          Seq((99L, base)).toDF("doc_id", "text")),
        spark.table(tbl))
      val plan = probe.queryExecution.executedPlan
      assert(plan.toString.contains("Bucketed: true"),
        s"standing scan must use the bucket layout:\n$plan")
      val shufflesOverIndex = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
            if e.collectLeaves().exists(_.toString.contains(tbl)) => e
      }
      assert(shufflesOverIndex.isEmpty,
        s"standing-index rows must never cross a shuffle:\n$plan")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("checkpointed start() drives the bucketed index: parity + restart survival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tbl = "incr_band_index_stream_spec"
    val pairsDir = tmpDir("incr-bs-pairs") + "/pairs"
    val ckpt = tmpDir("incr-bs-ckpt")
    val index = IncrementalDedup.BucketedIndex(tbl, 8)
    def pairs(): Set[(Long, Long)] =
      if (new java.io.File(pairsDir).exists())
        readStateTable(pairsDir).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      else Set.empty
    val input = MemoryStream[(Long, String)]
    def run(): Unit = {
      val q = IncrementalDedup.start(
        input.toDF().toDF("doc_id", "text"),
        index, pairsDir, ckpt, Trigger.AvailableNow())
      q.awaitTermination()
    }
    try {
      // Leg 1: the full streaming path (MemoryStream → checkpointed
      // foreachBatch) writing the managed bucketed table, not a
      // directory — the production layout driven by the production
      // entry point, not just processBatch in isolation.
      input.addData((1L, base), (2L, far))
      run()
      input.addData((20L, base))
      run()
      assert(pairs() == Set((20L, 1L)))

      // Leg 2: restart against the same checkpoint + table; the
      // standing index persists through the catalog, so the new copy
      // pairs with BOTH earlier ones and nothing is reprocessed.
      input.addData((40L, base))
      run()
      assert(pairs() == Set((20L, 1L), (40L, 1L), (40L, 20L)),
        "the bucketed standing index must survive a restart intact")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("restart from checkpoint neither reprocesses nor loses batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val indexDir = tmpDir("incr-r-index") + "/bands"
    val pairsDir = tmpDir("incr-r-pairs") + "/pairs"
    val ckpt = tmpDir("incr-r-ckpt")
    def run(): Unit = {
      val q = IncrementalDedup.start(
        input.toDF().toDF("doc_id", "text"),
        indexDir, pairsDir, ckpt, Trigger.AvailableNow())
      q.awaitTermination()
    }
    input.addData((1L, base), (2L, far))
    run()
    val bandsAfter1 = readStateTable(indexDir).count()

    // Restart with one new duplicate doc: batch 1's offsets are
    // recovered, so its bands are NOT re-appended (re-appending would
    // double the index and emit phantom (1,1)-style self pairs), and
    // the new doc still dedups against the standing state.
    input.addData((20L, base))
    run()
    assert(readStateTable(indexDir)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 1L).count()
      == bandsAfter1 / 2, "doc 1's bands must appear exactly once")
    val got = readStateTable(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((20L, 1L)))
  }

  test("a flat directory-layout index dir is refused, naming the dir") {
    import spark.implicits._
    val indexDir = tmpDir("incr-legacy-index") + "/bands"
    val pairsDir = tmpDir("incr-legacy-pairs") + "/pairs"
    // A directory-layout index: bare parquet files at the dir root, no
    // snapshot commit.
    graft.dedup.DedupQueries.bandsOfDocs(
      Seq((1L, base), (2L, far)).toDF("doc_id", "text"))
      .write.mode("append").parquet(indexDir)
    assert(new java.io.File(indexDir).listFiles()
      .exists(f => f.isFile && f.getName.endsWith(".parquet")),
      "fixture must be the flat directory layout")
    // The snapshot layout must refuse this dir loudly — an index read
    // as absent would silently skip the standing probe forever.
    val refusal = intercept[IllegalStateException] {
      IncrementalDedup.processBatch(
        Seq((20L, base)).toDF("doc_id", "text"), indexDir, pairsDir, 0L)
    }
    assert(refusal.getMessage.contains(indexDir))
  }

  test("owner marker refuses a foreign checkpoint even over a single-epoch index") {
    import spark.implicits._
    val indexDir = tmpDir("incr-owner-index") + "/bands"
    val pairsDir = tmpDir("incr-owner-pairs") + "/pairs"
    val index = IncrementalDedup.SnapIndex(indexDir)
    // Run A commits ONLY epoch 0 — the epoch scan alone cannot tell a
    // later fresh checkpoint apart from run A replaying its batch 0.
    IncrementalDedup.processBatch(
      Seq((1L, base), (2L, far)).toDF("doc_id", "text"), index, pairsDir,
      0L, Some("ckpt-A"))
    assert(index.owner(spark).contains("ckpt-A"),
      "the first batch must stamp the index with its checkpoint identity")
    // Run A replays epoch 0 (crash before commit): same owner, allowed.
    IncrementalDedup.processBatch(
      Seq((1L, base), (2L, far)).toDF("doc_id", "text"), index, pairsDir,
      0L, Some("ckpt-A"))
    // Run B (fresh checkpoint) starts at batch 0 over run A's index:
    // without the marker this would silently overwrite epoch 0 while
    // probing empty standing state. The marker catches it.
    val e = intercept[IllegalStateException] {
      IncrementalDedup.processBatch(
        Seq((3L, base)).toDF("doc_id", "text"), index, pairsDir,
        0L, Some("ckpt-B"))
    }
    assert(e.getMessage.contains("ckpt-A") && e.getMessage.contains("ckpt-B"))
    assert(readStateTable(indexDir)
      .select("doc_id").distinct().count() == 2,
      "the refused batch must not have touched the index")
  }

  test("an EMPTY batch 0 from a foreign checkpoint is still refused") {
    import spark.implicits._
    val indexDir = tmpDir("incr-empty0-index") + "/bands"
    val pairsDir = tmpDir("incr-empty0-pairs") + "/pairs"
    val index = IncrementalDedup.SnapIndex(indexDir)
    IncrementalDedup.processBatch(
      Seq((1L, base)).toDF("doc_id", "text"), index, pairsDir,
      0L, Some("ckpt-A"))
    // Run B's batch 0 happens to be a no-data micro-batch. Skipping
    // the guards here would let B's batch 1 overwrite A's epochs with
    // every check bypassed — the guard must fire on the empty batch.
    val e = intercept[IllegalStateException] {
      IncrementalDedup.processBatch(
        Seq.empty[(Long, String)].toDF("doc_id", "text"), index, pairsDir,
        0L, Some("ckpt-B"))
    }
    assert(e.getMessage.contains("ckpt-A"))
  }

  test("bucketed index: pre-epoch layout fails the append with the migration message") {
    import spark.implicits._
    val tbl = "incr_legacy_bucketed_spec"
    val pairsDir = tmpDir("incr-lb-pairs") + "/pairs"
    try {
      // A legacy bucketed table: band rows WITHOUT the batch_id column.
      graft.ops.Bucketing.appendBucketed(
        graft.dedup.DedupQueries.bandsOfDocs(
          Seq((1L, base)).toDF("doc_id", "text")), tbl, "bh", 8)
      // Appending epoch-stamped rows would corrupt it positionally;
      // probing batch_id would throw AnalysisException mid-append. The
      // guard must fail FIRST, with the migration path in the message.
      val e = intercept[IllegalStateException] {
        IncrementalDedup.processBatch(
          Seq((20L, base)).toDF("doc_id", "text"),
          IncrementalDedup.BucketedIndex(tbl, 8), pairsDir, 0L)
      }
      assert(e.getMessage.contains("pre-epoch layout"))
      assert(e.getMessage.contains("batch_id"))
      assert(graft.etl.SnapshotTable.currentSnapshot(spark, pairsDir).isEmpty,
        "the refused epoch must not have committed its pairs")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }
}
