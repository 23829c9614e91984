package graft.streaming

import graft.{SparkEntry, SparkSpec, Tables}
import graft.etl.SnapshotTable
import org.apache.spark.sql.functions._

/** The incremental quality loop's contract: NB sufficient statistics
  * are a mergeable aggregate, so the standing model must equal the
  * from-scratch `quality_train` model EXACTLY at every point where the
  * landed epochs cover the same docs — through replays and through
  * maintenance folds. */
class IncrementalQualitySpec extends SparkSpec with CrashBoundaries {

  private val sf = "/root/testdata/sf0.001"

  private def runLoop(dir: String, maintainAfter: Option[Long] = None)
      : Unit = {
    val docs = Tables(spark, sf).documents.select("doc_id", "text")
    for (b <- 0L to 2L) {
      IncrementalQuality.processBatch(
        docs.filter(col("doc_id") % 3 === b),
        s"$dir/counts", s"$dir/scores", b)
      if (maintainAfter.contains(b)) {
        SnapshotTable.compact(spark, s"$dir/counts")
        SnapshotTable.expire(spark, s"$dir/counts", keepLast = 1,
          minAgeMs = 0)
        SnapshotTable.compact(spark, s"$dir/scores")
        SnapshotTable.expire(spark, s"$dir/scores", keepLast = 1,
          minAgeMs = 0): Unit
      }
    }
  }

  private def modelRows(countsDir: String): Seq[(Long, Long, Long, Long)] =
    IncrementalQuality.model(spark, countsDir)
      .orderBy("bucket").collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("n_good"),
        r.getAs[Long]("n_bad"), r.getAs[Long]("w_fx"))).toSeq

  private def batchModelRows: Seq[(Long, Long, Long, Long)] =
    SparkEntry.queries("quality_train")(spark, sf).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("n_good"),
        r.getAs[Long]("n_bad"), r.getAs[Long]("w_fx"))).toSeq

  test("count partials are a monoid: after 3 epochs the standing " +
      "model IS the from-scratch quality_train model, bit for bit") {
    val dir = tmpDir("iq-monoid")
    runLoop(dir)
    assert(modelRows(s"$dir/counts") == batchModelRows,
      "summed epoch partials must reproduce batch training exactly")
  }

  test("epoch scores against the standing model match quality_score " +
      "once the landed epochs cover the corpus") {
    val dir = tmpDir("iq-scores")
    runLoop(dir)
    // Epoch 2 scored against counts of epochs 0+1+2 = the full corpus,
    // so its rows must equal the batch scorer's for the same docs.
    val loopScores = IncrementalQuality.scores(spark, s"$dir/scores")
      .filter(col("batch_id") === 2L)
      .select(col("doc_id"), col("score_fx"), col("pred"))
      .orderBy("doc_id").collect().toSeq
    val batchScores = SparkEntry.queries("quality_score")(spark, sf)
      .filter(col("doc_id") % 3 === 2)
      .select(col("doc_id"), col("score_fx"), col("pred"))
      .orderBy("doc_id").collect().toSeq
    assert(loopScores == batchScores,
      "the standing-model scores must equal batch scoring exactly")
    // Earlier epochs scored against PARTIAL models — present, same
    // cardinality, honest cold-start (not asserted equal by design).
    val perEpoch = IncrementalQuality.scores(spark, s"$dir/scores")
      .groupBy("batch_id").count().orderBy("batch_id").collect()
      .map(r => r.getAs[Long]("batch_id") -> r.getAs[Long]("count")).toMap
    val docs = Tables(spark, sf).documents
    for (b <- 0L to 2L)
      assert(perEpoch(b) ==
        docs.filter(col("doc_id") % 3 === b).count(),
        s"every epoch-$b doc must land exactly one score row")
    // The drift audit reads one row per epoch off the same snapshot,
    // and its accuracy column reflects the decisions as SHIPPED (the
    // online record): the mature epoch must beat chance clearly.
    val audit = IncrementalQuality.accuracyByEpoch(spark, s"$dir/scores")
      .orderBy("batch_id").collect()
    assert(audit.length == 3)
    assert(audit.map(_.getAs[Long]("n_docs")).sum ==
      Tables(spark, sf).documents.count())
    assert(audit.last.getAs[Long]("accuracy_e6") > 700000L,
      "the epoch scored with the full standing model must beat chance")
  }

  test("replaying an epoch no-ops on both tables; maintenance folds " +
      "the chain without losing the ledger or the model") {
    val dir = tmpDir("iq-replay")
    runLoop(dir, maintainAfter = Some(1L))
    val docs = Tables(spark, sf).documents.select("doc_id", "text")
    val before = modelRows(s"$dir/counts")
    val scoreRows = IncrementalQuality.scores(spark, s"$dir/scores").count()
    // Replay epoch 1 (already folded by maintenance into the compacted
    // head): the ledger must remember it across the fold and no-op.
    IncrementalQuality.processBatch(
      docs.filter(col("doc_id") % 3 === 1),
      s"$dir/counts", s"$dir/scores", 1L)
    assert(modelRows(s"$dir/counts") == before,
      "a replayed epoch must not double-count the sufficient statistics")
    assert(IncrementalQuality.scores(spark, s"$dir/scores").count()
      == scoreRows, "a replayed epoch must not re-land score rows")
    // The maintained run still reproduces batch training exactly.
    assert(before == batchModelRows,
      "maintenance folds must be invisible to the summed model")
    // Epoch gaps refused (the loop discipline).
    val e = intercept[IllegalArgumentException] {
      IncrementalQuality.processBatch(
        docs.filter(col("doc_id") % 3 === 0),
        s"$dir/counts", s"$dir/scores", 5L)
    }
    assert(e.getMessage.contains("epoch gap"))
  }

  test("a crash between the counts and scores commits must be REPLAYED, " +
      "not skipped: resuming at N+1 fails loud on the scores ledger") {
    val dir = tmpDir("iq-lockstep")
    runLoop(dir)
    val docs = Tables(spark, sf).documents.select("doc_id", "text")
    // Simulate the crash: counts partial for epoch 3 lands, the scores
    // commit never runs (clone epoch 2's partial under batch_id 3 —
    // the ledger only cares that the batch id advanced).
    SnapshotTable.appendOnce(
      SnapshotTable.read(spark, s"$dir/counts")
        .filter(col("batch_id") === 2L).withColumn("batch_id", lit(3L)),
      s"$dir/counts", 3L)
    // The misuse ADVICE flagged: resume at 4 instead of replaying 3 —
    // previously a silent scores gap, now a loud entry-time failure.
    val e = intercept[IllegalArgumentException] {
      IncrementalQuality.processBatch(
        docs.filter(col("doc_id") % 3 === 1),
        s"$dir/counts", s"$dir/scores", 4L)
    }
    assert(e.getMessage.contains("scores"),
      s"expected the scores-ledger gap message, got: ${e.getMessage}")
    // The correct move — replay epoch 3 — heals: counts no-ops off its
    // ledger, the missing scores commit lands, lockstep restores.
    IncrementalQuality.processBatch(
      docs.filter(col("doc_id") % 3 === 0),
      s"$dir/counts", s"$dir/scores", 3L)
    assert(SnapshotTable.maxCommittedBatch(spark, s"$dir/scores") == 3L)
    IncrementalQuality.processBatch(
      docs.filter(col("doc_id") % 3 === 1),
      s"$dir/counts", s"$dir/scores", 4L)
    assert(SnapshotTable.maxCommittedBatch(spark, s"$dir/counts") == 4L &&
      SnapshotTable.maxCommittedBatch(spark, s"$dir/scores") == 4L)
  }

  test("quality: a crash at any commit boundary is refused on resume " +
      "and healed bit-equal by replay") {
    val docs = Tables(spark, sf).documents
    crashAtEveryBoundary("quality", Seq("counts", "scores"),
      root => IncrementalQuality.processBatch(
        docs.filter(col("doc_id") % 2 === 0),
        s"$root/counts", s"$root/scores", 0L),
      (root, b) => IncrementalQuality.processBatch(
        docs.filter(col("doc_id") % 2 === 1),
        s"$root/counts", s"$root/scores", b),
      1L)
  }
}
