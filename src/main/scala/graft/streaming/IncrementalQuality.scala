package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.SnapshotTable
import graft.text.QualityQueries

/** Incremental quality-classifier training + scoring — the streaming
  * twin of the `quality_train`/`quality_score` pair, built on the same
  * property the bars loop exploits: Naive Bayes' sufficient statistics
  * (per-bucket class token counts + doc-level class counts) are a
  * MERGEABLE aggregate, so each epoch appends only its 65-row count
  * partial and the read-side sum reconstructs EXACTLY the model a
  * from-scratch training run over every landed doc would produce
  * (spec-pinned in IncrementalQualitySpec). No gradient state, no
  * approximation drift: the standing model is always the batch model
  * of the union.
  *
  * Per epoch: (1) the batch's train-split count partial lands as a
  * [[SnapshotTable]] commit on the counts table (effectively once off
  * the manifest ledger, epoch gaps refused — [[EpochLedger]]);
  * (2) the batch's docs are scored against the STANDING model (counts
  * summed over every committed epoch INCLUDING this one — so a replay
  * of a crashed scores commit re-derives the identical frame) and land
  * on the scores table under the same batch id. State grows with
  * 65 × epochs on the counts side — compaction can fold epochs freely
  * because the merge is associative — and with docs on the scores side
  * (the loop's product).
  *
  * Scale posture at 100 TB: the count partial is ONE 64-bucket
  * partial aggregate over the batch (the `quality_train` shape); the
  * standing model read is manifest-metadata-sized (65 rows × epochs,
  * folded by maintenance); scoring broadcasts the 65-row model onto
  * the batch token stream with one map-side-combining per-doc groupBy.
  * Nothing corpus-sized ever sits in driver state.
  */
object IncrementalQuality {

  /** One row per doc off the collapsed frame — shared by the count
    * partial's prior numerators AND the scoring union's synthetic
    * prior rows, so the per-doc distinct is paid once per epoch. */
  private[streaming] def docRowsOf(db: DataFrame): DataFrame =
    db.select(col("doc_id"), col("label"), col("split")).distinct()

  /** One epoch's 65-row count partial off the collapsed per-(doc,
    * bucket) frame: the 64 filled buckets plus the doc-level class
    * counts at b = −1 (the prior's numerators). */
  private[streaming] def countPartial(
      db: DataFrame, docRows: DataFrame): DataFrame = {
    val bc = QualityQueries.bucketCountsFromPairs(db)
    val cc = docRows
      .filter(col("split") === "train")
      .agg(sum(col("label")).as("dg"), sum(lit(1L) - col("label")).as("db"))
      .select(lit(-1L).as("b"), coalesce(col("dg"), lit(0L)).as("ng"),
        coalesce(col("db"), lit(0L)).as("nb"))
    bc.unionByName(cc)
  }

  /** The standing model off the counts table: (weights 64 rows, prior
    * 1 row) from the summed committed partials — exactly the
    * from-scratch model over every landed doc. */
  private[streaming] def standingModel(
      spark: SparkSession, countsDir: String): (DataFrame, DataFrame) = {
    val summed = SnapshotTable.read(spark, countsDir)
      .groupBy(col("b"))
      .agg(sum(col("ng")).as("ng"), sum(col("nb")).as("nb"))
    val w = QualityQueries.weightsFromCounts(summed.filter(col("b") >= 0))
    val pri = QualityQueries.priorFromCounts(
      summed.filter(col("b") === -1L)
        .select(col("ng").as("dg"), col("nb").as("db")))
    (w, pri)
  }

  /** The standing 65-row model table (the `quality_train` layout:
    * bucket, n_good, n_bad, w_fx with the prior at bucket = −1) —
    * what a consumer exports to serve the filter. */
  def model(spark: SparkSession, countsDir: String): DataFrame = {
    val (w, pri) = standingModel(spark, countsDir)
    w.select(col("b").as("bucket"), col("ng").as("n_good"),
        col("nb").as("n_bad"), col("w_fx"))
      .unionByName(pri.select(lit(-1L).as("bucket"), col("dg").as("n_good"),
        col("db").as("n_bad"), col("prior_fx").as("w_fx")))
  }

  /** Score a doc batch against the STANDING model, frozen for this
    * call — (doc_id, score_fx) through the same one-broadcast b = −1
    * pseudo-bucket path [[processBatch]] uses (so the number is
    * bit-equal to the batch scorer whenever the counts cover the same
    * corpus — the equivalence IncrementalQualitySpec pins). The
    * streaming curation gate reads this; it never advances the counts
    * ledger. */
  def scoreAgainst(docs: DataFrame, countsDir: String): DataFrame = {
    val spark = docs.sparkSession
    val db = QualityQueries
      .docBucketCounts(QualityQueries.labeledDocs(docs))
    val m65 = model(spark, countsDir)
      .select(col("bucket").as("b"), col("w_fx"))
    db.select(col("doc_id"), col("b"), col("c"))
      .unionByName(db.select(col("doc_id")).distinct()
        .select(col("doc_id"), lit(-1L).as("b"), lit(1L).as("c")))
      .join(broadcast(m65), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("w_fx")).cast("long").as("score_fx"))
  }

  /** Land one epoch: collapse the batch's token stream ONCE into
    * per-(doc, bucket) counts (lineage-cut — the single corpus-scale
    * pass of the epoch), commit the count partial derived from it,
    * then score the same frame against the standing model (which now
    * includes this epoch — a replay whose scores commit crashed
    * re-derives the identical frame) and commit the scores under the
    * same batch id. Both commits are effectively-once off their
    * manifest ledgers; epoch gaps are refused. The score is
    * `prior + Σ_b c·w_fx(b)` — the exact integer sum the raw token
    * stream would produce (IncrementalQualitySpec pins bit-equality
    * with the batch scorer). */
  def processBatch(docs: DataFrame, countsDir: String, scoresDir: String,
      batchId: Long): Unit = {
    import graft.ops.Checkpoints.CheckpointOps
    val spark = docs.sparkSession
    // Counts land before scores: a crash between the two commits leaves
    // scores one epoch behind, and admission forces that epoch's replay
    // (the counts appendOnce no-ops, the missing scores commit runs)
    // instead of silently losing its score rows on a resume at N+1.
    EpochLedger.admit(spark, batchId, countsDir, scoresDir)
    // Lazy cut (r19): the per-(doc, bucket) collapse is the epoch's
    // one corpus-scale pass; materializing it inside the counts-append
    // job (its first consumer) drops the standalone cut job while the
    // scoring side still reuses the persisted blocks.
    val db = QualityQueries
      .docBucketCounts(QualityQueries.labeledDocs(docs)).cut(false)
    val docRows = docRowsOf(db).cut(false)
    EpochLedger.land(countPartial(db, docRows), countsDir, batchId)
    // ONE standing-model broadcast per epoch: the prior rides the
    // b = −1 pseudo-bucket (each doc gains one synthetic (b=−1, c=1)
    // row off the SHARED per-doc frame), so score = Σ c·w_fx over the
    // joined stream IS prior + Σ_b c·w_fx — bit-identical to the batch
    // scorer (spec-pinned), with the separate prior broadcast and its
    // crossJoin job gone (the round-15 verdict's job-floor item).
    val m65 = model(spark, countsDir)
      .select(col("bucket").as("b"), col("w_fx"))
    val withPrior = db
      .select(col("doc_id"), col("label"), col("split"), col("b"),
        col("c"))
      .unionByName(docRows.select(col("doc_id"), col("label"),
        col("split"), lit(-1L).as("b"), lit(1L).as("c")))
    val scored = withPrior
      .join(broadcast(m65), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("w_fx")).cast("long").as("score_fx"),
        sum(when(col("b") >= 0, col("c")).otherwise(0L)).as("n_tokens"),
        max(col("label")).as("label"), max(col("split")).as("split"))
      .select(col("doc_id"), col("n_tokens"), col("label"), col("split"),
        col("score_fx"))
      .withColumn("pred", (col("score_fx") > 0L).cast("long"))
    EpochLedger.land(scored, scoresDir, batchId)
  }

  /** Every landed score row, from the pinned head snapshot. */
  def scores(spark: SparkSession, scoresDir: String): DataFrame = {
    require(SnapshotTable.currentSnapshot(spark, scoresDir).nonEmpty,
      s"no committed epochs under $scoresDir")
    SnapshotTable.read(spark, scoresDir)
  }

  /** The loop's DRIFT AUDIT — per-epoch accuracy of the decisions the
    * loop actually shipped (each epoch was scored with the model as it
    * stood THEN, so this is the honest online record, not a
    * retrospective re-score): docs, MAP-good count, agreement with the
    * planted labels in e6. The cold epochs read low and the curve
    * recovers as the standing counts grow — the evidence a loop
    * operator watches for model drift. Metadata-sized output (one row
    * per epoch). */
  def accuracyByEpoch(spark: SparkSession, scoresDir: String): DataFrame =
    scores(spark, scoresDir)
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pred")).as("n_pred_good"),
        sum((col("pred") === col("label")).cast("long")).as("n_agree"))
      .select(col("batch_id"), col("n_docs"), col("n_pred_good"),
        expr("n_agree * 1000000 DIV n_docs").as("accuracy_e6"))
}
