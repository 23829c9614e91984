package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.SnapshotTable
import graft.text.{Bpe, PackSequences, TextQueries, TrainingShardQueries}
import graft.util.Hashes

/** STREAMING TRAINING SHARDS — the final artifact
  * (`training_shards`, [[graft.text.TrainingShardQueries]]) as an
  * epoch-wise loop (the r17 verdict's missing item 3, closing the last
  * batch-only composition; the reference's own load is
  * hourly-incremental, bpi_etl_bigquery.py:280 WRITE_APPEND): per
  * epoch the standing curation loop's NEW survivors are mixture-gated,
  * tokenizer-billed, and PACKED ONTO THE STANDING SPLIT TAILS, so the
  * accumulated manifest is bit-equal to the batch `training_shards`
  * over the union corpus.
  *
  *  - MIXTURE RATES are a standing plane ([[refreshRates]]) re-derived
  *    on its OWN declared cadence from the standing curated corpus —
  *    epochs gate against the FROZEN plane (the
  *    [[IncrementalCuration]] verdict-plane discipline). The per-doc
  *    keep decision (`tokHash(source:doc_id) mod 10^6 < rate_e6`) is
  *    content-independent and run-stable, so a doc's fate never
  *    changes when other docs appear.
  *  - PACKING exploits the loop's MONOTONE-ID contract: the batch
  *    packer lays docs out in (split, doc_id) order, and epoch e's
  *    doc ids all exceed epoch e-1's, so each epoch packs locally
  *    (the same [[PackSequences.twoPhase]] distributed prefix sum)
  *    and SHIFTS by the standing per-split token tails —
  *    split-cardinality metadata read off the landed manifest, one
  *    partial aggregate, never a corpus repack.
  *  - ACCOUNTING is a read-time fold: the standing rates plane LEFT
  *    JOIN per-(source, split) sums over the landed manifest — every
  *    curated source bills, zero-row sources included, exactly the
  *    batch `training_shards_accounting` shape.
  *
  * IncrementalShardsSpec pins the N-epoch standing manifest AND
  * accounting bit-equal to the batch queries on the union corpus,
  * replay no-op, epoch-gap refusal.
  *
  * Scale posture: per epoch one broadcast rate probe + one salted-hash
  * filter over the epoch's survivors, one key join against the
  * epoch's documents for the BPE bill (payload bytes enter only
  * there), the packer's epoch-sized range exchange, and one
  * split-cardinality aggregate over the standing manifest's METADATA
  * columns. The standing corpus is never re-read. */
object IncrementalShards {

  private val RateDen = 1000000L

  /** Re-derive the standing mixture-rate plane from the current
    * curated survivor corpus (doc_id, source, tk) — its own cadence,
    * an atomic overwrite ([[SnapshotTable]] swap; readers keep pinned
    * snapshots). */
  def refreshRates(curatedSurvivors: DataFrame, ratesDir: String): Unit =
    SnapshotTable.overwrite(
      TrainingShardQueries.ratesFrame(curatedSurvivors), ratesDir): Unit

  /** One epoch: gate the epoch's new curated survivors (doc_id,
    * source, tk, component) against the frozen rates, bill via the
    * epoch's documents (doc_id, text), pack onto the standing split
    * tails, land under `batchId`. */
  def processBatch(
      survivors: DataFrame, docs: DataFrame,
      ratesDir: String, shardsDir: String, batchId: Long): Unit = {
    val spark = survivors.sparkSession
    EpochLedger.admit(spark, batchId, shardsDir)
    // Empty batches COMMIT an empty epoch (the IncrementalBars rule):
    // skipping would never advance the high-water mark and wedge the
    // sequence — an epoch whose survivors all failed the mixture gate
    // must still land.
    val rates = SnapshotTable.read(spark, ratesDir)
      .select(col("source"), col("rate_e6"))
    val kept = survivors
      .join(broadcast(rates), Seq("source"))
      .filter(pmod(Hashes.tokHash(concat(col("source"), lit(":"),
        col("doc_id").cast("string"))), lit(RateDen)) < col("rate_e6"))
      .select(col("doc_id"), col("source"), col("tk"),
        coalesce(col("component"), col("doc_id")).as("rep"))
    import graft.ops.Checkpoints.CheckpointOps
    val bill = kept
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("tk"),
        Bpe.tokenCountNative(col("text")).as("n_tokens"),
        Hashes.splitOf(col("rep")).as("split"))
      .cut() // packer input AND the source/tk re-join
    // Standing split tails — split-cardinality metadata off the landed
    // manifest's n_tokens column.
    val tails =
      if (SnapshotTable.currentSnapshot(spark, shardsDir).nonEmpty)
        EpochLedger.committedBefore(
          SnapshotTable.read(spark, shardsDir), batchId)
          .groupBy(col("split"))
          .agg(sum(col("n_tokens")).as("base"))
      else bill.select(col("split")).limit(0)
        .withColumn("base", lit(0L))
    // Epoch-local pack, shifted onto the tails; sequence spans derive
    // from the SHIFTED offsets (sequence boundaries are global per
    // split).
    val packed = PackSequences
      .twoPhase(spark, bill, TextQueries.SeqLen)
      .join(broadcast(tails), Seq("split"), "left")
      .withColumn("start_offset",
        col("start_offset") + coalesce(col("base"), lit(0L)))
      .select(col("doc_id"), col("split"), col("n_tokens"),
        col("start_offset"),
        expr(s"start_offset DIV ${TextQueries.SeqLen}").as("seq_first"),
        expr(s"(start_offset + n_tokens - 1) DIV ${TextQueries.SeqLen}")
          .as("seq_last"))
    val manifest = packed
      .join(bill.select(col("doc_id"), col("source"), col("tk")),
        Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("split"),
        col("n_tokens"), col("tk"), col("start_offset"),
        col("seq_first"), col("seq_last"))
    EpochLedger.land(manifest, shardsDir, batchId)
  }

  /** The standing per-doc manifest — same shape as `training_shards`. */
  def standingShards(spark: SparkSession, shardsDir: String): DataFrame =
    SnapshotTable.read(spark, shardsDir)
      .select(col("doc_id"), col("source"), col("split"),
        col("n_tokens"), col("start_offset"),
        col("seq_first"), col("seq_last"))

  /** The standing accounting — the frozen rates plane LEFT JOIN the
    * manifest's per-(source, split) sums; zero-row sources bill with
    * split 'none', same shape as `training_shards_accounting`. */
  def standingAccounting(
      spark: SparkSession, ratesDir: String, shardsDir: String)
      : DataFrame = {
    val rates = SnapshotTable.read(spark, ratesDir)
    val grouped = SnapshotTable.read(spark, shardsDir)
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens_bpe"),
        sum(col("tk")).as("n_tokens_ws"))
    rates.join(grouped, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("split"), lit("none")).as("split"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_tokens_bpe"), lit(0L)).as("n_tokens_bpe"),
        coalesce(col("n_tokens_ws"), lit(0L)).as("n_tokens_ws"),
        col("curated_docs"), col("curated_tokens"), col("rate_e6"))
  }
}
