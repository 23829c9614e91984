package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.etl.SnapshotTable

/** Incremental OHLC bar building — the streaming twin of
  * `timeseries_ohlc` (graft/ops/MarketQueries.scala), built on the
  * bar-composition property `timeseries_ohlc_daily` proves: a bar is a
  * MERGEABLE aggregate (open/close carry their ordering key, high/low/n
  * fold), so each epoch appends only its PARTIAL bars (metadata-sized:
  * one row per bar the batch touched) and the read-side merge
  * reconstructs exact bars without ever revisiting trade rows.
  *
  * This is the streaming pre-aggregation pattern: state grows with
  * (bars × epochs), not with trades; SnapshotTable.compact can fold
  * epochs whenever it likes because the merge is associative. Since
  * round 14 every epoch lands as a [[graft.etl.SnapshotTable]] commit
  * (the loops' unified landing): an epoch append or a late-trade
  * correction is an atomic manifest swap, so a reader racing either
  * keeps its pinned snapshot, a crashed half-commit is invisible until
  * its replay, and replays of the same batch id no-op off the manifest
  * ledger. Out-of-order epochs (a gap) are refused by the shared
  * [[EpochLedger]] admission every standing loop runs.
  */
object IncrementalBars {

  /** Exact partial bars for one batch of trades: one row per
    * (instrument, hour) present in the batch. Open/close keep their
    * (micros, event_id) ordering key so partials from different epochs
    * merge exactly. */
  private[graft] def partialBars(trades: DataFrame): DataFrame =
    trades
      .select(
        col("event_type"),
        date_trunc("hour", col("ts")).as("hour"),
        struct(expr("unix_micros(ts)").as("us"), col("event_id").as("eid"))
          .as("k"),
        graft.util.Det.toUnits(col("value"), 100L).cast("long").as("cents"))
      .groupBy(col("event_type"), col("hour"))
      .agg(
        min(struct(col("k"), col("cents"))).as("open_k"),
        max(struct(col("k"), col("cents"))).as("close_k"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        count(lit(1)).as("n_trades"))

  /** Land one epoch's partial bars as a snapshot commit. Effectively
    * once per batch id (manifest ledger); refuses a batch id that
    * would leave an epoch gap. A crashed half-commit of epoch N leaves
    * the mark at N−1 and forces N's replay before N+1 can land. */
  private[graft] def processBatch(
      trades: DataFrame, barsDir: String, batchId: Long): Unit = {
    EpochLedger.admit(trades.sparkSession, batchId, barsDir)
    // Empty batches COMMIT an empty epoch (zero partial-bar rows, a
    // real batch-stamped manifest): skipping them would never advance
    // the high-water mark, wedging the sequence — every later batch id
    // would read as a gap and a replay of the empty batch could never
    // un-wedge it. Unconditional commit also means the batch pipeline
    // runs exactly once (no isEmpty probe job). The batch_id stamp is
    // what keeps a folded (compacted) epoch correctable — see
    // [[SnapshotTable.replaceBatch]]'s fallback.
    EpochLedger.land(partialBars(trades), barsDir, batchId)
  }

  /** Late-trade correction — the `force` backfill analog for the bars
    * loop: epoch `epoch` is RE-OPENED by recomputing its partial bars
    * from the corrected trade feed (the epoch's original trades plus
    * the late arrivals, replayed from the upstream source of truth)
    * and committing the swap via [[SnapshotTable.replaceBatch]]. Full
    * recompute, not a merge of late partials into the committed ones:
    * a merge double-counts n_trades under the at-least-once redelivery
    * this loop must tolerate, while recompute is idempotent —
    * replaying the same correction converges (same input, same
    * partials, same swap). The commit is an atomic manifest publish,
    * so the tear the directory-overwrite reopen risked (a bars()
    * reader whose plan resolved the old epoch files hitting
    * FileNotFound mid-correction) is structurally gone, and a crash
    * mid-reopen leaves the PRE-CORRECTION epoch committed and
    * readable — the operator just re-runs the correction. Only
    * committed epochs can be reopened (an uncommitted or gap epoch is
    * a replay, [[processBatch]]'s job); later epochs are untouched,
    * and the read-side merge picks up the correction because bars are
    * mergeable aggregates — IncrementalBarsSpec pins
    * merged-after-reopen ≡ the batch `timeseries_ohlc` over the
    * corrected feed. */
  private[graft] def reopen(
      trades: DataFrame, barsDir: String, epoch: Long): Unit = {
    val spark = trades.sparkSession
    require(epoch >= 0 && epoch <= EpochLedger.highWater(spark, barsDir),
      s"epoch $epoch is not committed under $barsDir — a late-trade " +
        "reopen corrects a landed epoch; use processBatch to land new ones")
    SnapshotTable.replaceBatch(
      partialBars(trades).withColumn("batch_id", lit(epoch)),
      barsDir, epoch): Unit
  }

  /** The merged exact bars across all COMMITTED epochs — identical to
    * running the batch OHLC over every trade ever landed (spec-pinned
    * against `timeseries_ohlc`). Reads partial-bar rows only, from the
    * pinned head snapshot: epochs committing (or corrections landing)
    * underneath cannot change or tear an already-resolved plan. */
  private[graft] def bars(spark: org.apache.spark.sql.SparkSession,
      barsDir: String): DataFrame = {
    require(SnapshotTable.currentSnapshot(spark, barsDir).nonEmpty,
      s"no committed epochs under $barsDir")
    SnapshotTable.read(spark, barsDir)
      .groupBy(col("event_type"), col("hour"))
      .agg(
        min(col("open_k")).getField("cents").as("open_cents"),
        max(col("high_cents")).as("high_cents"),
        min(col("low_cents")).as("low_cents"),
        max(col("close_k")).getField("cents").as("close_cents"),
        sum(col("n_trades")).as("n_trades"))
  }
}
