package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.dedup.{CollisionProbe, DedupQueries}
import graft.ops.Checkpoints.CheckpointOps
import IncrementalDedup.{BandIndex, SnapIndex}

/** One standing near-dedup loop — the day-N+1 pass of the reference's
  * hourly append (bpi_etl_bigquery.py:27,279-282) run continuously, so
  * an append never loads the same content twice. The text
  * ([[IncrementalDedup]]), semantic ([[IncrementalSemDedup]]) and media
  * ([[IncrementalMediaDedup]]) loops are this one step over their own
  * fingerprint, index rows and [[CollisionProbe]]:
  *
  *  1. guards, BEFORE the empty-batch shortcut (a fresh checkpoint
  *     whose batch 0 happens to be empty must still be refused) and
  *     before any write: a standing index without `batch_id` is
  *     refused (epoch-stamped rows cannot mix with it), then
  *     [[IncrementalDedup.requireEpochContinuity]] and the loop's own
  *     [[precheck]];
  *  2. the batch is fingerprinted ONCE (cut: the CPU-heavy pass feeds
  *     two probes and the append) and probed against itself —
  *     same-batch duplicates pair, oriented new > corpus, no self or
  *     mirror edges — and against the standing index's
  *     [[EpochLedger.committedBefore]] view, so a replayed epoch probes
  *     the exact pre-epoch state and emits the exact same pairs;
  *  3. the pairs land ([[EpochLedger.land]], only when non-empty), the
  *     batch's rows append to the index ([[BandIndex.append]]), and the
  *     index is stamped with its owning checkpoint.
  *
  * State lives in storage, not the state store — the index is the
  * product, so batch and streaming runs are interchangeable
  * mid-corpus. Appends are EFFECTIVELY-ONCE: a replay of a landed
  * epoch no-ops table by table, a crash between the pairs and index
  * commits heals by replaying the epoch, and the probe's distinct
  * before the cap rank keeps even a hand-doubled index from consuming
  * degenerate-bucket cap headroom. Per batch the standing index is
  * touched by one bucket semi-join and is never re-fingerprinted,
  * self-joined or broadcast. Every job of an epoch runs labelled
  * `"<loop> epoch <id>: <phase>"` ([[EpochLedger.labelled]]). */
private[streaming] abstract class PairLoop(name: String) {

  /** The batch's fingerprint frame, computed once per epoch. */
  protected def fingerprint(rows: DataFrame): DataFrame
  /** Standing-index rows of a fingerprint frame. */
  protected def indexRows(fp: DataFrame): DataFrame = fp
  protected def probe: CollisionProbe
  /** The loop's own pre-check, run with the guards. */
  protected def precheck(index: BandIndex, spark: SparkSession): Unit = ()

  /** One micro-batch step against a [[SnapIndex]] at `indexDir`.
    * Exposed for specs; [[start]] wires it behind a checkpoint,
    * passing the epoch id that makes replays idempotent. */
  private[graft] def processBatch(
      rows: DataFrame, indexDir: String, pairsDir: String,
      batchId: Long): Unit =
    processBatch(rows, SnapIndex(indexDir), pairsDir, batchId, None)

  private[graft] def processBatch(
      rows: DataFrame, index: BandIndex, pairsDir: String,
      batchId: Long, ownerId: Option[String] = None): Unit = {
    val spark = rows.sparkSession
    EpochLedger.labelled(spark, s"$name epoch $batchId") { mark =>
      mark("guards")
      val standing = if (index.exists(spark)) Some(index.read(spark)) else None
      if (standing.exists(!_.columns.contains("batch_id")))
        throw new IllegalStateException(
          s"standing index $index uses the pre-epoch layout (no batch_id " +
            "column); epoch-stamped appends cannot mix with it. Rebuild " +
            "it once into a fresh index with batch_id = -1 on every row " +
            "and point the loop there.")
      IncrementalDedup.requireEpochContinuity(index, spark, batchId, ownerId)
      precheck(index, spark)
      if (!rows.isEmpty) {
        mark("probe")
        val batch = indexRows(fingerprint(rows).cut(false))
        val intra = probe.pairs(batch, batch)
          .filter(col(probe.newCol) > col(probe.corpusCol))
        val emitted = standing.fold(intra)(s => probe
          .pairs(batch, EpochLedger.committedBefore(s, batchId))
          .unionByName(intra))
        // Checkpointed: isEmpty is an action, and without the pin the
        // landing below would run the whole standing probe again.
        val pairs = emitted.cut(false)
        val hasPairs = !pairs.isEmpty
        mark("land")
        if (hasPairs) EpochLedger.land(pairs, pairsDir, batchId)
        index.append(batch, batchId)
        for (id <- ownerId; if index.owner(spark).isEmpty)
          index.writeOwner(spark, id)
      }
    }
  }

  /** Starts the loop over a stream of batch rows against a
    * [[SnapIndex]]; pass a [[IncrementalDedup.BucketedIndex]] to the
    * overload for the Exchange-free standing side. */
  def start(
      rows: DataFrame, indexDir: String, pairsDir: String,
      checkpointDir: String, trigger: Trigger): StreamingQuery =
    start(rows, SnapIndex(indexDir), pairsDir, checkpointDir, trigger)

  def start(
      rows: DataFrame, indexDir: String, pairsDir: String,
      checkpointDir: String): StreamingQuery =
    start(rows, SnapIndex(indexDir), pairsDir, checkpointDir,
      Streaming.HourlyTrigger)

  def start(
      rows: DataFrame, index: BandIndex, pairsDir: String,
      checkpointDir: String,
      trigger: Trigger = Streaming.HourlyTrigger): StreamingQuery =
    rows.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // The checkpoint dir IS the epoch sequence's identity: batch
        // ids are scoped to it, so it is what the owner marker names.
        processBatch(batch.toDF(), index, pairsDir, batchId,
          Some(checkpointDir))
      }
      .start()

  /** Periodic components consumer over the loop's pair table — cluster
    * labels read off the loop's own state ([[PairConsumers]]). */
  def components(spark: SparkSession, pairsDir: String): DataFrame =
    PairConsumers.componentsOf(
      spark, pairsDir, probe.newCol, probe.corpusCol, probe.id)

  /** Periodic survivors consumer: min-id representative per cluster +
    * unpaired corpus rows, with cluster sizes. Pass the retracted keys
    * (with the SURVIVING corpus) after a takedown: edges through
    * retracted rows leave the graph and the re-fold promotes runner-up
    * representatives, ≡ a rebuild on survivors. */
  def survivors(corpus: DataFrame, pairsDir: String,
      retracted: Option[DataFrame] = None): DataFrame =
    PairConsumers.survivorsOf(
      corpus, pairsDir, probe.newCol, probe.corpusCol, probe.id, retracted)
}

/** Streaming twin of the `dedup_incremental` batch query: documents
  * are MinHash-banded through the batch query's own machinery
  * ([[DedupQueries.bandsOfDocs]]) and probed on (band, bh)
  * ([[DedupQueries.bandProbe]]); the index stores the key-only band
  * rows. Emitted (new_doc, corpus_doc) pairs feed the downstream merge
  * step (`dedup_incremental_components`). This object also holds the
  * standing-index layouts and the fresh-checkpoint guard every pair
  * loop shares. */
object IncrementalDedup extends PairLoop("dedup") {

  protected def fingerprint(docs: DataFrame): DataFrame =
    DedupQueries.bandsOfDocs(docs)
  protected def probe: CollisionProbe = DedupQueries.bandProbe

  /** Storage abstraction for the STANDING band index — where the
    * streaming loop's state actually lives. Two layouts:
    *
    *  - [[SnapIndex]]: snapshot-committed epochs. The probe's rank
    *    window re-shuffles the bucket-pruned slice on (band, bh) every
    *    batch.
    *  - [[BucketedIndex]]: a managed table bucketed on `bh`
    *    ([[graft.ops.Bucketing.appendBucketed]]). Because
    *    HashPartitioning(bh) satisfies every (band, bh)-clustered
    *    requirement downstream (bh alone is a subset of the clustering
    *    keys), the probe's distinct + rank window + pair join read the
    *    standing side with ZERO Exchange — at 100 TB this removes the
    *    per-batch shuffle of the collision slice, the only
    *    index-proportional data movement in the loop
    *    (IncrementalDedupSpec pins the Exchange-free plan).
    */
  sealed trait BandIndex {
    def exists(spark: SparkSession): Boolean
    def read(spark: SparkSession): DataFrame
    /** Lands `bands` stamped with `batchId`, EFFECTIVELY-ONCE: calling
      * again with the same id must converge, not double. */
    def append(bands: DataFrame, batchId: Long): Unit
    /** The checkpoint-identity marker persisted alongside the index —
      * which streaming checkpoint owns this index's epoch sequence.
      * None when no marker has been written (pre-marker index, or a
      * layout with nowhere durable to put one). */
    def owner(spark: SparkSession): Option[String]
    def writeOwner(
        spark: SparkSession, id: String): Unit
  }

  /** The checkpoint-owner marker shared by the file-backed layouts:
    * an underscore-prefixed file in the state dir (invisible to
    * parquet partition discovery AND to SnapshotTable's manifest and
    * GC machinery), written via temp + atomic rename so a crash
    * mid-write can never leave a truncated marker that locks out the
    * index's own rightful checkpoint on restart. */
  private object OwnerMarker {
    private def path(dir: String) =
      new org.apache.hadoop.fs.Path(dir, "_graft_owner")
    def read(spark: SparkSession,
        dir: String): Option[String] = {
      val p = path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
        finally in.close()
      }
    }
    def write(spark: SparkSession,
        dir: String, id: String): Unit = {
      val p = path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tmp = new org.apache.hadoop.fs.Path(
        dir, s"_graft_owner.tmp-${java.util.UUID.randomUUID}")
      val out = fs.create(tmp, true)
      try out.write(id.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, p)) { // target existed: lost a race
        fs.delete(tmp, false): Unit
      }
    }
  }

  /** Standing index as a [[graft.etl.SnapshotTable]] — the DEFAULT
    * layout (the String-dir overloads build it): epochs land as atomic
    * [[EpochLedger.land]] commits, so a reader racing an epoch append
    * keeps its pinned snapshot, a crashed half-commit is invisible
    * until its replay, and a replay no-ops off the manifest ledger.
    * Maintenance: `SnapshotTable.compact` folds small epoch files,
    * `expire` GCs past the reader-grace window. The [[BucketedIndex]]
    * remains the zero-Exchange probe layout at warehouse scale; this
    * layout's probe re-shuffles the bucket-pruned collision slice. */
  final case class SnapIndex(dir: String) extends BandIndex {
    import graft.etl.SnapshotTable
    /** A populated dir without a snapshot commit REFUSES rather than
      * reading as absent, which would silently skip the standing probe
      * forever ([[EpochLedger.requireSnapshotLayout]]). */
    def exists(spark: SparkSession): Boolean =
      if (SnapshotTable.currentSnapshot(spark, dir).nonEmpty) true
      else { EpochLedger.requireSnapshotLayout(spark, dir); false }
    def read(spark: SparkSession): DataFrame =
      SnapshotTable.read(spark, dir)
    def append(bands: DataFrame, batchId: Long): Unit =
      EpochLedger.land(bands, dir, batchId)
    def owner(spark: SparkSession): Option[String] =
      OwnerMarker.read(spark, dir)
    def writeOwner(
        spark: SparkSession, id: String): Unit =
      OwnerMarker.write(spark, dir, id)
  }

  /** `key` is the bucketing column — "bh" for the text band index,
    * "bucket" for the semantic loop's packed (table, bucket) key, "key"
    * for the media band key: HashPartitioning(key) satisfies every
    * key-clustered requirement downstream of the probe
    * (subset-of-clustering rule), so the zero-Exchange standing side is
    * layout-generic. */
  final case class BucketedIndex(
      table: String, buckets: Int = 32, key: String = "bh")
      extends BandIndex {
    def exists(spark: SparkSession): Boolean =
      spark.catalog.tableExists(table)
    def read(spark: SparkSession): DataFrame =
      spark.table(table)
    /** bucketBy and insertInto don't compose (no partition overwrite
      * into a bucketed table), so replay idempotence comes from a
      * batch_id EXISTENCE GUARD: a replayed epoch whose rows already
      * landed is skipped whole. Safe because a crashed append job
      * publishes nothing (committer semantics) — the id is either
      * fully present or fully absent. The guard probe is one
      * filter-pushed scan (each append's files carry a constant
      * batch_id, so row-group stats skip everything else). A table
      * without batch_id never gets here: the loop's guards refuse it
      * (insertInto matches columns POSITIONALLY, so epoch-stamped rows
      * would silently corrupt it). */
    def append(bands: DataFrame, batchId: Long): Unit = {
      val spark = bands.sparkSession
      val landed = exists(spark) &&
        !read(spark).filter(col("batch_id") === batchId).isEmpty
      if (!landed)
        graft.ops.Bucketing.appendBucketed(
          bands.withColumn("batch_id", lit(batchId)), table, key, buckets)
    }
    /** Marker lives in the table's catalog properties — survives
      * exactly as long as the table itself. */
    def owner(spark: SparkSession): Option[String] =
      if (!exists(spark)) None
      else spark.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table))
        .properties.get("graft.owner")
    // The value is a SQL string literal: escape embedded quotes (a
    // checkpoint path may contain them; the catalog stores the
    // unescaped value, so the read side needs no inverse).
    def writeOwner(
        spark: SparkSession, id: String): Unit = {
      val lit = id.replace("'", "''")
      spark.sql(
        s"ALTER TABLE $table SET TBLPROPERTIES ('graft.owner' = '$lit')")
    }
  }

  /** Refuses epoch-id recycling: foreachBatch ids are
    * checkpoint-scoped, so pointing a loop with a fresh (or reset)
    * checkpoint at an existing index restarts ids at 0 — each recycled
    * epoch would no-op as a replay off the old ledger while the probe
    * (batch_id < 0) sees an empty standing state. Detected
    * exactly at the fresh-checkpoint signature — batch 0 over an index
    * already holding epochs > 0, OR over an index whose persisted
    * owner marker names a DIFFERENT checkpoint (the marker closes the
    * blind spot where the prior run only ever committed epoch 0, which
    * the epoch scan alone cannot tell apart from a legitimate epoch-0
    * replay). Steady path pays nothing — both probes run at batch 0
    * only. Residual blind spot: an index without a marker holding only
    * epoch 0 under a fresh checkpoint still looks like a replay; the
    * first batch of any run given an owner id stamps ownership.
    * Recovery: one [[graft.etl.SnapshotTable.overwrite]] of EACH state
    * table (index and pairs) rewritten to batch_id = −1 — base rows sit
    * below every new epoch, so both the probe and new appends compose,
    * and overwrite resets the manifest epoch ledger, so the restarted
    * sequence's recycled ids land as new epochs instead of silently
    * no-op'ing as replays (the recall-loss failure the guard exists to
    * prevent) — then delete/rewrite the `_graft_owner` marker. */
  private[streaming] def requireEpochContinuity(
      index: BandIndex, spark: SparkSession,
      batchId: Long, ownerId: Option[String] = None): Unit =
    if (batchId == 0L && index.exists(spark)) {
      for (o <- ownerId; m <- index.owner(spark); if m != o)
        throw new IllegalStateException(
          s"fresh checkpoint '$o' over a standing index owned by " +
            s"checkpoint '$m': recycled batch ids would collide with the " +
            "prior run's epochs. Fold the index AND its pairs table to " +
            "the base epoch (SnapshotTable.overwrite(read(dir)" +
            ".withColumn(\"batch_id\", lit(-1L)), dir) on both dirs) " +
            "and remove the _graft_owner marker to transfer ownership.")
      if (!index.read(spark).filter(col("batch_id") > 0).isEmpty)
        throw new IllegalStateException(
          "fresh checkpoint over a standing index with epochs > 0: " +
            "recycled batch ids would collide with prior epochs and " +
            "hide the index from the probe. Fold the index AND its " +
            "pairs table to the base epoch first: " +
            "SnapshotTable.overwrite(read(dir)" +
            ".withColumn(\"batch_id\", lit(-1L)), dir) on BOTH dirs " +
            "(the overwrite commit resets the manifest epoch ledger, " +
            "so the restarted sequence's recycled ids land instead of " +
            "no-op'ing as replays) — then remove the _graft_owner " +
            "marker.")
    }
}
