package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.dedup.DedupQueries
import graft.ops.Checkpoints.CheckpointOps

/** Streaming twin of the `dedup_incremental` batch query: the day-N+1
  * loop run continuously. Each micro-batch of new documents is
  * MinHash-banded through the exact machinery the batch query uses
  * ([[DedupQueries.bandsOfDocs]]), probed against the STANDING band
  * index ([[DedupQueries.incrementalPairsBetween]] — batch side
  * broadcast, standing side semi-narrowed to colliding buckets, the
  * family's degenerate-bucket cap intact), and then appended to that
  * index so later batches dedup against it. Emitted (new_doc,
  * corpus_doc) candidate pairs append to their own table for the
  * downstream merge step (`dedup_incremental_components`).
  *
  * Scale posture: per micro-batch the standing index is touched by one
  * semi-join (prunable to colliding buckets — at 100 TB the index is a
  * table bucketed by (band, bh), so the probe reads matching buckets,
  * not the corpus) and is NEVER re-banded, self-joined, or broadcast.
  * State lives in storage, not the state store — the index is the
  * product, exactly like the batch pipeline's, so batch and streaming
  * runs are interchangeable mid-corpus. The checkpoint gives
  * restart-without-reprocessing on planned restarts; the appends are
  * EFFECTIVELY-ONCE: every row is stamped with the epoch's `batch_id`
  * and, in the default [[SnapIndex]] layout (round 14), lands as a
  * [[graft.etl.SnapshotTable.appendOnce]] manifest commit — the
  * manifest ledger makes an epoch replay (crash anywhere between the
  * first write and the checkpoint commit) a no-op, a reader racing
  * the append keeps its pinned snapshot, and a crashed half-commit is
  * invisible until its replay. The bucketed layout cannot commit a
  * manifest (it appends through the catalog), so it guards with a
  * batch_id existence check instead. In every layout
  * the probe still collapses duplicate standing rows on the
  * bucket-pruned slice BEFORE cap ranking
  * ([[DedupQueries.incrementalPairsBetween]]) as defense in depth, so
  * even a hand-fed duplicate batch never consumes degenerate-bucket
  * cap headroom.
  */
object IncrementalDedup {

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
    def exists(spark: org.apache.spark.sql.SparkSession): Boolean
    def read(spark: org.apache.spark.sql.SparkSession): DataFrame
    /** Lands `bands` stamped with `batchId`, EFFECTIVELY-ONCE: calling
      * again with the same id must converge, not double. */
    def append(bands: DataFrame, batchId: Long): Unit
    /** The checkpoint-identity marker persisted alongside the index —
      * which streaming checkpoint owns this index's epoch sequence.
      * None when no marker has been written (pre-marker index, or a
      * layout with nowhere durable to put one). */
    def owner(spark: org.apache.spark.sql.SparkSession): Option[String]
    def writeOwner(
        spark: org.apache.spark.sql.SparkSession, id: String): Unit
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
    def read(spark: org.apache.spark.sql.SparkSession,
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
    def write(spark: org.apache.spark.sql.SparkSession,
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
    * layout since round 14 (the String-dir overloads build it):
    * epochs land as atomic `appendOnce` manifest commits, so the
    * reader/writer conventions the directory layout needed
    * (`_SUCCESS` gating, partition overwrite) disappear — a reader
    * racing an epoch append keeps its pinned snapshot, a crashed
    * half-commit is invisible until its replay, and effectively-once
    * comes from the manifest ledger rather than overwrite
    * idempotence. Rows are stamped with `batch_id` (the probe's
    * [[committedBefore]] view and the continuity guard read it, same
    * as the other layouts). Maintenance: `SnapshotTable.compact` folds
    * small epoch files, `expire` GCs past the reader-grace window.
    * The [[BucketedIndex]] remains the zero-Exchange probe layout at
    * warehouse scale; this layout's probe re-shuffles the
    * bucket-pruned collision slice. */
  final case class SnapIndex(dir: String) extends BandIndex {
    import graft.etl.SnapshotTable
    /** A populated dir without a snapshot commit REFUSES rather than
      * reading as absent, which would silently skip the standing probe
      * forever ([[EpochLedger.requireSnapshotLayout]]). */
    def exists(spark: org.apache.spark.sql.SparkSession): Boolean =
      if (SnapshotTable.currentSnapshot(spark, dir).nonEmpty) true
      else { EpochLedger.requireSnapshotLayout(spark, dir); false }
    def read(spark: org.apache.spark.sql.SparkSession): DataFrame =
      SnapshotTable.read(spark, dir)
    def append(bands: DataFrame, batchId: Long): Unit = {
      SnapshotTable.appendOnce(
        bands.withColumn("batch_id", lit(batchId)), dir, batchId): Unit
    }
    def owner(spark: org.apache.spark.sql.SparkSession): Option[String] =
      OwnerMarker.read(spark, dir)
    def writeOwner(
        spark: org.apache.spark.sql.SparkSession, id: String): Unit =
      OwnerMarker.write(spark, dir, id)
  }

  /** `key` is the bucketing column — "bh" for the text band index,
    * "bucket" for the semantic loop's packed (table, bucket) key:
    * HashPartitioning(key) satisfies every key-clustered requirement
    * downstream of either probe (subset-of-clustering rule), so the
    * zero-Exchange standing side is layout-generic. */
  final case class BucketedIndex(
      table: String, buckets: Int = 32, key: String = "bh")
      extends BandIndex {
    def exists(spark: org.apache.spark.sql.SparkSession): Boolean =
      spark.catalog.tableExists(table)
    def read(spark: org.apache.spark.sql.SparkSession): DataFrame =
      spark.table(table)
    /** bucketBy and insertInto don't compose (no partition overwrite
      * into a bucketed table), so replay idempotence comes from a
      * batch_id EXISTENCE GUARD: a replayed epoch whose rows already
      * landed is skipped whole. Safe because a crashed append job
      * publishes nothing (committer semantics) — the id is either
      * fully present or fully absent. The guard probe is one
      * filter-pushed scan (each append's files carry a constant
      * batch_id, so row-group stats skip everything else). */
    def append(bands: DataFrame, batchId: Long): Unit = {
      val spark = bands.sparkSession
      val landed = exists(spark) && {
        val stored = read(spark)
        // A pre-epoch bucketed table has no batch_id column; probing it
        // would throw AnalysisException (inconsistent with
        // committedBefore / requireEpochContinuity, which both check
        // first). Appending epoch-stamped rows is not an option either:
        // insertInto matches columns POSITIONALLY, so the extra column
        // would silently corrupt the table. Fail with the migration.
        if (!stored.columns.contains("batch_id"))
          throw new IllegalStateException(
            s"standing bucketed index '$table' uses the pre-epoch layout " +
              "(no batch_id column); epoch-stamped appends cannot mix with " +
              "it. Rebuild it once with the batch_id column: " +
              "Bucketing.appendBucketed(read(table).withColumn(\"batch_id\", " +
              "lit(-1L)), freshTable, key, buckets) and point the loop at " +
              "the fresh table.")
        !stored.filter(col("batch_id") === batchId).isEmpty
      }
      if (!landed)
        graft.ops.Bucketing.appendBucketed(
          bands.withColumn("batch_id", lit(batchId)), table, key, buckets)
    }
    /** Marker lives in the table's catalog properties — survives
      * exactly as long as the table itself. */
    def owner(spark: org.apache.spark.sql.SparkSession): Option[String] =
      if (!exists(spark)) None
      else spark.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table))
        .properties.get("graft.owner")
    // The value is a SQL string literal: escape embedded quotes (a
    // checkpoint path may contain them; the catalog stores the
    // unescaped value, so the read side needs no inverse).
    def writeOwner(
        spark: org.apache.spark.sql.SparkSession, id: String): Unit = {
      val lit = id.replace("'", "''")
      spark.sql(
        s"ALTER TABLE $table SET TBLPROPERTIES ('graft.owner' = '$lit')")
    }
  }

  /** Land one epoch's emitted pairs — shared by the pair loops — as a
    * [[graft.etl.SnapshotTable.appendOnce]] commit: atomic manifest
    * swap, a racing components/survivors consumer keeps its pinned
    * snapshot, and epoch replays no-op off the manifest ledger.
    * Maintenance folds/GCs via `SnapshotTable.compact`/`expire`. */
  private[streaming] def landPairs(
      pairs: DataFrame, pairsDir: String, batchId: Long): Unit =
    graft.etl.SnapshotTable.appendOnce(
      pairs.withColumn("batch_id", lit(batchId)), pairsDir, batchId): Unit

  /** One micro-batch step: probe, emit pairs, grow the index.
    * Exposed for specs; [[start]] wires it behind a checkpoint,
    * passing the epoch id that makes replays idempotent. The
    * String-dir overloads drive the [[SnapIndex]] snapshot layout
    * (round 14 — the landing conventions unified on SnapshotTable
    * commits); construct a [[BucketedIndex]] explicitly for the
    * zero-Exchange bucketed layout. */
  private[graft] def processBatch(
      docs: DataFrame, indexDir: String, pairsDir: String,
      batchId: Long): Unit =
    processBatch(docs, SnapIndex(indexDir), pairsDir, batchId, None)

  private[graft] def processBatch(
      docs: DataFrame, index: BandIndex, pairsDir: String,
      batchId: Long, ownerId: Option[String] = None): Unit = {
    val spark = docs.sparkSession
    // Guards BEFORE the empty-batch shortcut: a fresh checkpoint whose
    // batch 0 happens to be empty (no-data micro-batch) must still be
    // refused at batch 0 — batch 1 would otherwise start overwriting
    // the prior run's epochs with every guard skipped.
    requireEpochContinuity(index, spark, batchId, ownerId)
    if (docs.isEmpty) return
    // The batch is re-read below the pair join AND the index append;
    // checkpoint so banding (the CPU-heavy md5/minhash pass) runs once.
    val newBands = DedupQueries.bandsOfDocs(docs).cut(false)
    // Same-batch duplicates must pair too: the standing-index probe
    // below runs before this batch's bands join the index, so two
    // copies landing in ONE batch would otherwise stay unlinked
    // forever (strictly lower recall than the batch pipeline's
    // corpus-vs-corpus pass). The batch is probed against itself with
    // the same capped machinery; doc_id ordering drops self edges and
    // mirror duplicates.
    val intra = DedupQueries.incrementalPairsBetween(newBands, newBands)
      .filter(col("new_doc") > col("corpus_doc"))
    val emitted =
      if (index.exists(spark))
        DedupQueries.incrementalPairsBetween(
          newBands, committedBefore(index.read(spark), batchId))
          .unionByName(intra)
      else intra
    // Checkpointed: isEmpty is an action, and without the pin the
    // append below would re-run the whole standing-index probe
    // (semi-join + rank window + pair join) a second time.
    val pairs = emitted.cut(false)
    if (!pairs.isEmpty) landPairs(pairs, pairsDir, batchId)
    index.append(newBands, batchId)
    stampOwner(index, spark, ownerId)
  }

  /** Periodic components consumer over the loop's pair table — the
    * streaming analog of `dedup_incremental_components`' final labels,
    * read off the loop's own state ([[PairConsumers]]). */
  def components(
      spark: org.apache.spark.sql.SparkSession, pairsDir: String): DataFrame =
    PairConsumers.componentsOf(spark, pairsDir, "new_doc", "corpus_doc", "doc_id")

  /** Periodic survivors consumer: min-doc_id representative per
    * cluster + unpaired corpus rows, with cluster sizes. Pass the
    * retracted keys (with the SURVIVING corpus) after a takedown:
    * edges through retracted docs leave the graph and the re-fold
    * promotes runner-up representatives, ≡ a rebuild on survivors. */
  def survivors(corpus: DataFrame, pairsDir: String,
      retracted: Option[DataFrame] = None): DataFrame =
    PairConsumers.survivorsOf(
      corpus, pairsDir, "new_doc", "corpus_doc", "doc_id", retracted)

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
      index: BandIndex, spark: org.apache.spark.sql.SparkSession,
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
      val stored = index.read(spark)
      if (stored.columns.contains("batch_id") &&
        !stored.filter(col("batch_id") > 0).isEmpty)
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

  /** First-write ownership stamp: records which checkpoint drives this
    * index so [[requireEpochContinuity]] can refuse a different one at
    * its batch 0. Idempotent and cheap (one marker existence probe per
    * batch); never overwrites an existing marker. */
  private[streaming] def stampOwner(
      index: BandIndex, spark: org.apache.spark.sql.SparkSession,
      ownerId: Option[String]): Unit =
    for (id <- ownerId; if index.owner(spark).isEmpty)
      index.writeOwner(spark, id)

  /** Standing rows from epochs STRICTLY BEFORE `batchId` — the probe's
    * view of the index. On the happy path this filter is a no-op
    * (epoch ids are monotone, so everything stored is older); on an
    * epoch REPLAY it excludes the epoch's own already-landed rows, so
    * the replay probes the exact pre-epoch standing state and emits
    * the exact same pairs (no self-pairs, no mirror orientations of
    * same-batch dups) — the read-side half of the effectively-once
    * contract. Shared by the three incremental loops. */
  private[streaming] def committedBefore(
      index: DataFrame, batchId: Long): DataFrame =
    if (index.columns.contains("batch_id"))
      index.filter(col("batch_id") < batchId)
    else index // pre-batch_id layout: at-least-once semantics unchanged

  /** Starts the loop over a stream of (doc_id, text) documents against
    * a snapshot-committed index ([[SnapIndex]] — the default layout);
    * pass a [[BucketedIndex]] to the overload for the Exchange-free
    * standing side. */
  def start(
      docs: DataFrame, indexDir: String, pairsDir: String,
      checkpointDir: String,
      trigger: Trigger): StreamingQuery =
    start(docs, SnapIndex(indexDir), pairsDir, checkpointDir, trigger)

  def start(
      docs: DataFrame, indexDir: String, pairsDir: String,
      checkpointDir: String): StreamingQuery =
    start(docs, SnapIndex(indexDir), pairsDir, checkpointDir,
      Streaming.HourlyTrigger)

  def start(
      docs: DataFrame, index: BandIndex, pairsDir: String,
      checkpointDir: String,
      trigger: Trigger = Streaming.HourlyTrigger): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // The checkpoint dir IS the epoch sequence's identity: batch
        // ids are scoped to it, so it is what the index's owner marker
        // must name ([[requireEpochContinuity]]).
        processBatch(batch.toDF(), index, pairsDir, batchId,
          Some(checkpointDir))
      }
      .start()
}
