package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.etl.SnapshotTable

/** The standing loops' shared epoch discipline — the epoch-wise form of
  * the reference's hourly WRITE_APPEND load (bpi_etl_bigquery.py:27,
  * 279-282). A loop's state tables are SnapshotTable ledgers that one
  * epoch advances in a fixed LANDING ORDER (counts → scores, maps →
  * mins, urls → a5 → funnel); every commit is an `appendOnce` keyed by
  * the epoch id, so a replay of a landed epoch no-ops table by table.
  *
  * [[admit]] is the single admission check every loop runs before it
  * touches state. It reads each ledger's high-water mark once (the head
  * manifest's `maxBatch=`) and refuses:
  *
  *  - LOCKSTEP violations: along the landing order the next-epoch
  *    values must be non-increasing and span at most one epoch — a
  *    crash between two commits of epoch N leaves exactly that
  *    one-epoch step, and any other shape means a ledger was advanced
  *    outside the loop;
  *  - GAPS: `batchId` may not exceed the LAST ledger's next epoch, so
  *    a crashed epoch is replayed (the landed prefix no-ops, the
  *    missing suffix commits) before the next one can land.
  *
  * Refusals name every ledger dir with its high-water mark.
  *
  * [[land]] and [[committedBefore]] are the write and read halves of
  * an epoch: rows land stamped with their `batch_id`, and an epoch
  * reads its ledgers strictly below its own id, so a replay sees the
  * exact pre-epoch state and emits the exact same rows.
  */
object EpochLedger {

  /** Admit epoch `batchId` onto `dirs`, listed in landing order. */
  def admit(spark: SparkSession, batchId: Long, dirs: String*): Unit = {
    val marks = dirs.map(d => d -> highWater(spark, d))
    val nexts = marks.map(_._2 + 1)
    def state = marks.map { case (d, m) => s"$d at $m" }.mkString(", ")
    require(nexts.zip(nexts.tail).forall { case (a, b) => a >= b } &&
      nexts.head - nexts.last <= 1,
      s"ledgers out of lockstep (high-water marks: $state) — they must " +
        "only ever be advanced through the loop's own epoch step")
    require(batchId <= nexts.last,
      s"epoch gap: batch $batchId after high-water marks ($state) — " +
        s"replay epoch ${nexts.last} first")
  }

  /** Land `df` as epoch `batchId` of the ledger at `dir`: one
    * `appendOnce` commit of its rows stamped with `batch_id` — atomic
    * manifest swap, a racing reader keeps its pinned snapshot, and a
    * replay of a landed epoch no-ops off the manifest ledger. */
  def land(df: DataFrame, dir: String, batchId: Long): Unit =
    SnapshotTable.appendOnce(
      df.withColumn("batch_id", lit(batchId)), dir, batchId): Unit

  /** Rows of a batch-stamped ledger from epochs STRICTLY BEFORE
    * `batchId`. A no-op filter on the happy path (epoch ids are
    * monotone); on a REPLAY it excludes the epoch's own landed rows,
    * so the replay reads the exact pre-epoch state — the read-side
    * half of the effectively-once contract. */
  def committedBefore(ledger: DataFrame, batchId: Long): DataFrame =
    ledger.filter(col("batch_id") < batchId)

  /** The ledger's high-water mark: the highest epoch committed, -1 when
    * nothing is. A dir with no snapshot commit must also hold no
    * parquet data — see [[requireSnapshotLayout]]. */
  def highWater(spark: SparkSession, dir: String): Long = {
    val head = SnapshotTable.currentSnapshot(spark, dir)
    if (head.isEmpty) requireSnapshotLayout(spark, dir)
    SnapshotTable.ledgerOf(head)
  }

  /** Refuse a dir that holds parquet files or `k=v` partition dirs but
    * no snapshot commit: read as an empty ledger it would restart the
    * epoch sequence over data no reader can see. Called only when the
    * dir has no committed snapshot. */
  def requireSnapshotLayout(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).exists { s =>
        (s.isFile && s.getPath.getName.endsWith(".parquet")) ||
          (s.isDirectory && s.getPath.getName.contains("="))
      })
      throw new IllegalStateException(
        s"$dir holds parquet data but no snapshot commit: loop state " +
          "lives only in SnapshotTable commits. Rebuild it into a fresh " +
          "dir (read the files, SnapshotTable.appendOnce them as one " +
          "epoch) and point the loop there.")
  }

  /** Run `body` with its Spark jobs labelled `"$prefix: $phase"`; the
    * body switches phase through the function it is handed. The
    * caller's own job description is restored afterwards, also when
    * the body throws. */
  def labelled(spark: SparkSession, prefix: String)(
      body: (String => Unit) => Unit): Unit = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty("spark.job.description")
    try body(phase => sc.setJobDescription(s"$prefix: $phase"))
    finally sc.setJobDescription(outer)
  }
}
