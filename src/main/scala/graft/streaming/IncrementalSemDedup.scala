package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.CollisionProbe
import graft.sim.SimilarityQueries

/** Streaming SEMANTIC near-dedup — the [[PairLoop]] over (vec_id,
  * embedding) rows. Vectors are sign-LSH-bucketed into an OR-AMPLIFIED
  * index ([[SimilarityQueries.multiBucketRowsOf]]): 4 sign-LSH tables
  * over disjoint plane sets, table ordinal packed into the bucket id,
  * so a pair colliding in ANY table is probed — the recall fix
  * `embedding_near_dup_multi` measured (114→382 of 9221
  * threshold-grade pairs vs one table) carried into the standing
  * state. The probe ([[SimilarityQueries.semProbe]]) scores cosine on
  * the collision frame only; emitted (new_vec, corpus_vec, sim_e6)
  * pairs feed the components/survivors consumers.
  *
  * Embedding payloads DO live in the index (the probe must score
  * cosine), which is the real storage trade vs the text loop's
  * key-only bands: 256 B/vector at 64-dim f32 per table row — 4× that
  * bytes across the L=4 tables, the standard cost of an L-table LSH
  * serving index. A [[IncrementalDedup.BucketedIndex]] on `bucket`
  * gives the zero-Exchange standing side (packed table ordinals are
  * just disjoint ranges of that one key).
  */
object IncrementalSemDedup extends PairLoop("semdedup") {

  protected def fingerprint(vecs: DataFrame): DataFrame =
    SimilarityQueries.multiBucketRowsOf(vecs)
  protected def probe: CollisionProbe = SimilarityQueries.semProbe()

  /** One verdict per index per driver lifetime: a resumed checkpoint
    * never passes through batch 0, so gating the check on the batch id
    * would let an UPGRADED loop resume over a legacy index unguarded —
    * the check must run on the first batch this process handles,
    * whatever its id. Keyed by the index value (case classes), so two
    * loops over different dirs each get their own verdict. */
  private val multiTableChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[IncrementalDedup.BandIndex]()

  /** Refuses a SINGLE-TABLE legacy standing index — the silent-recall
    * degradation the multi-table upgrade note warns about, made a
    * hard stop: pre-upgrade rows store RAW buckets, which only
    * collide in the packed key's table-0 range, so pre-upgrade
    * vectors would get ~1-table recall forever. Detection is exact
    * for any non-empty index: [[SimilarityQueries.multiBucketRowsOf]]
    * emits one row per table per vector with table ordinals packed
    * above bit [[SimilarityQueries.DefaultPlanes]], so a multi-table
    * index always holds a bucket ≥ 2^planes while a legacy one never
    * does. Runs on the FIRST batch each driver processes against the
    * index (one max() over it — a genuinely once-per-restart budget;
    * batch 0 alone would miss a resumed checkpoint); steady epochs
    * pay one set lookup. Recovery: the index is derived state — drop
    * the dir (keep the pairs table) and replay the corpus through one
    * batch, or rebuild offline via multiBucketRowsOf into a fresh
    * dir. */
  override protected def precheck(
      index: IncrementalDedup.BandIndex, spark: SparkSession): Unit =
    if (!multiTableChecked.contains(index) && index.exists(spark)) {
      val stored = index.read(spark)
      if (stored.columns.contains("bucket")) {
        val mx = stored.agg(max(col("bucket"))).collect()(0)
        if (!mx.isNullAt(0) &&
          mx.getLong(0) < (1L << SimilarityQueries.DefaultPlanes))
          throw new IllegalStateException(
            "standing semantic index stores single-table (raw) buckets: " +
              "pre-upgrade vectors would get ~1-table recall forever. " +
              "Rebuild the index (it is derived state): drop the index " +
              "dir, keep the pairs table, and replay the corpus through " +
              "one batch — or rebuild offline via " +
              "SimilarityQueries.multiBucketRowsOf into a fresh dir.")
      }
      multiTableChecked.add(index)
    }
}
