package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.SnapshotTable
import graft.text.DomainQueries

/** The STANDING DOMAIN PLANE — `domain_stats` maintained incrementally
  * (the round-15 verdict's item 3): a crawl lands in batches, and the
  * per-domain curation table must stay current without re-reading the
  * corpus. Two state tables, both landed through [[SnapshotTable]]
  * commits under the loop discipline (effectively-once off the
  * manifest ledger, epoch gaps refused and lockstep enforced by
  * [[EpochLedger]]):
  *
  *  - `maps` — ONE count-map table (domain, kind, key, m) covering
  *    every additive and multiset statistic at once: kind `hosted`
  *    (m = hosted copies), `tok` (m = whitespace tokens), and the
  *    `cdc_view_distinct` count-map form for the three distinct
  *    counts — `doc`/`sub`/`lang` rows keyed by the counted value.
  *    All rows are SUM-mergeable per (domain, kind, key), so the
  *    epoch partials form a monoid and compaction folds freely.
  *  - `mins` — the canonicality state: per text digest, the current
  *    FIRST-SEEN hosted copy (argmin fetch_seq → holding domain).
  *    First-seen-wins is the MIN view — non-invertible under
  *    retractions (`cdc_view_minmax`'s bounded-rescan case) — but a
  *    crawl only GROWS, and under insert-only streams MIN is exactly
  *    mergeable: each epoch's batch-local argmin merges with the
  *    stored holder by one more argmin, touching only the text keys
  *    the batch carries (the bounded-maintenance property, with the
  *    bound = the batch itself). A retracting source goes through
  *    [[processRetractions]] — the `cdc_view_minmax` bounded rescan
  *    (tombstones + affected-key replacement partials) — while this
  *    insert-only fast path stays untouched.
  *
  * The read side ([[standingStats]]) reduces both tables and must be
  * BIT-EQUAL to the batch `domain_stats` over every landed doc at any
  * epoch boundary — through replays and maintenance folds
  * (IncrementalDomainSpec pins all of it). Scale posture at 100 TB:
  * an epoch pays one narrow projection of the batch's hosting rows
  * exploded into 5 (kind, key) structs and ONE partial-agg shuffle
  * (the map partial), plus one batch-keyed argmin (the mins partial);
  * the standing read is a sum-merge over the maps table (count-map
  * sized: bounded by hosted rows for `doc` rows, domain-cardinality
  * for the rest) and one argmin over the mins table (text-digest
  * cardinality). The corpus itself is never re-read. */
object IncrementalDomain {

  /** One epoch's count-map partial off the batch's extracted hosting
    * rows: (domain, kind, key, m), one shuffle. */
  private[streaming] def mapPartial(ext: DataFrame): DataFrame =
    ext
      .select(col("registrable_domain").as("domain"), explode(array(
        struct(lit("hosted").as("kind"), lit("").as("key"),
          lit(1L).as("m")),
        struct(lit("tok").as("kind"), lit("").as("key"),
          size(split(col("text"), " ")).cast("long").as("m")),
        struct(lit("doc").as("kind"), col("doc_id").cast("string")
          .as("key"), lit(1L).as("m")),
        struct(lit("sub").as("kind"), col("subdomain").as("key"),
          lit(1L).as("m")),
        struct(lit("lang").as("kind"), col("lang").as("key"),
          lit(1L).as("m")))).as("s"))
      .select(col("domain"), col("s.kind").as("kind"),
        col("s.key").as("key"), col("s.m").as("m"))
      // The count-map EXCLUDES NULL keys, exactly like the batch
      // side's COUNT(DISTINCT): a NULL subdomain/lang from extraction
      // must not land as a NULL-keyed map row (it would inflate the
      // standing n_subdomains/n_langs by one vs batch). Today
      // extraction always yields non-null ('' for no subdomain), so
      // this is contract, not behavior change (ADVICE r16).
      .filter(col("key").isNotNull)
      .groupBy(col("domain"), col("kind"), col("key"))
      .agg(sum(col("m")).as("m"))

  /** One epoch's canonicality partial: the batch-local first-seen
    * hosted copy per text digest. fetch_seq is globally unique, so the
    * argmin is deterministic; the (fetch_seq, domain) struct min IS
    * the argmin. */
  private[streaming] def minPartial(ext: DataFrame): DataFrame =
    ext
      .select(md5(col("text")).as("text_key"),
        struct(col("fetch_seq"), col("registrable_domain").as("domain"))
          .as("s"))
      .groupBy(col("text_key"))
      .agg(min(col("s")).as("s"))
      .select(col("text_key"), col("s.fetch_seq").as("fetch_seq"),
        col("s.domain").as("domain"), lit(0L).as("retract"))

  /** Land one epoch: extract the batch's hosting rows ONCE
    * (lineage-cut — the single batch-scale pass), commit the count-map
    * partial and the canonicality partial under the same batch id.
    * Admission ([[EpochLedger.admit]], maps then mins) refuses gaps on
    * BOTH tables and asserts lockstep on entry, so a crash between the
    * two commits must be replayed, never skipped. */
  def processBatch(docs: DataFrame, mapsDir: String, minsDir: String,
      batchId: Long): Unit = {
    import graft.ops.Checkpoints.CheckpointOps
    val spark = docs.sparkSession
    EpochLedger.admit(spark, batchId, mapsDir, minsDir)
    // Lazy cut (r19): the extraction pass materializes inside the maps
    // append (its first consumer); the mins partial reuses the
    // persisted blocks — same single pass, one fewer job launch.
    val ext = DomainQueries.extractedDocs(docs)
      .select(col("doc_id"), col("text"), col("lang"), col("fetch_seq"),
        col("registrable_domain"), col("subdomain"))
      .cut(false)
    EpochLedger.land(mapPartial(ext), mapsDir, batchId)
    EpochLedger.land(minPartial(ext), minsDir, batchId)
  }

  /** A RETRACTING epoch (the round-16 verdict's missing item 5 — a
    * page removed, a domain re-assigned): the `cdc_view_minmax`
    * bounded-rescan pattern applied at domain grain, while the
    * insert-only fast path ([[processBatch]]) stays untouched.
    *
    *  - maps: the count-map is INVERTIBLE — the retraction lands the
    *    batch's map partial NEGATED; multiset kinds whose multiplicity
    *    hits zero drop out of the standing read's row count (the
    *    `cdc_view_distinct` delete-to-zero rule, enforced by the
    *    read's m > 0 filter on multiset kinds).
    *  - mins: first-seen-wins is NON-invertible (deleting the current
    *    holder needs the runner-up, which per-epoch argmin partials do
    *    not keep). The bounded rescan: land one TOMBSTONE row per
    *    retracted hosted copy (text_key, fetch_seq, retract = 1 —
    *    fetch_seq is globally unique, so the anti-join removes exactly
    *    the dead holders) plus a REPLACEMENT argmin partial for the
    *    affected text keys recomputed from the SURVIVING corpus pruned
    *    to those keys (a broadcast semi-join on the retraction-sized
    *    key set — the rescan reads affected keys only, never the
    *    corpus: `cdc_view_minmax`'s bound, with the bound = the
    *    retraction).
    *
    * Same ledger discipline as [[processBatch]] (gaps refused,
    * lockstep, replays no-op via appendOnce). `surviving` is the
    * landed corpus MINUS the retracted docs — the fact table a real
    * deployment key-prunes. */
  def processRetractions(
      retracted: DataFrame, surviving: DataFrame,
      mapsDir: String, minsDir: String, batchId: Long): Unit = {
    val spark = retracted.sparkSession
    // Same admission as processBatch: a crash between the maps and mins
    // appends must be REPLAYED, never skipped — a resume at batchId+1
    // landing on mins across the hole would silently lose the crashed
    // epoch's tombstones (the retracted holder stays canonical).
    EpochLedger.admit(spark, batchId, mapsDir, minsDir)
    // Schema gate (ADVICE r17): SnapshotTable.read pins the schema from
    // the manifest head file's footer, so appending 'retract'-bearing
    // rows to a mins table whose standing files predate the retract
    // column would SILENTLY DROP the column on read — every tombstone
    // row would then fold as a live argmin row, reinforcing the
    // retracted holder. Refuse loudly; the one-time migration is a
    // replaceBatch restage of the standing mins with retract = 0.
    if (SnapshotTable.currentSnapshot(spark, minsDir).isDefined)
      require(SnapshotTable.read(spark, minsDir).columns.contains("retract"),
        s"$minsDir holds a pre-retraction mins layout (no 'retract' " +
          "column in the standing footer schema): restage it once with " +
          "retract = 0 (SnapshotTable.replaceBatch) before landing " +
          "retraction epochs — appending now would silently drop the " +
          "tombstones on read.")
    if (retracted.isEmpty) return
    import graft.ops.Checkpoints.CheckpointOps
    val extR = DomainQueries.extractedDocs(retracted)
      .select(col("doc_id"), col("text"), col("lang"), col("fetch_seq"),
        col("registrable_domain"), col("subdomain"))
      .cut()
    EpochLedger.land(
      mapPartial(extR).withColumn("m", -col("m")),
      mapsDir, batchId)
    val tombstones = extR
      .select(md5(col("text")).as("text_key"), col("fetch_seq"),
        col("registrable_domain").as("domain"), lit(1L).as("retract"))
      .distinct()
    val affected = tombstones.select(col("text_key")).distinct()
    val prunedSurviving = surviving
      .join(broadcast(affected),
        md5(col("text")) === col("text_key"), "left_semi")
    val rescan = minPartial(DomainQueries.extractedDocs(prunedSurviving)
      .select(col("text"), col("fetch_seq"),
        col("registrable_domain")))
    EpochLedger.land(tombstones.unionByName(rescan), minsDir, batchId)
  }

  /** The standing `domain_stats` table off the two state tables —
    * bit-equal to the batch query over every landed doc. Count maps
    * sum-merge per (domain, kind, key); the canonical holder is one
    * more argmin over the landed partials (tombstoned holders
    * excluded); both reduce to domain-cardinality metadata before the
    * final join. Domains whose hosted copies all retracted drop out,
    * exactly like the batch query over the surviving corpus. */
  def standingStats(spark: SparkSession, mapsDir: String,
      minsDir: String): DataFrame = {
    val merged = SnapshotTable.read(spark, mapsDir)
      .groupBy(col("domain"), col("kind"), col("key"))
      .agg(sum(col("m")).as("m"))
      // Multiset kinds count ROWS, so a retraction-zeroed multiplicity
      // must drop its row (the cdc_view_distinct delete-to-zero rule);
      // additive kinds sum through zero naturally.
      .filter(col("kind").isin("hosted", "tok") || col("m") > 0)
    val byDomain = merged
      .groupBy(col("domain"))
      .agg(
        sum(when(col("kind") === "hosted", col("m")).otherwise(0L))
          .as("n_hosted"),
        sum(when(col("kind") === "tok", col("m")).otherwise(0L))
          .as("n_tokens"),
        sum(when(col("kind") === "doc", 1L).otherwise(0L)).as("n_docs"),
        sum(when(col("kind") === "sub", 1L).otherwise(0L))
          .as("n_subdomains"),
        sum(when(col("kind") === "lang", 1L).otherwise(0L)).as("n_langs"))
    // Tombstoned holders (retracted copies) leave the argmin before it
    // folds; their keys' replacement partials landed with the same
    // retraction epoch, so a key with survivors keeps a correct min
    // and a fully-retracted key vanishes.
    val minsAll = SnapshotTable.read(spark, minsDir)
    val live =
      if (minsAll.columns.contains("retract")) {
        val tomb = minsAll.filter(col("retract") === 1L)
          .select(col("text_key"), col("fetch_seq"))
        minsAll.filter(col("retract") === 0L)
          .join(tomb, Seq("text_key", "fetch_seq"), "left_anti")
      } else minsAll // pre-retraction state layout: nothing tombstoned
    val canon = live
      .select(col("text_key"),
        struct(col("fetch_seq"), col("domain")).as("s"))
      .groupBy(col("text_key"))
      .agg(min(col("s")).as("s"))
      .groupBy(col("s.domain").as("domain"))
      .agg(count(lit(1)).as("n_canonical"))
    byDomain
      .filter(col("n_hosted") > 0)
      .join(canon, Seq("domain"), "left")
      .select(col("domain").as("registrable_domain"), col("n_hosted"),
        col("n_docs"), col("n_subdomains"), col("n_langs"),
        col("n_tokens"),
        coalesce(col("n_canonical"), lit(0L)).as("n_canonical"))
      .withColumn("non_canonical_e6",
        expr("(n_hosted - n_canonical) * 1000000 DIV n_hosted"))
      .withColumn("mean_tokens", expr("n_tokens DIV n_hosted"))
  }
}
