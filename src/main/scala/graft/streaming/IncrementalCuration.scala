package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.SnapshotTable
import graft.text.CurationQueries
import graft.ops.Checkpoints.CheckpointOps

/** STREAMING CURATION — the six-stage batch pipeline
  * (`corpus_curation_pipeline`, [[graft.text.CurationQueries]]) as an
  * epoch-wise loop against STANDING planes (the round-16 verdict's
  * missing item 3): per epoch the new document batch runs the same six
  * gates, landing per-epoch funnel partials and stage-5 survivors; the
  * final near-dup re-selection folds at READ time over the standing
  * dedup pair table (the [[PairConsumers]] discipline), so late
  * cross-epoch component merges resolve exactly like the batch run.
  *
  * Gate-by-gate incrementality:
  *   1. URL canonical dedup — FIRST-SEEN-WINS against a standing
  *      (canonical_url, min_doc) table. Under the loop's INSERT-ONLY
  *      MONOTONE-ID contract (a crawl assigns increasing doc ids, the
  *      same contract [[IncrementalDomain]] documents), first-seen ≡
  *      the batch pipeline's global min-doc rule, so the per-epoch
  *      flag is EXACT.
  *   2./3. HTML boilerplate and LID-agreement gates — pure per-row
  *      expressions ([[CurationQueries.narrowFlags]], shared verbatim).
  *   4. Quality gate — the batch's MAP decision against the STANDING
  *      classifier ([[IncrementalQuality.scoreAgainst]], counts table
  *      frozen for the epoch; production serves a frozen model and
  *      retrains on its own cadence).
  *   5. Domain gate — a broadcast probe of the standing verdict table
  *      ([[CurationQueries.domainVerdicts]] seeded/refreshed on its
  *      own cadence via [[seedVerdicts]]).
  *   6. Near-dup survivor re-selection — NOT decided per epoch:
  *      stage-5 survivors accumulate, and [[standingSurvivors]] folds
  *      min-doc-per-component over the standing dedup pair graph at
  *      read, which is what makes the loop's final survivor set
  *      EQUAL to the batch pipeline on the union corpus even when an
  *      epoch-2 bridge doc merges two earlier clusters.
  *
  * IncrementalCurationSpec pins the summed 3-epoch funnel ≡ the batch
  * `corpus_curation_pipeline` rows on the union corpus, and the
  * standing survivor set ≡ the batch survivor frame — bit-equal, not
  * recall-bounded — plus replay no-op and epoch-gap refusal.
  *
  * Scale posture: per epoch one narrow batch scan (stages 1-3), one
  * standing-URL anti-probe (key join on canonical_url), one broadcast
  * model join (65 rows), one broadcast verdict probe
  * (domain-cardinality), and three batch-sized appends. The standing
  * planes are maintained by THEIR loops on their own cadences —
  * composition, not duplication. */
object IncrementalCuration {

  /** Seed (or refresh) the standing per-domain verdict table from a
    * hosted corpus — stage 5's plane, on its own cadence. */
  def seedVerdicts(docs: DataFrame, dverDir: String): Unit =
    SnapshotTable.overwrite(
      CurationQueries.domainVerdicts(docs), dverDir): Unit

  /** One epoch: gate the batch against the standing planes, land the
    * URL-min partial, the stage-5 survivor rows, and the funnel
    * partial (one row: this epoch's n0..n5). `countsDir`/`dverDir` are
    * READ-ONLY standing planes. `tombsDir`, when the loop has a
    * retraction path ([[processRetractions]]), scopes the standing-URL
    * probe: a url whose every holder retracted is UNSEEN again until a
    * later epoch re-lands it (url partials older than the url's last
    * tombstone are dead; newer ones revive it). */
  def processBatch(
      docs: DataFrame, urlsDir: String, a5Dir: String, funnelDir: String,
      countsDir: String, dverDir: String, batchId: Long,
      tombsDir: Option[String] = None): Unit = {
    val spark = docs.sparkSession
    // The three state ledgers advance together, in landing order:
    // refuse gaps and split-brain resumes.
    EpochLedger.admit(spark, batchId, urlsDir, a5Dir, funnelDir)
    if (docs.isEmpty) return
    // Phase labels (guide §1.5) + lazy cuts (r19): the narrow-flags
    // pass is the epoch's one corpus-scale scan — cutting it lazily
    // materializes it inside its first consumer instead of a
    // standalone job (same single pass, one fewer job launch).
    EpochLedger.labelled(spark, s"curation epoch $batchId") { mark =>
    mark("gates")
    val nf = CurationQueries.narrowFlags(docs).cut(false)
    // Stage 1: first-seen-wins against the standing URL table, min-doc
    // within the batch (≡ the batch pipeline's global min-doc window
    // under the monotone-id contract).
    val standingUrls =
      if (SnapshotTable.currentSnapshot(spark, urlsDir).nonEmpty) {
        val rows = EpochLedger.committedBefore(
          SnapshotTable.read(spark, urlsDir), batchId)
          .select(col("canonical_url"), col("batch_id"))
        val live = tombsDir.fold(rows) { d =>
          rows.join(broadcast(urlLastTombs(spark, d, batchId)),
            Seq("canonical_url"), "left")
            .filter(col("batch_id") > coalesce(col("last_tomb"), lit(-1L)))
        }
        live.select(col("canonical_url")).distinct()
          .withColumn("seen", lit(1L))
      } else nf.select(col("canonical_url")).limit(0)
        .withColumn("seen", lit(1L))
    val batchMin = nf.groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("min_doc"))
    val withUrl = nf
      .join(batchMin, Seq("canonical_url"))
      .join(standingUrls, Seq("canonical_url"), "left")
      .withColumn("f_url",
        (col("seen").isNull && col("doc_id") === col("min_doc"))
          .cast("long"))
      .drop("seen", "min_doc")
    // Stage 4: the frozen standing classifier's MAP decision.
    val qual = IncrementalQuality.scoreAgainst(docs, countsDir)
      .select(col("doc_id"),
        (col("score_fx") > 0L).cast("long").as("f_qual"))
    // Stage 5: broadcast probe of the standing verdicts.
    val dver = SnapshotTable.read(spark, dverDir)
      .select(col("reg"), col("f_dom"))
    val fl = CurationQueries
      .withDomainFlag(withUrl.join(qual, Seq("doc_id")), dver)
      .cut(false)
    // Land: URL mins, stage-5 survivors, funnel partial — all
    // batch-stamped appendOnce commits (replays no-op).
    mark("land")
    EpochLedger.land(batchMin, urlsDir, batchId)
    val a5 = fl.filter(col("f_url") === 1 && col("f_html") === 1 &&
      col("f_lang") === 1 && col("f_qual") === 1 && col("f_dom") === 1)
      .select(col("doc_id"), col("source"), col("tk"))
    EpochLedger.land(a5, a5Dir, batchId)
    val partial = fl.agg(
      count(lit(1)).as("n0"),
      sum(col("f_url")).as("n1"),
      sum(col("f_url") * col("f_html")).as("n2"),
      sum(col("f_url") * col("f_html") * col("f_lang")).as("n3"),
      sum(col("f_url") * col("f_html") * col("f_lang") * col("f_qual"))
        .as("n4"),
      sum(col("f_url") * col("f_html") * col("f_lang") * col("f_qual")
        * col("f_dom")).as("n5"))
    EpochLedger.land(partial, funnelDir, batchId)
    }
  }

  /** Doc tombstones landed so far (empty frame when none). */
  private def docTombs(
      spark: SparkSession, tombsDir: String, batchId: Long): DataFrame =
    if (SnapshotTable.currentSnapshot(spark, s"$tombsDir/docs").nonEmpty)
      EpochLedger.committedBefore(
        SnapshotTable.read(spark, s"$tombsDir/docs"), batchId)
        .select(col("doc_id")).distinct()
    else spark.range(0).select(col("id").as("doc_id"))

  /** Per-url LAST tombstone epoch (empty frame when none) — the probe
    * treats url partials at or before it as dead, later ones revive. */
  private def urlLastTombs(
      spark: SparkSession, tombsDir: String, batchId: Long): DataFrame =
    if (SnapshotTable.currentSnapshot(spark, s"$tombsDir/urls").nonEmpty)
      EpochLedger.committedBefore(
        SnapshotTable.read(spark, s"$tombsDir/urls"), batchId)
        .groupBy(col("canonical_url"))
        .agg(max(col("batch_id")).as("last_tomb"))
    else
      spark.range(0).select(col("id").cast("string").as("canonical_url"),
        col("id").as("last_tomb"))

  /** A RETRACTING epoch (takedown at corpus grain — the r17 verdict's
    * missing item 4): the [[IncrementalDomain.processRetractions]]
    * bounded-rescan discipline through the curation planes, keeping
    * the standing funnel and survivors ≡ the batch pipeline over the
    * SURVIVING corpus:
    *
    *  - doc tombstones land FIRST (`tombsDir/docs` — idempotent facts;
    *    a crash before the ledger triple advances leaves the triple's
    *    gap check to refuse a skip, so the epoch must be replayed);
    *  - the funnel gets a CORRECTION partial: the retracted docs'
    *    gate chains NEGATED (their effective stage-1 flag recomputed
    *    as the min over pre-retraction LIVE holders — the monotone-id
    *    first-seen rule is non-invertible, the rescan is pruned to the
    *    retraction's urls), plus the PROMOTED runner-up holders' full
    *    chains added from stage 1 on (their n0 was already counted at
    *    their own epoch);
    *  - promoted docs that clear stages 1-5 land as ordinary a5 rows
    *    under this epoch; the retracted docs' a5 rows are masked at
    *    read by the tombstones;
    *  - urls whose every live holder retracted get a URL tombstone
    *    (`tombsDir/urls`, landed right after the doc tombstones and
    *    before the triple) so a future re-crawl is first-seen again;
    *    the urls ledger advances with an empty partial to keep the
    *    triple in lockstep.
    *
    * Contract: `retracted` rows were landed (each exactly once, ids
    * monotone per the loop's contract) and `surviving` is the landed
    * corpus minus every doc retracted so far, including this batch. */
  def processRetractions(
      retracted: DataFrame, surviving: DataFrame,
      urlsDir: String, a5Dir: String, funnelDir: String,
      countsDir: String, dverDir: String, tombsDir: String,
      batchId: Long): Unit = {
    val spark = retracted.sparkSession
    EpochLedger.admit(spark, batchId, urlsDir, a5Dir, funnelDir)
    if (retracted.isEmpty) return
    val nfR = CurationQueries.narrowFlags(retracted).cut()
    EpochLedger.land(
      nfR.select(col("doc_id")).distinct(),
      s"$tombsDir/docs", batchId)
    // The bounded rescan: minima over the pre-retraction live holders
    // of the retraction's OWN urls (broadcast-pruned — the bound is
    // the retraction, never the corpus).
    val affectedUrls = nfR.select(col("canonical_url")).distinct()
      .cut(false)
    val survHolderIds = CurationQueries.urlsOf(surviving)
      .join(broadcast(affectedUrls), Seq("canonical_url"), "left_semi")
      .select(col("doc_id")).cut(false)
    val survUrlRows = CurationQueries
      .narrowFlags(surviving.join(broadcast(survHolderIds),
        Seq("doc_id"), "left_semi"))
      .cut()
    val minBefore = nfR.select(col("canonical_url"), col("doc_id"))
      .unionByName(survUrlRows.select(col("canonical_url"), col("doc_id")))
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("min_before"))
    val minAfter = survUrlRows
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("min_after"))
    val urlState = minBefore.join(minAfter, Seq("canonical_url"), "left")
      .cut(false)
    // Gate chains. Retracted side: effective f_url = held the min among
    // pre-retraction live holders; counted in n0 (sign -1, landed once).
    val dver = SnapshotTable.read(spark, dverDir)
      .select(col("reg"), col("f_dom"))
    def chained(nf: DataFrame, docs: DataFrame): DataFrame = {
      val qual = IncrementalQuality.scoreAgainst(docs, countsDir)
        .select(col("doc_id"),
          (col("score_fx") > 0L).cast("long").as("f_qual"))
      CurationQueries.withDomainFlag(nf.join(qual, Seq("doc_id")), dver)
    }
    val flR = chained(nfR, retracted)
      .join(broadcast(urlState), Seq("canonical_url"))
      .withColumn("f_url",
        (col("doc_id") === col("min_before")).cast("long"))
      .withColumn("sign", lit(-1L)).withColumn("in_n0", lit(1L))
    // Promotion side: the min surviving holder of each url whose
    // pre-retraction holder retracted — full chain from stage 1, not
    // counted in n0 (it entered n0 at its own epoch with f_url = 0).
    val promotedIds = urlState
      .join(broadcast(nfR.select(col("canonical_url"), col("doc_id")
        .as("min_before"))), Seq("canonical_url", "min_before"),
        "left_semi")
      .filter(col("min_after").isNotNull)
      .select(col("canonical_url"), col("min_after").as("doc_id"))
    val nfP = survUrlRows
      .join(broadcast(promotedIds.select(col("doc_id"))),
        Seq("doc_id"), "left_semi")
    val flP = chained(nfP,
      surviving.join(broadcast(promotedIds.select(col("doc_id"))),
        Seq("doc_id"), "left_semi"))
      .withColumn("f_url", lit(1L))
      .withColumn("sign", lit(1L)).withColumn("in_n0", lit(0L))
    val corr = flR.select(col("sign"), col("in_n0"), col("f_url"),
      col("f_html"), col("f_lang"), col("f_qual"), col("f_dom"))
      .unionByName(flP.select(col("sign"), col("in_n0"), col("f_url"),
        col("f_html"), col("f_lang"), col("f_qual"), col("f_dom")))
      .cut()
    val partial = corr.agg(
      coalesce(sum(col("sign") * col("in_n0")), lit(0L)).as("n0"),
      coalesce(sum(col("sign") * col("f_url")), lit(0L)).as("n1"),
      coalesce(sum(col("sign") * col("f_url") * col("f_html")), lit(0L))
        .as("n2"),
      coalesce(sum(col("sign") * col("f_url") * col("f_html")
        * col("f_lang")), lit(0L)).as("n3"),
      coalesce(sum(col("sign") * col("f_url") * col("f_html")
        * col("f_lang") * col("f_qual")), lit(0L)).as("n4"),
      coalesce(sum(col("sign") * col("f_url") * col("f_html")
        * col("f_lang") * col("f_qual") * col("f_dom")), lit(0L))
        .as("n5"))
    // URL tombstones for fully-dead urls (no surviving holder) — facts,
    // landed before the triple like the doc tombstones, so a crash
    // anywhere after them still forces the epoch's replay.
    val deadUrls = urlState.filter(col("min_after").isNull)
      .join(broadcast(nfR.select(col("canonical_url"), col("doc_id")
        .as("min_before"))), Seq("canonical_url", "min_before"),
        "left_semi")
      .select(col("canonical_url"))
    EpochLedger.land(deadUrls, s"$tombsDir/urls", batchId)
    // Land in the triple's lockstep order: urls (empty partial — the
    // probe needs no new minima, survivors' old partials stay live),
    // a5 (promoted survivors), funnel (the correction row).
    EpochLedger.land(
      nfR.select(col("canonical_url"), col("doc_id").as("min_doc"))
        .limit(0),
      urlsDir, batchId)
    val a5P = flP.filter(col("f_url") === 1 && col("f_html") === 1 &&
      col("f_lang") === 1 && col("f_qual") === 1 && col("f_dom") === 1)
      .select(col("doc_id"), col("source"), col("tk"))
    EpochLedger.land(a5P, a5Dir, batchId)
    EpochLedger.land(partial, funnelDir, batchId)
  }

  /** The standing CURATED SURVIVORS — stage-6 fold at read: landed
    * stage-5 survivors, components from the standing dedup pair
    * table, min-doc representative per component among survivors
    * (exactly the batch rule, so late cross-epoch merges resolve
    * identically). With a retraction ledger, tombstoned docs leave the
    * survivor pool AND the pair graph before the fold — a retracted
    * representative's cluster re-folds onto its min live member, and a
    * retracted BRIDGE doc un-merges the clusters it merged, ≡ the
    * batch pipeline on the surviving corpus. */
  def standingSurvivors(
      spark: SparkSession, a5Dir: String, pairsDir: String,
      tombsDir: Option[String] = None): DataFrame = {
    val tombs = tombsDir.map(docTombs(spark, _, Long.MaxValue))
    val a5All = SnapshotTable.read(spark, a5Dir)
      .select(col("doc_id"), col("source"), col("tk"))
    val a5 = tombs.fold(a5All)(t =>
      a5All.join(broadcast(t), Seq("doc_id"), "left_anti"))
    val labels = PairConsumers
      .componentsOf(spark, pairsDir, "new_doc", "corpus_doc", "doc_id",
        retracted = tombs)
      .cut(false)
    val annotated = graft.ops.ScaleGates.annotateWithLabels(
      a5, labels, labels.count(), "doc_id")
    val reps = annotated.filter(col("component").isNotNull)
      .groupBy(col("component")).agg(min(col("doc_id")).as("rep"))
    annotated.join(reps, Seq("component"), "left")
      .filter(col("component").isNull || col("doc_id") === col("rep"))
      .select(col("doc_id"), col("source"), col("tk"), col("component"))
  }

  /** The standing FUNNEL — six reconciling rows: stages 1-5 are sums
    * of the landed per-epoch partials; stage 6's n_out is the
    * read-time survivor fold. Same schema as the batch
    * `corpus_curation_pipeline`. */
  def standingFunnel(
      spark: SparkSession, funnelDir: String, a5Dir: String,
      pairsDir: String, tombsDir: Option[String] = None): DataFrame = {
    val st = SnapshotTable.read(spark, funnelDir).agg(
      sum(col("n0")).as("n0"), sum(col("n1")).as("n1"),
      sum(col("n2")).as("n2"), sum(col("n3")).as("n3"),
      sum(col("n4")).as("n4"), sum(col("n5")).as("n5"))
    val s6 = standingSurvivors(spark, a5Dir, pairsDir, tombsDir)
      .agg(count(lit(1)).as("n6"))
    val both = st.crossJoin(broadcast(s6))
    def stage(name: String, in: String, out: String): DataFrame =
      both.select(lit(name).as("stage"), col(in).as("n_in"),
        col(out).as("n_out"))
    stage("1_url_canonical", "n0", "n1")
      .unionByName(stage("2_html_extract", "n1", "n2"))
      .unionByName(stage("3_lang_gate", "n2", "n3"))
      .unionByName(stage("4_quality_gate", "n3", "n4"))
      .unionByName(stage("5_domain_gate", "n4", "n5"))
      .unionByName(stage("6_near_dedup", "n5", "n6"))
      .withColumn("n_removed", col("n_in") - col("n_out"))
      .orderBy("stage")
  }
}
