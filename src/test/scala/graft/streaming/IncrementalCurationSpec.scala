package graft.streaming

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import org.apache.spark.sql.functions._

/** Streaming curation: the 3-epoch funnel (summed partials + read-time
  * stage-6 fold) must equal the batch `corpus_curation_pipeline` on
  * the union corpus BIT FOR BIT, and the standing survivor set must
  * equal the batch survivor frame — under range epochs (the loop's
  * insert-only monotone-id contract) and frozen standing planes.
  * Plus: replays no-op, epoch gaps refuse. */
class IncrementalCurationSpec extends SparkSpec with CrashBoundaries {

  private val sf = "/root/testdata/sf0.001"

  test("3-epoch standing funnel and survivors are bit-equal to the " +
      "batch pipeline on the union corpus; replay no-ops; gaps refuse") {
    val docs = Tables(spark, sf).documents
    val scratch = tmpDir("curation-loop")
    val maxId = docs.agg(max(col("doc_id"))).collect()(0).getLong(0)
    // Frozen standing planes, seeded from the union corpus exactly as
    // production trains them upstream of the gate.
    IncrementalQuality.processBatch(
      docs, s"$scratch/qcounts", s"$scratch/qscores", 0L)
    IncrementalCuration.seedVerdicts(docs, s"$scratch/dver")
    for (b <- 0L to 2L) {
      val lo = (maxId + 1) * b / 3
      val hi = if (b == 2L) maxId + 1 else (maxId + 1) * (b + 1) / 3
      val batch = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
      IncrementalDedup.processBatch(
        batch.select("doc_id", "text"),
        s"$scratch/index", s"$scratch/pairs", b)
      IncrementalCuration.processBatch(
        batch, s"$scratch/urls", s"$scratch/a5", s"$scratch/funnel",
        s"$scratch/qcounts", s"$scratch/dver", b)
    }
    val standing = IncrementalCuration.standingFunnel(
      spark, s"$scratch/funnel", s"$scratch/a5", s"$scratch/pairs")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val batchFunnel = SparkEntry
      .queries("corpus_curation_pipeline")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(standing == batchFunnel,
      s"standing funnel drifted from batch:\n$standing\nvs\n$batchFunnel")
    val standingSurv = IncrementalCuration
      .standingSurvivors(spark, s"$scratch/a5", s"$scratch/pairs")
      .collect().map(r => (r.getLong(0), r.getAs[Long]("tk"))).toSet
    val batchSurv = graft.text.CurationQueries.survivorsFrame(
      spark, sf, graft.text.CurationQueries.flagsFrame(spark, sf))
      .collect().map(r => (r.getLong(0), r.getAs[Long]("tk"))).toSet
    assert(standingSurv == batchSurv,
      "standing survivor set drifted from the batch pipeline")
    // Replay of the last epoch: no state table grows.
    val before = Seq("urls", "a5", "funnel")
      .map(t => readStateTable(s"$scratch/$t").count())
    val lo2 = (maxId + 1) * 2 / 3
    IncrementalCuration.processBatch(
      docs.filter(col("doc_id") >= lo2), s"$scratch/urls",
      s"$scratch/a5", s"$scratch/funnel", s"$scratch/qcounts",
      s"$scratch/dver", 2L)
    val after = Seq("urls", "a5", "funnel")
      .map(t => readStateTable(s"$scratch/$t").count())
    assert(before == after, s"replay must no-op: $before -> $after")
    // An epoch gap refuses loud.
    val ex = intercept[IllegalArgumentException] {
      IncrementalCuration.processBatch(
        docs.limit(5), s"$scratch/urls", s"$scratch/a5",
        s"$scratch/funnel", s"$scratch/qcounts", s"$scratch/dver", 7L)
    }
    assert(ex.getMessage.contains("epoch gap"))
  }

  test("a retracting epoch keeps the standing funnel AND survivors " +
      "bit-equal to the batch pipeline on the SURVIVING corpus — " +
      "runner-up URL promotion, component re-folds, replay no-op " +
      "(r17 verdict missing item 4)") {
    val docs = Tables(spark, sf).documents
    val scratch = tmpDir("curation-retract")
    val maxId = docs.agg(max(col("doc_id"))).collect()(0).getLong(0)
    // Retract every 7th doc: 7 is coprime with the 40-doc URL-group
    // period, so most url groups retract PARTIALLY — the runner-up
    // promotion path fires — while the epoch split stays monotone.
    val retracted = docs.filter(col("doc_id") % 7 === 0)
    val surviving = docs.filter(col("doc_id") % 7 =!= 0)
    // Standing planes seeded from the SURVIVING corpus (the cadence
    // contract: the model/verdict planes retrain on their own
    // schedule; the equality pin is taken at the aligned point, same
    // as the insert-only spec seeds from its union corpus).
    IncrementalQuality.processBatch(
      surviving, s"$scratch/qcounts", s"$scratch/qscores", 0L)
    IncrementalCuration.seedVerdicts(surviving, s"$scratch/dver")
    for (b <- 0L to 2L) {
      val lo = (maxId + 1) * b / 3
      val hi = if (b == 2L) maxId + 1 else (maxId + 1) * (b + 1) / 3
      val batch = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
      IncrementalDedup.processBatch(
        batch.select("doc_id", "text"),
        s"$scratch/index", s"$scratch/pairs", b)
      IncrementalCuration.processBatch(
        batch, s"$scratch/urls", s"$scratch/a5", s"$scratch/funnel",
        s"$scratch/qcounts", s"$scratch/dver", b,
        Some(s"$scratch/tombs"))
    }
    IncrementalCuration.processRetractions(
      retracted, surviving, s"$scratch/urls", s"$scratch/a5",
      s"$scratch/funnel", s"$scratch/qcounts", s"$scratch/dver",
      s"$scratch/tombs", 3L)
    val survDir = tmpDir("curation-retract-surv")
    surviving.write.mode("overwrite")
      .parquet(s"$survDir/documents.parquet")
    val standing = IncrementalCuration.standingFunnel(
      spark, s"$scratch/funnel", s"$scratch/a5", s"$scratch/pairs",
      Some(s"$scratch/tombs"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val batchFunnel = SparkEntry
      .queries("corpus_curation_pipeline")(spark, survDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(standing == batchFunnel,
      s"post-retraction standing funnel drifted from batch-on-" +
        s"survivors:\n$standing\nvs\n$batchFunnel")
    val standingSurv = IncrementalCuration
      .standingSurvivors(spark, s"$scratch/a5", s"$scratch/pairs",
        Some(s"$scratch/tombs"))
      .collect().map(r => (r.getLong(0), r.getAs[Long]("tk"))).toSet
    val batchSurv = graft.text.CurationQueries.survivorsFrame(
      spark, survDir,
      graft.text.CurationQueries.flagsFrame(spark, survDir))
      .collect().map(r => (r.getLong(0), r.getAs[Long]("tk"))).toSet
    assert(standingSurv == batchSurv,
      "post-retraction standing survivors drifted from batch-on-" +
        "survivors")
    // Replay no-ops on every ledger.
    val tables = Seq(s"$scratch/urls", s"$scratch/a5",
      s"$scratch/funnel", s"$scratch/tombs/docs")
    val before = tables.map(t => readStateTable(t).count())
    IncrementalCuration.processRetractions(
      retracted, surviving, s"$scratch/urls", s"$scratch/a5",
      s"$scratch/funnel", s"$scratch/qcounts", s"$scratch/dver",
      s"$scratch/tombs", 3L)
    assert(before == tables.map(t => readStateTable(t).count()),
      "a replayed retraction epoch must no-op on every ledger")
  }

  test("URL tombstone lifecycle: retracting the holder promotes the " +
      "runner-up; retracting the last holder frees the url so a " +
      "re-crawl is first-seen again (the revive rule)") {
    import spark.implicits._
    val scratch = tmpDir("curation-url-lifecycle")
    // One url group: ids ≡ 1 (mod 120) share source, item, query form
    // AND ref value, so their CANONICAL urls coincide (the raw-url
    // synthesis varies query params by id%3/id%2, which survive
    // canonicalization): A=1, B=121, D=241; C=3 is a solo url.
    def doc(id: Long, tag: Long) = (id,
      (0 until 40).map(i => s"word${(i * 7 + tag) % 23}x").mkString(" "),
      "en", s"src${id % 20}")
    val all = Seq(doc(1L, 0L), doc(121L, 1L), doc(3L, 2L), doc(241L, 3L))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val docsSeed = Tables(spark, sf).documents
    IncrementalQuality.processBatch(
      docsSeed, s"$scratch/qcounts", s"$scratch/qscores", 0L)
    IncrementalCuration.seedVerdicts(docsSeed, s"$scratch/dver")
    def epoch(df: org.apache.spark.sql.DataFrame, b: Long): Unit =
      IncrementalCuration.processBatch(
        df, s"$scratch/urls", s"$scratch/a5", s"$scratch/funnel",
        s"$scratch/qcounts", s"$scratch/dver", b,
        Some(s"$scratch/tombs"))
    // Epoch 0: A, B (same canonical url — B gated), C.
    epoch(all.filter(col("doc_id") < 130), 0L)
    val p0 = readStateTable(s"$scratch/funnel")
      .filter(col("batch_id") === 0L).collect()(0)
    assert(p0.getAs[Long]("n1") == 2L,
      "epoch 0: first-seen A and C must pass, duplicate B must not")
    // Epoch 1: retract A — B is promoted (net n1 unchanged).
    IncrementalCuration.processRetractions(
      all.filter(col("doc_id") === 1L),
      // surviving = the LANDED corpus minus the retraction (D is not
      // landed yet — the contract).
      all.filter(col("doc_id") === 121L || col("doc_id") === 3L),
      s"$scratch/urls", s"$scratch/a5", s"$scratch/funnel",
      s"$scratch/qcounts", s"$scratch/dver", s"$scratch/tombs", 1L)
    val n1After = readStateTable(s"$scratch/funnel")
      .agg(sum(col("n1"))).collect()(0).getLong(0)
    assert(n1After == 2L,
      s"promotion must replace the retracted holder 1-for-1: $n1After")
    // Epoch 2: retract B — the url has no holder left; tombstoned.
    IncrementalCuration.processRetractions(
      all.filter(col("doc_id") === 121L),
      all.filter(col("doc_id") === 3L),
      s"$scratch/urls", s"$scratch/a5", s"$scratch/funnel",
      s"$scratch/qcounts", s"$scratch/dver", s"$scratch/tombs", 2L)
    assert(readStateTable(s"$scratch/tombs/urls").count() == 1L,
      "the fully-dead url must be tombstoned")
    // Epoch 3: D re-crawls the url — first-seen again.
    epoch(all.filter(col("doc_id") === 241L), 3L)
    val p3 = readStateTable(s"$scratch/funnel")
      .filter(col("batch_id") === 3L).collect()(0)
    assert(p3.getAs[Long]("n1") == 1L,
      "a re-crawled url after a full retraction must be first-seen")
  }

  test("a doc whose domain is ABSENT from the standing verdict plane " +
      "fails stage 5 but still counts in n0-n4 — the plane lagging the " +
      "crawl must never make docs vanish from the funnel (ADVICE r17)") {
    val docs = Tables(spark, sf).documents
    val scratch = tmpDir("curation-lag")
    IncrementalQuality.processBatch(
      docs, s"$scratch/qcounts", s"$scratch/qscores", 0L)
    // Seed the verdict plane from HALF the sources only — the crawl
    // then lands docs whose primary domain the plane has never seen.
    IncrementalCuration.seedVerdicts(
      docs.filter(col("doc_id") % 20 < 10), s"$scratch/dver")
    IncrementalCuration.processBatch(
      docs, s"$scratch/urls", s"$scratch/a5", s"$scratch/funnel",
      s"$scratch/qcounts", s"$scratch/dver", 0L)
    val partial = readStateTable(s"$scratch/funnel").collect()(0)
    assert(partial.getAs[Long]("n0") == docs.count(),
      s"every batch doc must enter the funnel (n0), got " +
        s"${partial.getAs[Long]("n0")} of ${docs.count()} — unseen-" +
        "domain docs vanished")
    // Stage 5 is the gate that fails them: every landed survivor's
    // primary domain must be IN the seeded plane.
    val seeded = graft.etl.SnapshotTable.read(spark, s"$scratch/dver")
      .select(col("reg")).collect().map(_.getString(0)).toSet
    val survRegs = docs
      .join(readStateTable(s"$scratch/a5").select("doc_id"),
        Seq("doc_id"), "left_semi")
      .withColumn("reg", graft.text.DomainQueries.primaryReg)
      .select("reg").distinct().collect().map(_.getString(0)).toSet
    assert(survRegs.subsetOf(seeded),
      s"survivors from unseen domains: ${survRegs.diff(seeded)}")
  }

  test("a canonical-URL duplicate arriving in a LATER epoch is gated " +
      "out by the standing URL table (first-seen-wins)") {
    import spark.implicits._
    val scratch = tmpDir("curation-url")
    // Find a real colliding canonical URL in the corpus and land its
    // min-id doc in epoch 0, a later duplicate in epoch 1 — the
    // standing URL table must gate the second one out.
    val docs = Tables(spark, sf).documents
    IncrementalQuality.processBatch(
      docs, s"$scratch/qcounts", s"$scratch/qscores", 0L)
    IncrementalCuration.seedVerdicts(docs, s"$scratch/dver")
    val urls = graft.text.CurationQueries.narrowFlags(docs)
      .select(col("doc_id"), col("canonical_url"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val dupUrl = urls.groupBy(_._2).values.filter(_.length > 1)
      .maxBy(_.length).sortBy(_._1)
    assert(dupUrl.length > 1, "fixture needs a colliding canonical URL")
    val first = dupUrl.head._1
    val later = dupUrl.last._1
    IncrementalCuration.processBatch(
      docs.filter(col("doc_id") === first), s"$scratch/urls",
      s"$scratch/a5", s"$scratch/funnel", s"$scratch/qcounts",
      s"$scratch/dver", 0L)
    IncrementalCuration.processBatch(
      docs.filter(col("doc_id") === later), s"$scratch/urls",
      s"$scratch/a5", s"$scratch/funnel", s"$scratch/qcounts",
      s"$scratch/dver", 1L)
    val partials = readStateTable(s"$scratch/funnel")
      .orderBy("batch_id").collect()
    assert(partials(0).getAs[Long]("n1") == 1L,
      "the first-seen doc must pass the URL gate")
    assert(partials(1).getAs[Long]("n1") == 0L,
      "a later-epoch canonical duplicate must be gated out")
  }

  test("ann and curation epochs restore the caller's job description; " +
      "ann's batch count runs under its probe label") {
    val scratch = tmpDir("ledger-labels")
    val docs = Tables(spark, sf).documents
    IncrementalQuality.processBatch(
      docs, s"$scratch/qcounts", s"$scratch/qscores", 0L)
    IncrementalCuration.seedVerdicts(docs, s"$scratch/dver")
    val vecs = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") % 4 === 0)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val groups = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.add(e.jobId -> Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")): Unit
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.put(e.jobId, _))
      }
    }
    sc.setJobDescription("outer cell")
    sc.addSparkListener(listener)
    try {
      IncrementalAnn.processBatch(
        vecs, s"$scratch/index", s"$scratch/cands", 0L)
      assert(sc.getLocalProperty("spark.job.description") == "outer cell",
        "an ann epoch must hand the caller's label back")
      IncrementalCuration.processBatch(
        docs.filter(col("doc_id") % 4 === 0), s"$scratch/urls",
        s"$scratch/a5", s"$scratch/funnel", s"$scratch/qcounts",
        s"$scratch/dver", 0L)
      assert(sc.getLocalProperty("spark.job.description") == "outer cell",
        "a curation epoch must hand the caller's label back")
      // The pair loops, each in its own job group: a group's lowest job
      // id is that loop's first job. (Reading the media table runs a
      // job of its own, so it happens outside the groups.)
      val images = graft.mm.Multimodal.mediaItems(spark, sf, "image").toDF()
      val pairLoops: Seq[(String, () => Unit)] = Seq(
        "dedup" -> (() => IncrementalDedup.processBatch(
          docs.filter(col("doc_id") % 4 === 0).select("doc_id", "text"),
          s"$scratch/dindex", s"$scratch/dpairs", 0L)),
        "semdedup" -> (() => IncrementalSemDedup.processBatch(
          vecs, s"$scratch/sindex", s"$scratch/spairs", 0L)),
        "media" -> (() => IncrementalMediaDedup.processBatch(
          images, "image", s"$scratch/mindex", s"$scratch/mpairs", 0L)))
      for ((loop, run) <- pairLoops) {
        sc.setJobGroup(loop, "outer cell")
        run()
        assert(sc.getLocalProperty("spark.job.description") == "outer cell",
          s"a $loop epoch must hand the caller's label back")
      }
      import scala.jdk.CollectionConverters._
      eventually(timeout(Span(30, Seconds))) {
        assert(jobs.asScala.exists(_._2.startsWith("curation epoch 0")))
        assert(groups.values.asScala.toSet == pairLoops.map(_._1).toSet)
      }
      // Unlabelled jobs are the planes seeded above, still draining.
      val first = jobs.asScala.filter(_._2.nonEmpty).minBy(_._1)._2
      assert(first == "ann epoch 0: probe",
        s"the epoch's first job (the batch count) ran as '$first'")
      for ((loop, _) <- pairLoops) {
        val ids = groups.asScala.collect { case (id, `loop`) => id }
        val firstOf = jobs.asScala.find(_._1 == ids.min).get._2
        assert(firstOf.startsWith(s"$loop epoch 0: "),
          s"the $loop epoch's first job ran as '$firstOf'")
      }
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
  }

  test("curation batch and retraction: a crash at any commit boundary " +
      "is refused on resume and healed bit-equal by replay") {
    val docs = Tables(spark, sf).documents
    val triple = Seq("urls", "a5", "funnel")
    def planes(root: String): Unit = {
      IncrementalQuality.processBatch(
        docs, s"$root/qcounts", s"$root/qscores", 0L)
      IncrementalCuration.seedVerdicts(docs, s"$root/dver")
    }
    def batch(df: DataFrame, root: String, b: Long): Unit =
      IncrementalCuration.processBatch(
        df, s"$root/urls", s"$root/a5", s"$root/funnel",
        s"$root/qcounts", s"$root/dver", b, Some(s"$root/tombs"))
    val maxId = docs.agg(max(col("doc_id"))).collect()(0).getLong(0)
    val mid = (maxId + 1) / 2
    crashAtEveryBoundary("curation", triple,
      root => {
        planes(root); batch(docs.filter(col("doc_id") < mid), root, 0L)
      },
      (root, b) => batch(docs.filter(col("doc_id") >= mid), root, b),
      1L)
    crashAtEveryBoundary("curation-retract", triple,
      root => { planes(root); batch(docs, root, 0L) },
      (root, b) => IncrementalCuration.processRetractions(
        docs.filter(col("doc_id") % 7 === 0),
        docs.filter(col("doc_id") % 7 =!= 0),
        s"$root/urls", s"$root/a5", s"$root/funnel", s"$root/qcounts",
        s"$root/dver", s"$root/tombs", b),
      1L)
  }
}
