package graft.streaming

import graft.{SparkEntry, SparkSpec, Tables}
import graft.etl.SnapshotTable
import org.apache.spark.sql.functions._

/** The standing domain plane's contract: the count-map and argmin
  * partials are mergeable state, so the standing read must equal the
  * batch `domain_stats` EXACTLY over every landed doc — at every epoch
  * boundary, through replays, and through maintenance folds. */
class IncrementalDomainSpec extends SparkSpec with CrashBoundaries {

  private val sf = "/root/testdata/sf0.001"

  private def runLoop(dir: String, maintainAfter: Option[Long] = None)
      : Unit = {
    val docs = Tables(spark, sf).documents
    for (b <- 0L to 2L) {
      IncrementalDomain.processBatch(
        docs.filter(col("doc_id") % 3 === b),
        s"$dir/maps", s"$dir/mins", b)
      if (maintainAfter.contains(b))
        for (t <- Seq(s"$dir/maps", s"$dir/mins")) {
          SnapshotTable.compact(spark, t)
          SnapshotTable.expire(spark, t, keepLast = 1, minAgeMs = 0): Unit
        }
    }
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame)
      : Seq[Seq[Any]] =
    df.orderBy("registrable_domain").collect()
      .map(_.toSeq.toVector.toSeq).toSeq

  private def standing(dir: String): Seq[Seq[Any]] =
    rowsOf(IncrementalDomain.standingStats(
      spark, s"$dir/maps", s"$dir/mins"))

  test("after 3 epochs the standing read IS the batch domain_stats, " +
      "bit for bit — including canonicality across epoch boundaries") {
    val dir = tmpDir("idom-monoid")
    runLoop(dir)
    assert(standing(dir) ==
      rowsOf(SparkEntry.queries("domain_stats")(spark, sf)),
      "merged partials must reproduce the batch table exactly")
    // The cross-epoch canonicality case is REAL here: a mirror hosting
    // (fetch_seq + 10M) of a doc in epoch b lands in b's partial, and
    // its primary (canonical) copy may land in a different epoch — the
    // argmin merge must resolve first-seen-wins across commits, so some
    // mirror domain must read 100% non-canonical exactly like batch.
    val mirror = IncrementalDomain
      .standingStats(spark, s"$dir/maps", s"$dir/mins")
      .filter(col("registrable_domain").startsWith("mirror-"))
      .collect()
    assert(mirror.nonEmpty &&
      mirror.forall(_.getAs[Long]("non_canonical_e6") == 1000000L),
      "mirror tiers must stay fully non-canonical through the merge")
  }

  test("the standing read is exact at EVERY epoch boundary, not just " +
      "the last (each prefix equals batch stats over the landed docs)") {
    val dir = tmpDir("idom-prefix")
    val docs = Tables(spark, sf).documents
    for (b <- 0L to 2L) {
      IncrementalDomain.processBatch(
        docs.filter(col("doc_id") % 3 === b),
        s"$dir/maps", s"$dir/mins", b)
      val landed = docs.filter(col("doc_id") % 3 <= b)
      val dirB = tmpDir(s"idom-prefix-$b")
      landed.write.mode("overwrite").parquet(s"$dirB/documents.parquet")
      assert(standing(dir) ==
        rowsOf(SparkEntry.queries("domain_stats")(spark, dirB)),
        s"standing read drifted from batch stats after epoch $b")
    }
  }

  test("replay no-ops on both tables; maintenance folds the chain " +
      "without losing the ledger, the merge, or the gap checks") {
    val dir = tmpDir("idom-replay")
    runLoop(dir, maintainAfter = Some(1L))
    val docs = Tables(spark, sf).documents
    val before = standing(dir)
    IncrementalDomain.processBatch(
      docs.filter(col("doc_id") % 3 === 1),
      s"$dir/maps", s"$dir/mins", 1L)
    assert(standing(dir) == before,
      "a replayed epoch must not double-count the maps or mins")
    assert(before ==
      rowsOf(SparkEntry.queries("domain_stats")(spark, sf)),
      "maintenance folds must be invisible to the merge")
    val e = intercept[IllegalArgumentException] {
      IncrementalDomain.processBatch(
        docs.filter(col("doc_id") % 3 === 0),
        s"$dir/maps", s"$dir/mins", 5L)
    }
    assert(e.getMessage.contains("epoch gap"))
  }

  test("a retracting epoch: negated count-map + tombstoned argmin + " +
      "bounded rescan keep the standing read bit-equal to batch stats " +
      "over the surviving corpus; retraction replays no-op") {
    val dir = tmpDir("idom-retract")
    runLoop(dir)
    val docs = Tables(spark, sf).documents
    val retracted = docs.filter(col("doc_id") % 5 === 0)
    val surviving = docs.filter(col("doc_id") % 5 =!= 0)
    IncrementalDomain.processRetractions(
      retracted, surviving, s"$dir/maps", s"$dir/mins", 3L)
    val survDir = tmpDir("idom-surv")
    surviving.write.mode("overwrite")
      .parquet(s"$survDir/documents.parquet")
    assert(standing(dir) ==
      rowsOf(SparkEntry.queries("domain_stats")(spark, survDir)),
      "standing read after retraction drifted from batch over survivors")
    val before = (readStateTable(s"$dir/maps").count(),
      readStateTable(s"$dir/mins").count())
    IncrementalDomain.processRetractions(
      retracted, surviving, s"$dir/maps", s"$dir/mins", 3L)
    assert(before == (readStateTable(s"$dir/maps").count(),
      readStateTable(s"$dir/mins").count()),
      "a replayed retraction epoch must no-op on both tables")
  }

  test("retraction promotes the RUNNER-UP holder: when the first-seen " +
      "copy of a shared text retracts, canonicality moves to the " +
      "surviving doc's domain (the bounded-rescan case)") {
    import spark.implicits._
    // Planted corpus: docs 10 and 401 share their text (one text_key),
    // so doc 10's primary copy (fetch_seq 10) is first-seen; doc 401's
    // copies survive the retraction of doc 10 and must take over.
    val rows = Seq(
      (10L, "shared body text alpha beta gamma", "en", "src0"),
      (401L, "shared body text alpha beta gamma", "en", "src1"),
      (12L, "solo text one two three", "en", "src0"),
      (403L, "another solo text four five six", "en", "src1"))
    val docs = rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = tmpDir("idom-promote")
    IncrementalDomain.processBatch(
      docs.filter(col("doc_id") < 400), s"$dir/maps", s"$dir/mins", 0L)
    IncrementalDomain.processBatch(
      docs.filter(col("doc_id") >= 400), s"$dir/maps", s"$dir/mins", 1L)
    val retracted = docs.filter(col("doc_id") === 10L)
    val surviving = docs.filter(col("doc_id") =!= 10L)
    IncrementalDomain.processRetractions(
      retracted, surviving, s"$dir/maps", s"$dir/mins", 2L)
    val survDir = tmpDir("idom-promote-surv")
    surviving.write.mode("overwrite")
      .parquet(s"$survDir/documents.parquet")
    assert(standing(dir) ==
      rowsOf(SparkEntry.queries("domain_stats")(spark, survDir)),
      "runner-up promotion drifted from the batch recompute")
    // The promoted holder is doc 401's primary domain: its canonical
    // count must now include the shared text.
    val stats = IncrementalDomain
      .standingStats(spark, s"$dir/maps", s"$dir/mins")
      .collect()
      .map(r => r.getAs[String]("registrable_domain") ->
        r.getAs[Long]("n_canonical")).toMap
    val promotedReg = stats.keys.find(_ == "site-1.org")
      .getOrElse(fail(s"promoted domain missing from $stats"))
    assert(stats(promotedReg) == 2L,
      s"doc 401's domain must hold both its texts' canonical copies: " +
        s"$stats")
  }

  test("a crash between a RETRACTION's maps and mins commits must be " +
      "replayed: resuming processRetractions at N+1 fails loud on the " +
      "mins ledger (the processBatch lockstep discipline)") {
    val dir = tmpDir("idom-retract-lockstep")
    runLoop(dir)
    val docs = Tables(spark, sf).documents
    // Simulate the crash: the retraction's maps partial landed at epoch
    // 3, the mins append did not.
    SnapshotTable.appendOnce(
      SnapshotTable.read(spark, s"$dir/maps")
        .filter(col("batch_id") === 2L).withColumn("batch_id", lit(3L)),
      s"$dir/maps", 3L)
    val e = intercept[IllegalArgumentException] {
      IncrementalDomain.processRetractions(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0),
        s"$dir/maps", s"$dir/mins", 4L)
    }
    assert(e.getMessage.contains("mins"),
      s"expected the mins-ledger gap message, got: ${e.getMessage}")
  }

  test("a pre-retraction mins layout (no 'retract' column in the " +
      "standing footer schema) is refused loudly by processRetractions " +
      "— appending would silently drop the tombstones on read") {
    val dir = tmpDir("idom-legacy-mins")
    runLoop(dir)
    // A mins table written by pre-retraction code: same rows, no
    // 'retract' column in any file footer.
    val legacy = s"$dir/mins-legacy"
    for (b <- 0L to 2L)
      SnapshotTable.appendOnce(
        SnapshotTable.read(spark, s"$dir/mins")
          .filter(col("batch_id") === b).drop("retract"),
        legacy, b)
    val docs = Tables(spark, sf).documents
    val e = intercept[IllegalArgumentException] {
      IncrementalDomain.processRetractions(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0),
        s"$dir/maps", legacy, 3L)
    }
    assert(e.getMessage.contains("pre-retraction"),
      s"expected the legacy-layout refusal, got: ${e.getMessage}")
    // The insert-only fast path stays open on the legacy layout (its
    // read branch handles the old schema) — only retractions require
    // the migration.
    IncrementalDomain.processBatch(
      docs.filter(col("doc_id") % 3 === 0), s"$dir/maps", legacy, 3L)
    assert(SnapshotTable.maxCommittedBatch(spark, legacy) == 3L)
  }

  test("a crash between the maps and mins commits must be replayed: " +
      "resuming at N+1 fails loud on the mins ledger") {
    val dir = tmpDir("idom-lockstep")
    runLoop(dir)
    val docs = Tables(spark, sf).documents
    SnapshotTable.appendOnce(
      SnapshotTable.read(spark, s"$dir/maps")
        .filter(col("batch_id") === 2L).withColumn("batch_id", lit(3L)),
      s"$dir/maps", 3L)
    val e = intercept[IllegalArgumentException] {
      IncrementalDomain.processBatch(
        docs.filter(col("doc_id") % 3 === 1),
        s"$dir/maps", s"$dir/mins", 4L)
    }
    assert(e.getMessage.contains("mins"),
      s"expected the mins-ledger gap message, got: ${e.getMessage}")
    IncrementalDomain.processBatch(
      docs.filter(col("doc_id") % 3 === 0),
      s"$dir/maps", s"$dir/mins", 3L)
    assert(SnapshotTable.maxCommittedBatch(spark, s"$dir/mins") == 3L)
  }

  test("domain batch and retraction: a crash at any commit boundary " +
      "is refused on resume and healed bit-equal by replay") {
    val docs = Tables(spark, sf).documents
    def land(root: String): Unit = IncrementalDomain.processBatch(
      docs.filter(col("doc_id") % 2 === 0), s"$root/maps", s"$root/mins",
      0L)
    crashAtEveryBoundary("domain", Seq("maps", "mins"), land,
      (root, b) => IncrementalDomain.processBatch(
        docs.filter(col("doc_id") % 2 === 1),
        s"$root/maps", s"$root/mins", b),
      1L)
    val landed = docs.filter(col("doc_id") % 2 === 0)
    crashAtEveryBoundary("domain-retract", Seq("maps", "mins"), land,
      (root, b) => IncrementalDomain.processRetractions(
        landed.filter(col("doc_id") % 5 === 0),
        landed.filter(col("doc_id") % 5 =!= 0),
        s"$root/maps", s"$root/mins", b),
      1L)
  }
}
