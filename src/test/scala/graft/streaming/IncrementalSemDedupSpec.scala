package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** Streaming incremental SEMANTIC near-dedup: micro-batches of vectors
  * bucket against the standing embedding index, emit cosine near-dup
  * pairs, and grow the index — batch ↔ streaming parity for the
  * embedding modality, mirroring [[IncrementalDedupSpec]]. */
class IncrementalSemDedupSpec extends SparkSpec {

  // Base vector and a same-direction twin (cosine 1.0 — identical
  // direction always shares every sign-LSH bucket); `far` flips signs
  // on half the dims, pushing cosine ≈ 0 < the 0.15 threshold.
  private val base: Seq[Float] = (0 until 64).map(i => 0.1f + 0.01f * i)
  private val scaledDup: Seq[Float] = base.map(_ * 2.0f)
  private val far: Seq[Float] =
    (0 until 64).map(i => if (i % 2 == 0) 0.1f + 0.01f * i else -(0.1f + 0.01f * i))

  test("semantic pairs accumulate against the growing standing index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Float])]
    val indexDir = tmpDir("sem-index") + "/buckets"
    val pairsDir = tmpDir("sem-pairs") + "/pairs"
    val ckpt = tmpDir("sem-ckpt")
    val q = IncrementalSemDedup.start(
      input.toDF().toDF("vec_id", "embedding"),
      indexDir, pairsDir, ckpt, Trigger.ProcessingTime(0))
    try {
      def pairs(): Set[(Long, Long, Long)] =
        if (new java.io.File(pairsDir).exists())
          readStateTable(pairsDir).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        else Set.empty

      // Batch 1 seeds: nothing standing, unrelated vectors, no pairs.
      input.addData((1L, base), (2L, far))
      q.processAllAvailable()
      assert(pairs().isEmpty)
      // 4 OR-amplified table rows per vector, 2 vectors.
      val idx = readStateTable(indexDir)
      assert(idx.select("vec_id").distinct().count() == 2)
      assert(idx.count() == 8)

      // Batch 2: a scaled copy of vec 1 (cosine exactly 1.0) pairs
      // with it through the standing index; nothing pairs with `far`.
      input.addData((20L, scaledDup))
      q.processAllAvailable()
      assert(pairs() == Set((20L, 1L, 1000000L)))

      // Batch 3: another copy pairs with BOTH standing copies.
      input.addData((40L, base))
      q.processAllAvailable()
      assert(pairs() == Set(
        (20L, 1L, 1000000L), (40L, 1L, 1000000L), (40L, 20L, 1000000L)))
    } finally q.stop()
  }

  test("3-batch replay over real embeddings = the batch 4-table query, and beats one table") {
    import org.apache.spark.sql.functions.col
    // Replay the sf0.001 embeddings corpus through the streaming loop
    // in 3 micro-batches and compare the accumulated pair set against
    // the BATCH OR-amplified query (embedding_near_dup_multi) on the
    // same corpus: the standing index must catch exactly what the
    // batch sweep catches — the round-9 verdict's gap (a single-table
    // standing index missing ~96% of the pairs the batch query finds)
    // pinned closed at the streaming surface.
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables(spark, dir).embeddings
      .select(col("vec_id"), col("embedding"))
    // Parity precondition: no (table, bucket) cell near the rank cap —
    // beyond it, batch star edges and per-arrival probe ranks may
    // legitimately diverge; this corpus stays well under.
    val maxCell = graft.sim.SimilarityQueries.multiBucketRowsOf(emb)
      .groupBy("bucket").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(maxCell <= 64, s"fixture: cells must stay under the cap, got $maxCell")
    val indexDir = tmpDir("sem-replay-index") + "/buckets"
    val pairsDir = tmpDir("sem-replay-pairs") + "/pairs"
    (0 until 3).foreach { b =>
      IncrementalSemDedup.processBatch(
        emb.filter(col("vec_id") % 3 === b), indexDir, pairsDir, b.toLong)
    }
    def norm(a: Long, b: Long): (Long, Long) = (math.min(a, b), math.max(a, b))
    val streamed = readStateTable(pairsDir)
      .select("new_vec", "corpus_vec").collect()
      .map(r => norm(r.getLong(0), r.getLong(1))).toSet
    val batchMulti = graft.SparkEntry.queries("embedding_near_dup_multi")(spark, dir)
      .select("vec_a", "vec_b").collect()
      .map(r => norm(r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batchMulti,
      s"streaming replay (${streamed.size}) must equal the batch 4-table sweep (${batchMulti.size})")
    // And the amplification gain is real on this corpus too: one table
    // (the round-9 standing index) finds strictly fewer pairs.
    val single = graft.SparkEntry.queries("embedding_near_dup")(spark, dir)
      .select("vec_a", "vec_b").collect()
      .map(r => norm(r.getLong(0), r.getLong(1))).toSet
    assert(single.subsetOf(batchMulti) && single.size < batchMulti.size,
      s"4 tables (${batchMulti.size}) must strictly extend 1 table (${single.size})")
    info(s"pairs: 1-table ${single.size} -> 4-table ${batchMulti.size} (streamed ${streamed.size})")

    // Downstream CONSUMER parity — components/survivors read off the
    // streaming pair table equal clustering the batch pair graph.
    val streamLabels = IncrementalSemDedup.components(spark, pairsDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchLabels = graft.dedup.DedupQueries.componentLabelsOf(
      graft.SparkEntry.queries("embedding_near_dup_multi")(spark, dir)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamLabels == batchLabels,
      "labels off the streaming pair table must equal the batch clustering")
    // Survivors: unpaired corpus rows + each cluster's min-id rep
    // (component ids ARE the min member under min-label propagation).
    val survIds = IncrementalSemDedup
      .survivors(emb.select(col("vec_id")), pairsDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val all = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    val expected = (all -- streamLabels.map(_._1)) ++ streamLabels.map(_._2)
    assert(survIds == expected, "survivors = unpaired + cluster representatives")
  }

  test("bucketed standing index: pair parity, standing side moves zero rows") {
    import spark.implicits._
    val tbl = "sem_bucket_index_spec"
    val pairsDir = tmpDir("sem-b-pairs") + "/pairs"
    val index = IncrementalDedup.BucketedIndex(tbl, 8, key = "bucket")
    try {
      def pairs(): Set[(Long, Long)] =
        readStateTable(pairsDir).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      // Same three-batch script as the directory-layout tests.
      IncrementalSemDedup.processBatch(
        Seq((1L, base), (2L, far)).toDF("vec_id", "embedding"),
        index, pairsDir, 0L)
      IncrementalSemDedup.processBatch(
        Seq((20L, scaledDup)).toDF("vec_id", "embedding"),
        index, pairsDir, 1L)
      assert(pairs() == Set((20L, 1L)))
      IncrementalSemDedup.processBatch(
        Seq((40L, base)).toDF("vec_id", "embedding"), index, pairsDir, 2L)
      assert(pairs() == Set((20L, 1L), (40L, 1L), (40L, 20L)))

      // The scale claim, pinned like the text twin: the standing side
      // is read through the bucket layout and crosses NO shuffle —
      // HashPartitioning(bucket) satisfies the probe's distinct, rank
      // window and pair join (bucket is a subset of each clustering).
      val probe = graft.sim.SimilarityQueries.semProbe().pairs(
        graft.sim.SimilarityQueries.multiBucketRowsOf(
          Seq((99L, base)).toDF("vec_id", "embedding")),
        EpochLedger.committedBefore(spark.table(tbl), 3L))
      val plan = probe.queryExecution.executedPlan
      assert(plan.toString.contains("Bucketed: true"),
        s"standing scan must use the bucket layout:\n$plan")
      val shufflesOverIndex = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
            if e.collectLeaves().exists(_.toString.contains(tbl)) => e
      }
      assert(shufflesOverIndex.isEmpty,
        s"standing-index rows must never cross a shuffle:\n$plan")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("restart from checkpoint neither reprocesses nor loses batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Float])]
    val indexDir = tmpDir("sem-r-index") + "/buckets"
    val pairsDir = tmpDir("sem-r-pairs") + "/pairs"
    val ckpt = tmpDir("sem-r-ckpt")
    def run(): Unit = {
      val q = IncrementalSemDedup.start(
        input.toDF().toDF("vec_id", "embedding"),
        indexDir, pairsDir, ckpt,
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination()
    }
    input.addData((1L, base), (2L, far))
    run()
    val rowsAfter1 = readStateTable(indexDir).count()
    assert(rowsAfter1 == 8, "4 table rows per vector, 2 vectors")
    // Restart with one new duplicate: batch 1's offsets are recovered
    // (its rows are NOT re-appended — the epoch partition overwrite
    // would converge anyway, but the checkpoint must not even replay),
    // and the new vector dedups against the standing state.
    input.addData((20L, scaledDup))
    run()
    assert(readStateTable(indexDir)
      .filter(org.apache.spark.sql.functions.col("vec_id") === 1L)
      .count() == 4, "vec 1's table rows must appear exactly once")
    val got = readStateTable(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((20L, 1L, 1000000L)))
  }

  test("duplicates landing in the SAME micro-batch pair with each other") {
    import spark.implicits._
    val indexDir = tmpDir("sem-ib-index") + "/buckets"
    val pairsDir = tmpDir("sem-ib-pairs") + "/pairs"
    IncrementalSemDedup.processBatch(
      Seq((1L, base), (2L, far), (3L, scaledDup))
        .toDF("vec_id", "embedding"),
      indexDir, pairsDir, 0L)
    val got = readStateTable(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((3L, 1L)),
      "same-batch near-dups must pair, oriented new > corpus")
    // The next batch still pairs with both through the standing index.
    IncrementalSemDedup.processBatch(
      Seq((9L, base)).toDF("vec_id", "embedding"), indexDir, pairsDir, 1L)
    val got2 = readStateTable(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == Set((3L, 1L), (9L, 1L), (9L, 3L)))
  }

  test("a single-table legacy standing index is refused with the rebuild path") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, max}
    val indexDir = tmpDir("sem-legacy-index") + "/buckets"
    val pairsDir = tmpDir("sem-legacy-pairs") + "/pairs"
    // A pre-upgrade index: RAW single-table buckets (all < 2^planes),
    // committed as an ordinary snapshot epoch.
    graft.etl.SnapshotTable.appendOnce(
      graft.sim.SimilarityQueries
        .bucketRowsOf(Seq((1L, base), (2L, far)).toDF("vec_id", "embedding"))
        .withColumn("batch_id", lit(0L)),
      indexDir, 0L)
    assert(readStateTable(indexDir)
      .agg(max(col("bucket"))).collect()(0).getLong(0) < 256L,
      "fixture must be the raw single-table bucket range")
    // Restarting the upgraded loop over it must stop, not silently
    // serve ~1-table recall to every pre-upgrade vector forever —
    // and a RESUMED checkpoint never passes through batch 0, so the
    // guard must fire on the first batch whatever its id.
    val e = intercept[IllegalStateException] {
      IncrementalSemDedup.processBatch(
        Seq((3L, scaledDup)).toDF("vec_id", "embedding"),
        indexDir, pairsDir, 7L)
    }
    assert(e.getMessage.contains("single-table"))
    assert(e.getMessage.contains("Rebuild"))
  }
}
