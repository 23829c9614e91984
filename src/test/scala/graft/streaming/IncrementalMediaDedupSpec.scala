package graft.streaming

import graft.SparkSpec
import graft.mm.Multimodal
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** Streaming incremental MEDIA near-dedup (image modality as the
  * representative — the probe machinery is shared across modalities): micro-batches
  * fingerprint through the real PNG codec, probe the standing hash
  * index, emit hamming pairs, grow the index. */
class IncrementalMediaDedupSpec extends SparkSpec {

  // Same-seed PNGs are byte-identical → hamming 0; different seeds
  // move the aHash (the audio energy ENVELOPE, by contrast, is nearly
  // seed-invariant under the generative sawtooth — every synthetic WAV
  // is a true near-dup, so audio cannot plant a negative here).
  private def item(id: Long, seed: Long): Multimodal.MediaItem =
    Multimodal.MediaItem(id, "image",
      Multimodal.syntheticPng(seed, 16, 14),
      Map("seed" -> seed.toString))

  test("media pairs accumulate against the growing standing hash index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Multimodal.MediaItem]
    val indexDir = tmpDir("med-index") + "/hashes"
    val pairsDir = tmpDir("med-pairs") + "/pairs"
    val ckpt = tmpDir("med-ckpt")
    val q = IncrementalMediaDedup.start(
      input.toDF(), "image", indexDir, pairsDir, ckpt,
      Trigger.ProcessingTime(0))
    try {
      def pairs(): Set[(Long, Long, Long)] =
        if (new java.io.File(pairsDir).exists())
          readStateTable(pairsDir).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        else Set.empty

      input.addData(item(1L, seed = 7L), item(2L, seed = 99L))
      q.processAllAvailable()
      assert(pairs().isEmpty)
      // Exploded band-row layout: 8 aHash band rows per image.
      val idx = readStateTable(indexDir)
      assert(idx.select("item_id").distinct().count() == 2)
      assert(idx.count() == 16)

      // A same-seed copy pairs with the standing original at hamming 0.
      input.addData(item(20L, seed = 7L))
      q.processAllAvailable()
      assert(pairs() == Set((20L, 1L, 0L)))

      // Another copy pairs with BOTH standing copies.
      input.addData(item(40L, seed = 7L))
      q.processAllAvailable()
      assert(pairs() == Set((20L, 1L, 0L), (40L, 1L, 0L), (40L, 20L, 0L)))
    } finally q.stop()
  }

  test("image probe verifies hamming over ALL 8 aHash bands, not a 4-band prefix") {
    import spark.implicits._
    // Two images whose aHashes agree on bands 0-3 (same top-half
    // checkerboard → they collide on those band keys and become
    // candidates) and are complementary on bands 4-7 (bottom half
    // inverted; global mean unchanged, so top bits stay put): true
    // hamming = 32, far above MaxHamming. A probe summing only a
    // 4-band prefix would read hamming 0 and emit a false pair —
    // the round-9 streaming-image bug this spec pins closed.
    def checker(id: Long, invertBottom: Boolean): Multimodal.MediaItem = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        val (bi, bj) = (x / 2, y / 2)
        val base = (bi + bj) % 2 == 0
        val bright = if (invertBottom && bj >= 4) !base else base
        img.setRGB(x, y, if (bright) 0xFFFFFF else 0x000000)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      Multimodal.MediaItem(id, "image", bos.toByteArray, Map.empty)
    }
    // Pin the fixture geometry: top bands equal, bottom bands far apart.
    val ha = Multimodal.imageAHash(checker(1L, invertBottom = false)).bands
    val hb = Multimodal.imageAHash(checker(2L, invertBottom = true)).bands
    assert(ha.take(4).toSeq == hb.take(4).toSeq,
      "fixture: bands 0-3 must collide")
    assert(ha.drop(4).zip(hb.drop(4))
      .map { case (a, b) => java.lang.Long.bitCount(a ^ b) }.sum > 2,
      "fixture: bands 4-7 must diverge beyond MaxHamming")
    val indexDir = tmpDir("med-band-index") + "/hashes"
    val pairsDir = tmpDir("med-band-pairs") + "/pairs"
    IncrementalMediaDedup.processBatch(
      Seq(checker(1L, invertBottom = false), checker(2L, invertBottom = true))
        .toDF(), "image", indexDir, pairsDir, 0L)
    assert(!new java.io.File(pairsDir).exists(),
      "a pair diverging only in bands 4-7 must NOT dedup")
    // A true duplicate probing the same standing index still pairs —
    // and still skips the bands-4-7 divergent neighbor.
    IncrementalMediaDedup.processBatch(
      Seq(checker(9L, invertBottom = false)).toDF(), "image", indexDir,
      pairsDir, 1L)
    val got = readStateTable(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((9L, 1L, 0L)))
  }

  test("bucketed standing index: pair parity, standing side moves zero rows") {
    import spark.implicits._
    val tbl = "media_bucket_index_spec"
    val pairsDir = tmpDir("med-b-pairs") + "/pairs"
    val index = IncrementalDedup.BucketedIndex(tbl, 8, key = "key")
    try {
      def pairs(): Set[(Long, Long)] =
        readStateTable(pairsDir).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      IncrementalMediaDedup.processBatch(
        Seq(item(1L, 7L), item(2L, 99L)).toDF(), "image", index, pairsDir, 0L)
      IncrementalMediaDedup.processBatch(
        Seq(item(20L, 7L)).toDF(), "image", index, pairsDir, 1L)
      assert(pairs() == Set((20L, 1L)))
      IncrementalMediaDedup.processBatch(
        Seq(item(40L, 7L)).toDF(), "image", index, pairsDir, 2L)
      assert(pairs() == Set((20L, 1L), (40L, 1L), (40L, 20L)),
        "the bucketed index accumulates like the directory layout")
      // The standing side is read through the bucket layout and
      // crosses NO shuffle: HashPartitioning(key) satisfies the
      // probe's (band, key)-clustered distinct, rank window and join.
      val probe = graft.mm.MultimodalQueries
        .mediaProbe(nBands = 8, maxHamming = 2).pairs(
          graft.mm.MultimodalQueries.mediaBandRows(
            graft.mm.Multimodal.imageAHashes(
              Seq(item(99L, 7L)).toDS()).toDF()),
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

  test("duplicates landing in the SAME micro-batch pair with each other") {
    import spark.implicits._
    val indexDir = tmpDir("med-ib-index") + "/hashes"
    val pairsDir = tmpDir("med-ib-pairs") + "/pairs"
    IncrementalMediaDedup.processBatch(
      Seq(item(1L, 7L), item(2L, 99L), item(3L, 7L)).toDF(),
      "image", indexDir, pairsDir, 0L)
    val got = readStateTable(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((3L, 1L)),
      "same-batch dup items must pair, oriented new > corpus")
    IncrementalMediaDedup.processBatch(
      Seq(item(9L, 7L)).toDF(), "image", indexDir, pairsDir, 1L)
    val got2 = readStateTable(pairsDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == Set((3L, 1L), (9L, 1L), (9L, 3L)))
    // Downstream consumers off the pair table: one hamming cluster
    // labeled by its min item; survivors keep the rep + the loner.
    val labels = IncrementalMediaDedup.components(spark, pairsDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labels == Set((1L, 1L), (3L, 1L), (9L, 1L)))
    val surv = IncrementalMediaDedup.survivors(
      Seq(1L, 2L, 3L, 9L).toDF("item_id"), pairsDir)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("cluster_size"))).toSet
    assert(surv == Set((1L, 3L), (2L, 1L)))
  }
}
