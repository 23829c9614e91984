package graft.streaming

import graft.SparkSpec
import graft.etl.SnapshotTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.mm.Multimodal

/** The shared epoch discipline ([[EpochLedger]]): admission refusals
  * and the populated non-snapshot dir refusal across every snapshot
  * loop, and the pair loops' crash/replay. The other per-loop
  * crash/replay specs use [[CrashBoundaries]] too. */
class EpochLedgerSpec extends SparkSpec with CrashBoundaries {

  private def commit(dir: String, b: Long): Unit =
    SnapshotTable.appendOnce(
      spark.range(1).withColumn("batch_id", lit(b)), dir, b): Unit

  test("admit refuses gaps and lockstep breaks, naming every ledger " +
      "and its high-water mark") {
    val d = tmpDir("ledger-admit")
    val (a, b) = (s"$d/a", s"$d/b")
    EpochLedger.admit(spark, 0L, a, b)
    commit(a, 0L); commit(b, 0L)
    EpochLedger.admit(spark, 1L, a, b)
    EpochLedger.admit(spark, 0L, a, b) // replay of a landed epoch
    commit(a, 1L) // crash between the two commits of epoch 1
    val gap = intercept[IllegalArgumentException] {
      EpochLedger.admit(spark, 2L, a, b)
    }
    assert(gap.getMessage.contains("epoch gap") &&
      gap.getMessage.contains(s"$a at 1") &&
      gap.getMessage.contains(s"$b at 0"), gap.getMessage)
    EpochLedger.admit(spark, 1L, a, b) // the replay that heals it
    // A later ledger ahead of an earlier one is no crash state.
    commit(b, 1L); commit(b, 2L)
    val split = intercept[IllegalArgumentException] {
      EpochLedger.admit(spark, 2L, a, b)
    }
    assert(split.getMessage.contains("out of lockstep") &&
      split.getMessage.contains(s"$a at 1") &&
      split.getMessage.contains(s"$b at 2"), split.getMessage)
  }

  test("every snapshot loop refuses a state dir holding parquet files " +
      "but no manifests, naming that dir") {
    val d = tmpDir("ledger-refuse")
    val any = spark.range(1).toDF("doc_id")
    // One planted ledger per loop; multi-ledger loops plant a later
    // ledger, so the check is shown to reach past the first one.
    val cases: Seq[(String, String => Unit)] = Seq(
      "bars" -> (p => IncrementalBars.processBatch(any, p, 0L)),
      "shards" -> (p => IncrementalShards.processBatch(
        any, any, s"$p-rates", p, 0L)),
      "quality" -> (p => IncrementalQuality.processBatch(
        any, s"$p-counts", p, 0L)),
      "domain" -> (p => IncrementalDomain.processBatch(
        any, s"$p-maps", p, 0L)),
      "curation" -> (p => IncrementalCuration.processBatch(
        any, s"$p-urls", p, s"$p-funnel", s"$p-q", s"$p-dver", 0L)),
      "ann" -> (p => IncrementalAnn.processBatch(
        any, s"$p-index", p, 0L)),
      "dedup" -> (p => IncrementalDedup.processBatch(
        any, p, s"$p-pairs", 0L)))
    for ((name, run) <- cases) {
      val planted = s"$d/$name"
      spark.range(3).write.parquet(planted)
      val e = intercept[IllegalStateException](run(planted))
      assert(e.getMessage.contains(planted), s"$name: ${e.getMessage}")
    }
  }

  test("pair loops: a crash between the pairs and index commits heals " +
      "bit-equal by replaying the epoch") {
    import spark.implicits._
    val text = "spark catalyst shuffles partition data across executors " * 8
    val other = "completely different words about cooking pasta " * 3
    val vec = (0 until 64).map(i => 0.1f + 0.01f * i)
    val farVec = vec.zipWithIndex.map { case (x, i) => if (i % 2 == 0) x else -x }
    def img(id: Long, seed: Long) = Multimodal.MediaItem(
      id, "image", Multimodal.syntheticPng(seed, 16, 14),
      Map("seed" -> seed.toString))
    // Epoch 0 seeds the index; epoch 1 carries a duplicate of row 1, so
    // it commits pairs (unpublishing a head needs one) before its index
    // rows.
    val cases: Seq[(String, (String, Long) => Unit)] = Seq(
      "text" -> ((root, b) => IncrementalDedup.processBatch(
        Seq(Seq((1L, text), (2L, other)), Seq((20L, text)))(b.toInt)
          .toDF("doc_id", "text"), s"$root/index", s"$root/pairs", b)),
      "semantic" -> ((root, b) => IncrementalSemDedup.processBatch(
        Seq(Seq((1L, vec), (2L, farVec)), Seq((20L, vec.map(_ * 2f))))(b.toInt)
          .toDF("vec_id", "embedding"), s"$root/index", s"$root/pairs", b)),
      "media" -> ((root, b) => IncrementalMediaDedup.processBatch(
        Seq(Seq(img(1L, 7L), img(2L, 99L)), Seq(img(20L, 7L)))(b.toInt).toDF(),
        "image", s"$root/index", s"$root/pairs", b)))
    // The pair loops run no admission, so a resume is not refused.
    for ((name, epoch) <- cases)
      crashAtEveryBoundary(name, Seq("pairs", "index"),
        root => epoch(root, 0L), epoch, 1L, resumeRefused = false)
  }
}

/** The crash/replay promise of a multi-ledger loop entry point, checked
  * at every commit boundary of one epoch. */
trait CrashBoundaries { this: SparkSpec =>

  /** An unpublished commit is exactly a missing manifest. */
  private def unpublishHead(dir: String): Unit = {
    val head = SnapshotTable.currentSnapshot(spark, dir).get
    val p = new Path(f"$dir/manifests/snap-${head.id}%08d.manifest")
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, false): Unit
  }

  private def ledgerRows(dir: String): Seq[String] =
    SnapshotTable.read(spark, dir).collect().map(_.toString).sorted.toSeq

  /** Land epochs up to `n` uninterrupted, then for each commit boundary
    * k of epoch `n` crash a copy of that state there — the newest
    * manifest of ledgers k+1.. dropped — and require that resuming at
    * n+1 is refused (for loops that run [[EpochLedger.admit]]) and that
    * replaying n leaves every ledger's read equal to the uninterrupted
    * run. `ledgers` are in landing order, relative to the state root;
    * manifests carry table-relative paths, so a copied root is the
    * same committed state. */
  protected def crashAtEveryBoundary(
      name: String, ledgers: Seq[String], setup: String => Unit,
      epoch: (String, Long) => Unit, n: Long,
      resumeRefused: Boolean = true): Unit = {
    val ref = tmpDir(s"crash-$name")
    setup(ref)
    epoch(ref, n)
    val want = ledgers.map(l => ledgerRows(s"$ref/$l"))
    for (k <- ledgers.indices) {
      val root = tmpDir(s"crash-$name-$k")
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(ref), new java.io.File(root))
      ledgers.drop(k).foreach(l => unpublishHead(s"$root/$l"))
      if (resumeRefused) {
        val e = intercept[IllegalArgumentException](epoch(root, n + 1))
        assert(e.getMessage.contains("epoch gap"),
          s"$name, crash after ${ledgers.take(k)}: ${e.getMessage}")
      }
      epoch(root, n)
      assert(ledgers.map(l => ledgerRows(s"$root/$l")) == want,
        s"$name: replay after a crash after ${ledgers.take(k)} drifted")
    }
  }
}
