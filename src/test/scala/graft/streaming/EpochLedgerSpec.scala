package graft.streaming

import graft.SparkSpec
import graft.etl.SnapshotTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The shared epoch discipline ([[EpochLedger]]): admission refusals
  * and the populated non-snapshot dir refusal across every snapshot
  * loop. The per-loop crash/replay specs use [[CrashBoundaries]]. */
class EpochLedgerSpec extends SparkSpec {

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
    * n+1 is refused and that replaying n leaves every ledger's read
    * equal to the uninterrupted run. `ledgers` are in landing order,
    * relative to the state root; manifests carry table-relative paths,
    * so a copied root is the same committed state. */
  protected def crashAtEveryBoundary(
      name: String, ledgers: Seq[String], setup: String => Unit,
      epoch: (String, Long) => Unit, n: Long): Unit = {
    val ref = tmpDir(s"crash-$name")
    setup(ref)
    epoch(ref, n)
    val want = ledgers.map(l => ledgerRows(s"$ref/$l"))
    for (k <- ledgers.indices) {
      val root = tmpDir(s"crash-$name-$k")
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(ref), new java.io.File(root))
      ledgers.drop(k).foreach(l => unpublishHead(s"$root/$l"))
      val e = intercept[IllegalArgumentException](epoch(root, n + 1))
      assert(e.getMessage.contains("epoch gap"),
        s"$name, crash after ${ledgers.take(k)}: ${e.getMessage}")
      epoch(root, n)
      assert(ledgers.map(l => ledgerRows(s"$root/$l")) == want,
        s"$name: replay after a crash after ${ledgers.take(k)} drifted")
    }
  }
}
