package graft.etl

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** The snapshot-isolation contract of [[SnapshotTable]]: immutable
  * data files + atomic create-if-absent manifest commits mean a
  * reader can never observe a torn table — the two planted failure
  * modes are a reader RACING a compaction (resolves the old head,
  * keeps its exact files) and a CRASHED HALF-COMMIT (torn manifest +
  * orphan data files, invisible to readers, swept by expire). */
class SnapshotTableSpec extends SparkSpec {

  private def rows(n: Int, from: Int = 0) = {
    import spark.implicits._
    (from until from + n).map(i => (i.toLong, s"v$i")).toDF("id", "v")
  }

  private def ids(dir: String, snap: Option[Long] = None): Set[Long] =
    SnapshotTable.read(spark, dir, snap)
      .collect().map(_.getLong(0)).toSet

  test("overwrite/append commit; read pins head; time travel works") {
    val dir = tmpDir("snaptab") + "/t"
    val s1 = SnapshotTable.overwrite(rows(3), dir)
    assert(ids(dir) == Set(0L, 1L, 2L))
    val s2 = SnapshotTable.append(rows(2, from = 10), dir)
    assert(s2 > s1)
    assert(ids(dir) == Set(0L, 1L, 2L, 10L, 11L))
    // time travel: the old snapshot still reads its exact contents
    assert(ids(dir, Some(s1)) == Set(0L, 1L, 2L))
    val snaps = SnapshotTable.snapshots(spark, dir)
    assert(snaps.map(_.id) == Seq(s1, s2))
    assert(snaps.map(_.rows) == Seq(3L, 5L))
    // append reuses head's files — no rewrite of committed data
    val m1 = snaps.head.files.toSet
    assert(m1.subsetOf(snaps.last.files.toSet))
  }

  test("reader racing a compaction keeps its pinned snapshot's files") {
    val dir = tmpDir("snaptab-race") + "/t"
    SnapshotTable.overwrite(rows(4), dir)
    val s2 = SnapshotTable.append(rows(4, from = 100), dir)
    // Reader resolves the head BEFORE the compactor runs — the race.
    val pinnedReader = SnapshotTable.read(spark, dir, Some(s2))
    val oldFiles = SnapshotTable.snapshots(spark, dir).last.files
    val s3 = SnapshotTable.compact(spark, dir, numFiles = 1)
    // Compaction folded the files down but MUTATED NOTHING: every
    // file of the reader's snapshot still exists byte-for-byte.
    val fs = new Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    oldFiles.foreach(f => assert(fs.exists(new Path(s"$dir/$f")),
      s"compaction deleted a file a live reader holds: $f"))
    // The racing reader's already-resolved plan returns the full,
    // un-torn contents.
    assert(pinnedReader.collect().map(_.getLong(0)).toSet ==
      (0 until 4).map(_.toLong).toSet ++ (100 until 104).map(_.toLong))
    // The new head has the same rows from fewer files.
    val head = SnapshotTable.snapshots(spark, dir).last
    assert(head.id == s3 && head.files.length == 1)
    assert(ids(dir) == ids(dir, Some(s2)))
  }

  test("a crashed half-commit is invisible and does not block commits") {
    val dir = tmpDir("snaptab-crash") + "/t"
    val s1 = SnapshotTable.overwrite(rows(3), dir)
    val fs = new Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    // Plant the crash: orphan data file + manifest cut off mid-write
    // (no terminator) at the next id — exactly what a writer dying
    // between create() and close() leaves behind.
    val orphan = new Path(s"$dir/_data/w-dead-0.parquet")
    val o = fs.create(orphan, false); o.write(1); o.close()
    val torn = new Path(s"$dir/manifests/snap-00000001.manifest")
    val t = fs.create(torn, false)
    t.write("files=2\nrows=9\n_data/w-dead-0.parquet\n".getBytes("UTF-8"))
    t.close()
    // Readers resolve past the torn manifest to the last good commit.
    assert(SnapshotTable.currentSnapshot(spark, dir).get.id == s1)
    assert(ids(dir) == Set(0L, 1L, 2L))
    // The next commit lands ABOVE the torn id (never overwrites it).
    val s3 = SnapshotTable.append(rows(1, from = 50), dir)
    assert(s3 == 2L)
    assert(ids(dir) == Set(0L, 1L, 2L, 50L))
    // GC sweeps the orphan once the grace window passes it by.
    SnapshotTable.expire(spark, dir, keepLast = 1, minAgeMs = 0)
    assert(!fs.exists(orphan), "expire must sweep orphaned data files")
    assert(ids(dir) == Set(0L, 1L, 2L, 50L))
  }

  test("expire keeps the grace window readable and deletes the rest") {
    val dir = tmpDir("snaptab-gc") + "/t"
    val s1 = SnapshotTable.overwrite(rows(2), dir)
    val s2 = SnapshotTable.overwrite(rows(2, from = 10), dir)
    val s3 = SnapshotTable.append(rows(1, from = 20), dir)
    val (m, f) = SnapshotTable.expire(spark, dir, keepLast = 2, minAgeMs = 0)
    assert(m == 1L, s"expected 1 manifest deleted, got $m")
    // s1's files are unreferenced by the kept window (s2 overwrote).
    assert(f >= 1L)
    intercept[IllegalArgumentException] {
      SnapshotTable.read(spark, dir, Some(s1))
    }
    // Both kept snapshots still read clean.
    assert(ids(dir, Some(s2)) == Set(10L, 11L))
    assert(ids(dir, Some(s3)) == Set(10L, 11L, 20L))
  }

  test("adopt converts a plain parquet dir in place; expire sweeps it after overwrite") {
    val dir = tmpDir("snaptab-adopt") + "/t"
    // The pre-snapshot layout: a blind-append parquet directory.
    Sinks.appendParquet(rows(3), dir)
    Sinks.appendParquet(rows(2, from = 7), dir)
    val s0 = SnapshotTable.adopt(spark, dir)
    assert(s0.contains(0L))
    assert(ids(dir) == Set(0L, 1L, 2L, 7L, 8L))
    // Zero data movement: adopted files stay at top level.
    assert(SnapshotTable.snapshots(spark, dir).head.files
      .forall(!_.contains("/")))
    // Adopting twice is a no-op, not a duplicate snapshot.
    assert(SnapshotTable.adopt(spark, dir).isEmpty)
    // Ordinary commits continue on top; once the adopted snapshot
    // ages out of the grace window its files are swept like any other.
    SnapshotTable.overwrite(rows(1, from = 99), dir)
    SnapshotTable.expire(spark, dir, keepLast = 1, minAgeMs = 0)
    assert(ids(dir) == Set(99L))
    val fs = new Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(!fs.listStatus(new Path(dir)).exists(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet")),
      "expire must sweep unreferenced adopted files")
    // A partitioned layout is refused, not silently flattened.
    val pdir = tmpDir("snaptab-adopt-p") + "/t"
    rows(4).withColumn("p", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.lit(2L)))
      .write.partitionBy("p").parquet(pdir)
    intercept[IllegalArgumentException] {
      SnapshotTable.adopt(spark, pdir)
    }
  }

  test("appendOnce is effectively-once under foreachBatch replay") {
    val dir = tmpDir("snaptab-once") + "/t"
    val s0 = SnapshotTable.appendOnce(rows(2), dir, batchId = 0L)
    assert(ids(dir) == Set(0L, 1L))
    // Crash-replay: the stream re-runs batch 0 (same id, same rows) —
    // the ledger says it committed, so nothing is appended.
    assert(SnapshotTable.appendOnce(rows(2), dir, batchId = 0L) == s0)
    assert(ids(dir) == Set(0L, 1L))
    assert(SnapshotTable.snapshots(spark, dir).length == 1)
    // Worse crash: batch 1 staged its files, died before publish, and
    // replays — the orphans stay invisible, the replay commits once.
    val fs = new Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val orphan = new Path(s"$dir/_data/b1-deadstage-0.parquet")
    val o = fs.create(orphan, false); o.write(1); o.close()
    val s1 = SnapshotTable.appendOnce(rows(1, from = 9), dir, batchId = 1L)
    assert(ids(dir) == Set(0L, 1L, 9L))
    assert(SnapshotTable.snapshots(spark, dir)
      .map(_.batchId) == Seq(Some(0L), Some(1L)))
    assert(SnapshotTable.appendOnce(rows(1, from = 9), dir, 1L) == s1)
    assert(SnapshotTable.read(spark, dir).count() == 3)
    // Interop: batch-id manifests coexist with plain commits.
    SnapshotTable.overwrite(rows(1, from = 50), dir)
    assert(ids(dir) == Set(50L))
    assert(ids(dir, Some(s1)) == Set(0L, 1L, 9L))
  }

  test("expire refuses tables without a committed snapshot; age floor guards in-flight files") {
    // A plain parquet dir that was never adopted must NOT be GC'd —
    // without the guard every top-level file looks unreferenced and
    // expire would destroy a table it does not own.
    val plain = tmpDir("snaptab-noexp") + "/t"
    Sinks.appendParquet(rows(3), plain)
    intercept[IllegalArgumentException] {
      SnapshotTable.expire(spark, plain, keepLast = 1, minAgeMs = 0)
    }
    val fs = new Path(plain).getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(fs.listStatus(new Path(plain)).exists(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet")),
      "refused expire must leave the plain table untouched")
    // In-flight grace: a freshly staged-but-unpublished file is
    // unreferenced by every manifest, but the default age floor keeps
    // the scheduled sweep from racing the commit that staged it.
    val dir = tmpDir("snaptab-age") + "/t"
    SnapshotTable.overwrite(rows(2), dir)
    val inflight = new Path(s"$dir/_data/w-inflight-0.parquet")
    val o = fs.create(inflight, false); o.write(1); o.close()
    SnapshotTable.expire(spark, dir, keepLast = 1) // default minAge
    assert(fs.exists(inflight),
      "default-age expire must not sweep fresh unreferenced files")
    SnapshotTable.expire(spark, dir, keepLast = 1, minAgeMs = 0)
    assert(!fs.exists(inflight),
      "zero-age expire (stop-the-world maintenance) sweeps orphans")
  }

  test("concurrent committers: loser of the create race retries upward") {
    val dir = tmpDir("snaptab-cc") + "/t"
    SnapshotTable.overwrite(rows(2), dir)
    // Simulate the competing committer winning id 1 first: a valid
    // manifest appears at the id our committer would target.
    val fs = new Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val winner = SnapshotTable.snapshots(spark, dir).head
    val p = new Path(s"$dir/manifests/snap-00000001.manifest")
    val w = fs.create(p, false)
    w.write((s"files=${winner.files.length}" +: s"rows=${winner.rows}" +:
      winner.files :+ "commit").mkString("", "\n", "\n").getBytes("UTF-8"))
    w.close()
    // Our commit must land at id 2, not clobber id 1.
    val s = SnapshotTable.overwrite(rows(3, from = 30), dir)
    assert(s == 2L)
    assert(SnapshotTable.snapshots(spark, dir).map(_.id) == Seq(0L, 1L, 2L))
    assert(ids(dir) == Set(30L, 31L, 32L))
  }

  test("epoch ledger survives compact + expire: replays no-op, the " +
    "sequence is not wedged, corrections stay possible") {
    val dir = tmpDir("snaptab-ledger") + "/t"
    for (b <- 0 to 2)
      SnapshotTable.appendOnce(rows(1, from = 10 * b), dir, batchId = b)
    // The maintenance posture that used to forget the ledger: fold all
    // epoch files (header-less manifest pre-fix), then keep ONLY it.
    SnapshotTable.compact(spark, dir)
    SnapshotTable.expire(spark, dir, keepLast = 1, minAgeMs = 0)
    assert(SnapshotTable.snapshots(spark, dir).length == 1)
    assert(SnapshotTable.maxCommittedBatch(spark, dir) == 2L,
      "compact must carry the epoch ledger into its manifest")
    // A replayed old epoch must NO-OP (pre-fix: re-appended its rows
    // on top of the folded copy — double count) …
    SnapshotTable.appendOnce(rows(1), dir, batchId = 0L)
    SnapshotTable.appendOnce(rows(1, from = 20), dir, batchId = 2L)
    assert(ids(dir) == Set(0L, 10L, 20L))
    // … and the NEXT real epoch must land (pre-fix: committedEpochs
    // read empty, so the loop's high-water sequencing wedged).
    SnapshotTable.appendOnce(rows(1, from = 30), dir, batchId = 3L)
    assert(ids(dir) == Set(0L, 10L, 20L, 30L))
    assert(SnapshotTable.maxCommittedBatch(spark, dir) == 3L)
    // A late correction of a post-maintenance epoch is still accepted:
    // the ledger (not a retained batch manifest) proves it landed.
    SnapshotTable.replaceBatch(rows(1, from = 40), dir,
      batchId = 3L) // epoch 3's files carry the b3- tag: fast-path swap
    assert(ids(dir) == Set(0L, 10L, 20L, 40L))
  }

  test("overwrite resets the epoch ledger: a folded-to-base table " +
    "accepts recycled batch ids even with old batch manifests retained") {
    val dir = tmpDir("snaptab-reset") + "/t"
    SnapshotTable.appendOnce(rows(2), dir, batchId = 0L)
    SnapshotTable.appendOnce(rows(2, from = 10), dir, batchId = 1L)
    // The fresh-checkpoint recovery fold: one overwrite commit, with
    // the old batch-stamped manifests STILL in the retained window.
    SnapshotTable.overwrite(
      SnapshotTable.read(spark, dir), dir)
    assert(SnapshotTable.maxCommittedBatch(spark, dir) == -1L,
      "overwrite must reset the ledger — it starts a new epoch sequence")
    // Recycled ids now LAND instead of silently no-op'ing off the old
    // manifests (the round-14 recovery hole: restarted epochs' rows
    // never entered the table).
    SnapshotTable.appendOnce(rows(1, from = 50), dir, batchId = 0L)
    assert(ids(dir) == Set(0L, 1L, 10L, 11L, 50L))
    assert(SnapshotTable.maxCommittedBatch(spark, dir) == 0L)
    SnapshotTable.appendOnce(rows(1, from = 60), dir, batchId = 1L)
    assert(ids(dir) == Set(0L, 1L, 10L, 11L, 50L, 60L))
    // And the replay contract holds within the NEW sequence.
    SnapshotTable.appendOnce(rows(1, from = 60), dir, batchId = 1L)
    assert(SnapshotTable.read(spark, dir).count() == 6)
  }
}
