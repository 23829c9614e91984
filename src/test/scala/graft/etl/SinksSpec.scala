package graft.etl

import graft.SparkSpec
import java.time.Instant

/** Sink contracts (SURVEY.md §2.1): parquet nullability pinning survives
  * a write/read round-trip (the BigQuery-motivated care at
  * bpi_etl_bigquery.py:238-242), append accumulates, and the
  * hash-randomized snapshot prefix matches the reference's layout
  * (create_random_dt_prefix, :8-23). */
class SinksSpec extends SparkSpec {

  private lazy val out = BpiTransform(
    Ingest.readBpi(spark, fixture("bpi-raw-data.json")),
    Ingest.readXr(spark, fixture("rupiah-exchange-rate.json")),
    "2022-12-18 11:00:00")

  test("pinned nullability survives the parquet round-trip") {
    val path = tmpDir("pinned") + "/t"
    val back = Sinks.pinnedParquet(out, Schemas.bpiXrHourly, path)
    // Spark's parquet writer marks all fields optional on disk; the
    // pinned contract lives in the returned schema + write-time check.
    val flags = back.schema.map(f => f.name -> f.nullable).toMap
    assert(flags("disclaimer") && flags("chart_name"))
    assert(Schemas.bpiXrHourly.map(_.name)
      .filterNot(Set("disclaimer", "chart_name")).forall(!flags(_)))
    assert(back.count() == 1)
  }

  test("a NULL in a required column fails the pinned write (BigQuery-load analog)") {
    import org.apache.spark.sql.functions.{lit, when, col}
    val withNull = out.withColumn("time_updated",
      when(lit(true), lit(null: String)).otherwise(col("time_updated")))
    intercept[Exception] {
      Sinks.pinnedParquet(withNull, Schemas.bpiXrHourly, tmpDir("pinned-bad") + "/t")
    }
  }

  test("schema mismatch is rejected, not silently coerced") {
    intercept[IllegalArgumentException] {
      Sinks.withPinnedSchema(out.drop("last_updated"), Schemas.bpiXrHourly)
    }
  }

  test("append accumulates rows") {
    val dir = tmpDir("append") + "/t"
    Sinks.appendParquet(out, dir)
    Sinks.appendParquet(out, dir)
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("partitioned append: one directory per partition value, scan prunes") {
    import org.apache.spark.sql.functions.{col, date_format}
    val dir = tmpDir("part") + "/t"
    val orders = spark.read
      .parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("order_month", date_format(col("o_orderdate"), "yyyy-MM"))
    Sinks.appendPartitioned(orders, dir, "order_month")
    val subdirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(subdirs.nonEmpty && subdirs.forall(_.startsWith("order_month=")))
    val pruned = spark.read.parquet(dir).filter(col("order_month") === "1995-03")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() > 0)
    assert(plan.contains("PartitionFilters") || subdirs.size > 1)
  }

  test("overlap-aware chunk sink keeps tokens a surviving window still covers") {
    import spark.implicits._
    // CS=50/ST=40. Two docs share EXACTLY window c1 = tokens [40,90):
    // the 50-token run S. docY's chunk 1 loses survivor selection to
    // docX's (higher doc_id); every other window is unique. The block
    // rule drops docY's whole owned block [40,80) = S[0,40). But
    // surviving window c0 = [0,50) covers tokens [40,50) = S[0,10) —
    // the overlap-aware rule must preserve exactly those.
    val S = (0 until 50).map(i => s"s$i")
    def uniq(tag: String, n: Int) = (0 until n).map(i => s"$tag$i")
    val docX = (uniq("xa", 40) ++ S ++ uniq("xb", 50)).mkString(" ")
    val docY = (uniq("yc", 40) ++ S ++ uniq("yd", 50)).mkString(" ")
    val docs = Seq(
      (0L, docX, "en", "srcA", docX.length.toLong),
      (1L, docY, "en", "srcB", docY.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tmpDir("chunk-ov")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t = graft.Tables(spark, dir)

    val outBlock = tmpDir("chunk-ov-block") + "/d"
    val outOv = tmpDir("chunk-ov-aware") + "/d"
    assert(Sinks.materializeChunkDedupedCorpus(t, outBlock) == 2L)
    assert(Sinks.materializeChunkDedupedCorpusOverlapAware(t, outOv) == 2L)
    def texts(out: String): Map[Long, String] =
      spark.read.parquet(out).select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap

    // docX (the survivor) is untouched under both rules.
    assert(texts(outBlock)(0L) == docX)
    assert(texts(outOv)(0L) == docX)
    // Block rule: docY loses its whole owned block [40,80) = S[0,40).
    assert(texts(outBlock)(1L) ==
      (uniq("yc", 40) ++ S.drop(40) ++ uniq("yd", 50)).mkString(" "))
    // Overlap-aware: tokens [40,50) = S[0,10) survive via window c0;
    // only the exclusively-covered [50,80) = S[10,40) is excised.
    assert(texts(outOv)(1L) ==
      (uniq("yc", 40) ++ S.take(10) ++ S.drop(40) ++ uniq("yd", 50))
        .mkString(" "))
  }

  test("overwritePartitions replaces only touched partitions; reruns converge") {
    import spark.implicits._
    val dir = tmpDir("dynpart") + "/t"
    Sinks.appendPartitioned(
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "p"), dir, "p")
    // Backfill: partition b recomputed (1 row, new id), partition c new.
    // Partition a must be untouched; b replaced, not appended.
    Sinks.overwritePartitions(
      Seq((30L, "b"), (40L, "c")).toDF("id", "p"), dir, "p")
    def state(): Map[String, Set[Long]] =
      spark.read.parquet(dir).as[(Long, String)].collect()
        .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(state() == Map(
      "a" -> Set(1L, 2L), "b" -> Set(30L), "c" -> Set(40L)))
    // Idempotence: the same backfill again changes nothing — the
    // promise appendPartitioned cannot make.
    Sinks.overwritePartitions(
      Seq((30L, "b"), (40L, "c")).toDF("id", "p"), dir, "p")
    assert(state() == Map(
      "a" -> Set(1L, 2L), "b" -> Set(30L), "c" -> Set(40L)))
  }

  test("snapshot prefix layout: <md5[0:6]>-<yyyy-MM-dd-HH-mm-ss>") {
    val ts = Instant.parse("2022-12-18T10:30:05Z")
    val p = Sinks.snapshotPrefix("hello".getBytes("UTF-8"), ts)
    // md5("hello") = 5d41402abc4b2a76b9719d911017c592
    assert(p == "5d4140-2022-12-18-10-30-05")
  }

  test("raw snapshot writes the exact payload under data/raw/<prefix>/") {
    val base = tmpDir("snap")
    val path = Sinks.snapshotRaw(
      spark, """{"a":1}""", base, "bpi-raw-data.json",
      Instant.parse("2022-12-18T10:00:00Z"))
    assert(path.contains("/data/raw/"))
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(path)) == """{"a":1}""")
  }

  test("materializeDedupedCorpus writes survivors with payloads, partitioned by source") {
    import spark.implicits._
    // Planted near-dup corpus (the DedupSpec fixture): doc 1 is an
    // exact dup of doc 0 and must NOT survive; near-dup 2 may collapse
    // into 0's cluster; unrelated 3 always survives.
    val base = ("spark catalyst shuffles partition data across executors " +
      "for wide joins and aggregations at scale ") * 8
    val other = "completely different words about cooking pasta with " +
      "tomatoes basil garlic olive oil and fresh bread " * 3
    val docs = Seq((0L, base, "srcA"), (1L, base, "srcA"),
      (2L, base.replaceFirst("catalyst", "tungsten"), "srcB"),
      (3L, other, "srcB"))
      .map { case (id, tx, src) => (id, tx, "en", src, tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tmpDir("dedup-sink")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = tmpDir("dedup-sink-out") + "/deduped"
    val n = Sinks.materializeDedupedCorpus(graft.Tables(spark, dir), out)
    val back = spark.read.parquet(out)
    val ids = back.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(1L), "exact dup must be excised")
    assert(ids.contains(0L) && ids.contains(3L))
    assert(n == ids.size.toLong)
    // Full payloads and provenance survive the roundtrip.
    assert(back.columns.toSet ==
      Set("doc_id", "text", "lang", "source", "n_chars", "cluster_size"))
    val c0 = back.filter($"doc_id" === 0L).select("cluster_size")
      .collect().head.getLong(0)
    assert(c0 >= 2, "the representative carries its cluster size")
    // Hive-style source partitions exist on disk.
    val parts = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(parts.exists(_.startsWith("source=")))
  }

  test("materializeDedupedMediaCorpus excises dups per modality, payloads intact") {
    import spark.implicits._
    // doc_id multiples of 371229 = 3·lcm(29,17,251) synthesize
    // byte-identical PNGs (same dims, same seed — the MultimodalSpec
    // planted-corpus trick): 371229 is an exact dup of 0 and must be
    // excised, with 0 surviving as the component min. 1 (audio) and
    // 2 (video) are singletons and always survive.
    val docs = Seq(0L, 371229L, 1L, 2L)
      .map(id => (id, s"media doc $id", "en", "srcA", 12L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tmpDir("mm-sink")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = tmpDir("mm-sink-out") + "/media"
    val n = Sinks.materializeDedupedMediaCorpus(spark, dir, out)
    val back = spark.read.parquet(out)
    val ids = back.select("item_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(371229L), "byte-identical image dup must be excised")
    assert(ids == Set(0L, 1L, 2L))
    assert(n == 3L)
    // The surviving representative carries its cluster size; the
    // payload that comes back is the REAL container, byte-for-byte.
    val img = back.filter($"item_id" === 0L)
      .select("cluster_size", "payload", "modality").collect().head
    assert(img.getLong(0) == 2L)
    assert(img.getString(2) == "image")
    assert(java.util.Arrays.equals(img.getAs[Array[Byte]](1),
      graft.mm.Multimodal.syntheticPng(0L, 4, 4)))
    val wav = back.filter($"item_id" === 1L)
      .select("cluster_size", "payload").collect().head
    assert(wav.getLong(0) == 1L)
    assert(java.util.Arrays.equals(wav.getAs[Array[Byte]](1),
      graft.mm.Multimodal.syntheticWav(1L, 65, 8000)))
    // One Hive partition per modality with a survivor.
    val parts = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(parts == Set("modality=image", "modality=audio", "modality=video"))
  }

  test("materializeChunkDedupedCorpus excises duplicated chunk blocks, keeps the rest verbatim") {
    import spark.implicits._
    // doc 0: 90 distinct tokens → chunks [0:50],[40:90] (stride 40).
    // doc 1: the SAME 90 tokens + a 50-token disjoint-vocab suffix →
    // its chunks 0 and 1 are byte-identical to doc 0's (identical
    // minhash ⇒ certain pairing), chunks 2/3 are novel. Component-min
    // selection keeps doc 0 (lower node id); doc 1 loses the owned
    // stride blocks [0,40) and [40,80) and is rebuilt from token 80 on.
    // doc 2 shares nothing and must come back verbatim.
    val shared = (0 until 90).map(i => s"tok$i")
    val suffix = (0 until 50).map(i => s"pasta$i")
    val other = (0 until 70).map(i => s"cook$i")
    val docs = Seq(
      (0L, shared.mkString(" "), "srcA"),
      (1L, (shared ++ suffix).mkString(" "), "srcB"),
      (2L, other.mkString(" "), "srcB"))
      .map { case (id, tx, src) => (id, tx, "en", src, tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tmpDir("chunk-sink")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = tmpDir("chunk-sink-out") + "/deduped"
    val n = Sinks.materializeChunkDedupedCorpus(graft.Tables(spark, dir), out)
    assert(n == 3L, "every doc survives at doc granularity — only chunks excise")
    val back = spark.read.parquet(out)
      .select("doc_id", "text", "n_tokens").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(back(0L)._1 == shared.mkString(" "), "survivor doc untouched")
    assert(back(2L)._1 == other.mkString(" "), "unrelated doc untouched")
    assert(back(1L)._1 == (shared.drop(80) ++ suffix).mkString(" "),
      "dup doc rebuilt from its first non-excised owned block")
    assert(back(1L)._2 == 60L)
    // Partitioned layout holds for this sink too.
    val parts = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(parts == Set("source=srcA", "source=srcB"))
  }
}
