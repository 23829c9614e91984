package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Sinks (SURVEY.md §2.1): parquet with pinned nullability, append
  * table, and the reference's hash-randomized snapshot layout.
  */
object Sinks {

  /** Re-apply exact nullability flags to a frame. Spark normalizes
    * nullability through plans, but the reference's warehouse contract
    * requires exact flags (`has_nulls=['disclaimer','chart_name']`,
    * bpi_etl_bigquery.py:240-242 — BigQuery load fails on mismatch, see
    * the comment at :238-239). Columns must match the target schema by
    * name, order and type.
    *
    * Pinning happens at PLAN level (no RDD round-trip, so whole-stage
    * codegen and the columnar scan path survive — this runs per
    * micro-batch in the streaming ingest): required columns are wrapped
    * in `AssertNotNull`, which is statically non-nullable AND fails the
    * job on a runtime NULL (the BigQuery-rejects-bad-load semantic),
    * then `df.to(schema)` reconciles the remaining flags (it can only
    * widen nullability, which is why the required side needs the
    * assert). */
  def withPinnedSchema(df: DataFrame, schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(
      df.schema.map(f => (f.name, f.dataType)) ==
        schema.map(f => (f.name, f.dataType)),
      s"schema mismatch: ${df.schema.simpleString} vs ${schema.simpleString}")
    val pinned = df.select(schema.map { f =>
      val c = col(f.name)
      if (f.nullable) c
      else org.apache.spark.sql.graft.ColumnOps
        .assertNotNull(c, Seq(s"required column ${f.name}")).as(f.name)
    }: _*)
    pinned.to(schema)
  }

  /** Parquet write with pinned nullability. Spark's parquet writer marks
    * every field optional for ecosystem compatibility, so the contract
    * is enforced where it matters: a NULL in a required column fails the
    * write (AssertNotNull in [[withPinnedSchema]] — the engine-side
    * analog of BigQuery rejecting a bad load, bpi_etl_bigquery
    * .py:238-239), and the read-back re-applies the pinned flags. */
  def pinnedParquet(df: DataFrame, schema: StructType, path: String): DataFrame = {
    withPinnedSchema(df, schema).write.mode("overwrite").parquet(path)
    // File reads force every field nullable (Spark's file-source rule);
    // re-pin so the returned frame carries the warehouse contract.
    withPinnedSchema(df.sparkSession.read.schema(schema).parquet(path), schema)
  }

  /** Append to a warehouse table directory (WRITE_APPEND + blocking,
    * bpi_etl_bigquery.py:279-291 — Spark actions are synchronous, so
    * "blocking on the load job" is implicit). */
  def appendParquet(df: DataFrame, tableDir: String): Unit =
    df.write.mode("append").parquet(tableDir)

  /** Materialize the DEDUPED corpus — the near-dedup pipeline's write
    * path: survivors (component-min representative of every near-dup
    * cluster plus all unpaired docs, `dedup_survivors` values) joined
    * back to their full document payloads and written as a
    * source-partitioned parquet table, each row annotated with its
    * cluster_size provenance. The payload join is a semi-shaped key
    * join (survivors carry no text, so no payload ever enters the
    * dedup computation itself), and the write prunes per source like
    * every partitioned layout here. Returns the survivor row count.
    * At 100 TB this is the step that turns the (tiny) labels frame
    * into the training corpus the packer reads. */
  def materializeDedupedCorpus(t: graft.Tables, outDir: String): Long = {
    val survivors = graft.dedup.DedupQueries.survivorsFrame(t)
      .select("doc_id", "cluster_size")
    val deduped = t.documents
      .join(survivors, Seq("doc_id"))
    deduped.write.mode("overwrite").partitionBy("source").parquet(outDir)
    t.spark.read.parquet(outDir).count()
  }

  /** Materialize the CURATED corpus — the write path of the full
    * curation pipeline (`corpus_curation_pipeline`,
    * [[graft.text.CurationQueries]]): final survivors of the six-stage
    * chain joined back to their full document payloads and written as
    * a source-partitioned parquet table, each row carrying its
    * whitespace token count and (nullable) near-dup component as
    * provenance. The per-stage provenance lands alongside as
    * `outDir/_funnel` — the six reconciling (stage, n_in, n_out,
    * n_removed) rows, so a reader of the curated table can audit
    * exactly what each gate removed without replaying the chain.
    * Payloads enter only the final key join (flags/scores/verdicts
    * shuffle narrow projections, never document bytes). Returns the
    * survivor row count; asserts it equals the funnel's stage-6 n_out
    * (the table and its provenance cannot drift). */
  def materializeCuratedCorpus(
      spark: SparkSession, sfDir: String, outDir: String): Long = {
    import org.apache.spark.sql.functions.col
    import graft.ops.Checkpoints.CheckpointOps
    val fl = graft.text.CurationQueries.flagsFrame(spark, sfDir)
    val surv = graft.text.CurationQueries.survivorsFrame(spark, sfDir, fl)
      .cut(false) // read by the payload join AND the funnel count
    val curated = graft.Tables(spark, sfDir).documents
      .join(surv.select(col("doc_id"), col("tk"), col("component")),
        Seq("doc_id"))
    curated.write.mode("overwrite").partitionBy("source")
      .parquet(s"$outDir/docs")
    // Provenance off the SAME flags frame the survivors came from (the
    // flags frame is lineage-cut, so this replays no classifier/rank
    // subtree) — only the dup-graph stage-6 branch runs twice.
    graft.text.CurationQueries.funnelFrame(fl, surv)
      .write.mode("overwrite").parquet(s"$outDir/_funnel")
    val written = spark.read.parquet(s"$outDir/docs").count()
    val n6 = spark.read.parquet(s"$outDir/_funnel")
      .filter(col("stage") === "6_near_dedup")
      .select(col("n_out")).collect()(0).getLong(0)
    require(written == n6,
      s"curated table ($written rows) drifted from its funnel " +
        s"provenance (stage-6 n_out $n6)")
    written
  }

  /** Materialize the TRAINING SHARDS — the engine's final artifact
    * (the twin of the reference's LOAD into its serving store,
    * bpi_etl_bigquery.py:268-291): the packed training manifest
    * ([[graft.text.TrainingShardQueries]] — curated survivors through
    * the temperature-mixture gate, leakage-safe splits, BPE-billed
    * [[graft.text.PackSequences]] offsets) joined back to its full
    * document payloads and written SPLIT-partitioned (a trainer reads
    * exactly its split's directory), each row carrying its source,
    * token bill, and sequence span as provenance. The per-(source,
    * split) accounting — including the per-source curated baseline and
    * the applied keep rate — lands alongside as `outDir/_accounting`,
    * so a reader can audit the mixture against the curation funnel
    * without replaying the chain. Payloads enter only the final key
    * join. Returns the manifest row count; asserts it reconciles with
    * the accounting's doc total (the table and its provenance cannot
    * drift). */
  def materializeTrainingShards(
      spark: SparkSession, sfDir: String, outDir: String): Long = {
    import org.apache.spark.sql.functions.col
    val manifest = graft.text.TrainingShardQueries
      .manifestFrame(spark, sfDir)
    val shards = graft.Tables(spark, sfDir).documents
      .select(col("doc_id"), col("text"))
      .join(manifest, Seq("doc_id"))
    shards.write.mode("overwrite").partitionBy("split")
      .parquet(s"$outDir/shards")
    graft.SparkEntry.queries("training_shards_accounting")(spark, sfDir)
      .write.mode("overwrite").parquet(s"$outDir/_accounting")
    val written = spark.read.parquet(s"$outDir/shards").count()
    val billed = spark.read.parquet(s"$outDir/_accounting")
      .agg(org.apache.spark.sql.functions.sum(col("n_docs")))
      .collect()(0).getLong(0)
    require(written == billed,
      s"training shards ($written rows) drifted from their accounting " +
        s"provenance ($billed docs)")
    written
  }

  /** Materialize the DEDUPED MEDIA corpus — the multimodal twin of
    * [[materializeDedupedCorpus]], closing the candidates → components
    * → survivors pipeline for all three fingerprint modalities with
    * the training artifact itself: each modality's survivors
    * ([[graft.mm.MultimodalQueries.survivorsFrameFor]], the
    * `mm_*_survivors` values) joined back to their full BLOB payloads
    * and written as ONE modality-partitioned parquet table, each row
    * carrying its cluster_size provenance. Payloads enter only this
    * final key join — never the dedup computation (only band keys
    * shuffle there) — and the modality partitioning means a downstream
    * trainer reading one modality prunes the other two at the file
    * listing, same as every media query here. Returns the survivor
    * row count across modalities. */
  def materializeDedupedMediaCorpus(
      spark: SparkSession, sfDir: String, outDir: String): Long = {
    val deduped = Seq("image", "audio", "video")
      .map { m =>
        graft.mm.Multimodal.mediaItems(spark, sfDir, m).toDF()
          .join(graft.mm.MultimodalQueries.survivorsFrameFor(spark, sfDir, m),
            Seq("item_id"))
      }
      .reduce(_.unionByName(_))
    deduped.write.mode("overwrite").partitionBy("modality").parquet(outDir)
    spark.read.parquet(outDir).count()
  }

  /** Materialize the CHUNK-deduped corpus — the finest-grained write
    * path: every document is rebuilt with its excised chunks' token
    * blocks removed (chunk survivor selection =
    * [[graft.dedup.DedupQueries.chunkSurvivorLabels]], the
    * `dedup_chunk_survivors` decision). Ownership contract for
    * overlapping windows: chunk c owns the DISJOINT stride block
    * [c·stride, (c+1)·stride) of its doc's tokens, except the last
    * chunk, which owns through the end — so excising a set of chunks
    * removes exactly their owned blocks and the rebuilt text is
    * well-defined regardless of window overlap.
    *
    * Scale shape: the excised-chunk sets are candidate-sized; they
    * collapse to one small array per affected doc and join onto the
    * corpus as metadata (AQE broadcasts the measured-small side). The
    * rebuild itself is ROW-LOCAL — a higher-order filter/slice over the
    * doc's own tokens — so corpus bytes never shuffle; the only
    * full-corpus work is the scan and the partitioned write, the
    * irreducible cost of any materialization. Returns docs written. */
  def materializeChunkDedupedCorpus(t: graft.Tables, outDir: String): Long = {
    import org.apache.spark.sql.functions._
    import graft.text.TextQueries.{ChunkSize => CS, ChunkStride => ST}
    val cap = graft.dedup.DedupQueries.ChunkNodeCap
    val excisedSets = graft.dedup.DedupQueries.chunkSurvivorLabels(t)
      .filter(col("component") =!= col("node"))
      .select(expr(s"node div $cap").as("doc_id"),
        (col("node") % cap).as("chunk_id"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("chunk_id")).as("exc"))
    val n = size(col("toks"))
    val nch = ((greatest(n - CS, lit(0)) + (ST - 1)).divide(ST).cast("int") + 1)
      .cast("long")
    val rebuilt = t.documents
      .select(col("doc_id"), col("source"), col("lang"),
        split(col("text"), " ").as("toks"))
      .join(excisedSets, Seq("doc_id"), "left")
      .withColumn("kept_toks", flatten(transform(
        sequence(lit(0L), nch - 1),
        c => when(array_contains(coalesce(col("exc"),
            array().cast("array<bigint>")), c),
          array().cast("array<string>"))
          .otherwise(slice(col("toks"), (c * ST + 1).cast("int"),
            when(c === nch - 1, size(col("toks")) - (c * ST).cast("int"))
              .otherwise(lit(ST)))))))
      .select(col("doc_id"), col("source"), col("lang"),
        concat_ws(" ", col("kept_toks")).as("text"),
        size(col("kept_toks")).cast("long").as("n_tokens"))
    rebuilt.write.mode("overwrite").partitionBy("source").parquet(outDir)
    t.spark.read.parquet(outDir).count()
  }

  /** Overlap-aware variant of [[materializeChunkDedupedCorpus]]: a
    * token survives if ANY window covering it survives, instead of
    * dying with its owner's stride block. The owned-block contract is
    * aggressive at stride boundaries — chunk c's block
    * [c·ST, (c+1)·ST) includes tokens that surviving window c−1 also
    * covers (its reach extends CS−ST tokens into the block), and the
    * block rule drops them anyway. This variant keeps exactly the
    * tokens with a surviving covering window: less is excised, no
    * surviving window loses content it matched on. Same shape as the
    * block rule — excised sets join as metadata arrays, the rebuild
    * is ROW-LOCAL (each token tests its ≤ ⌈CS/ST⌉ covering windows
    * against the excised array) — corpus bytes never shuffle. */
  def materializeChunkDedupedCorpusOverlapAware(
      t: graft.Tables, outDir: String): Long = {
    import org.apache.spark.sql.functions._
    import graft.text.TextQueries.{ChunkSize => CS, ChunkStride => ST}
    val cap = graft.dedup.DedupQueries.ChunkNodeCap
    val excisedSets = graft.dedup.DedupQueries.chunkSurvivorLabels(t)
      .filter(col("component") =!= col("node"))
      .select(expr(s"node div $cap").as("doc_id"),
        (col("node") % cap).as("chunk_id"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("chunk_id")).as("exc"))
    val n = size(col("toks"))
    val nch = ((greatest(n - CS, lit(0)) + (ST - 1)).divide(ST).cast("int") + 1)
      .cast("long")
    val rebuilt = t.documents
      .select(col("doc_id"), col("source"), col("lang"),
        split(col("text"), " ").as("toks"))
      .join(excisedSets, Seq("doc_id"), "left")
      .withColumn("exc2", coalesce(col("exc"), array().cast("array<bigint>")))
      .withColumn("kept_toks", {
        val withIdx = transform(col("toks"),
          (tk, i) => struct(tk.as("tk"), i.cast("long").as("i")))
        val kept = filter(withIdx, s => {
          val i = s.getField("i")
          // Windows covering token i: c with c·ST ≤ i < c·ST+CS,
          // clamped to [0, nch); the LAST window's reach extends to the
          // end of the doc, which the cLow ≤ cHigh clamp encodes (a
          // tail token's only covering window is nch−1).
          val cHigh = least(floor(i.cast("double") / ST).cast("long"),
            nch - 1)
          val cLow = least(
            greatest(floor((i.cast("double") - CS) / ST).cast("long") + 1,
              lit(0L)),
            cHigh)
          exists(sequence(cLow, cHigh),
            c => !array_contains(col("exc2"), c))
        })
        transform(kept, s => s.getField("tk"))
      })
      .select(col("doc_id"), col("source"), col("lang"),
        concat_ws(" ", col("kept_toks")).as("text"),
        size(col("kept_toks")).cast("long").as("n_tokens"))
    rebuilt.write.mode("overwrite").partitionBy("source").parquet(outDir)
    t.spark.read.parquet(outDir).count()
  }

  /** Time-partitioned warehouse layout (SURVEY.md §1.1: the hourly
    * append table "at scale, a time-partitioned table"): one directory
    * per partition value, so date-ranged queries prune at the file
    * listing — the engine-side analog of the slides' BigQuery
    * partitioning advice. */
  def appendPartitioned(df: DataFrame, tableDir: String, partitionCol: String): Unit =
    df.write.mode("append").partitionBy(partitionCol).parquet(tableDir)

  /** Partition-level overwrite — the idempotent reprocessing mode
    * between blind append (duplicates on retry) and whole-table
    * overwrite (data loss): ONLY the partitions present in `df` are
    * replaced, every other partition's files are untouched (dynamic
    * partitionOverwriteMode, passed as a per-write option so the
    * session default stays static). This is how a 100 TB warehouse
    * takes late data: a backfill recomputes the affected dates and
    * swaps exactly those directories — re-running the same backfill
    * converges instead of duplicating, which `appendPartitioned`
    * cannot promise. */
  def overwritePartitions(
      df: DataFrame, tableDir: String, partitionCol: String): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(tableDir)

  /** `<md5(content)[0:6]>-<yyyy-MM-dd-HH-mm-ss>` — create_random_dt_prefix
    * (bpi_etl_bigquery.py:8-23): md5 over the snapshot *content* spreads
    * object-store keys across the keyspace so request autoscaling never
    * hot-spots one prefix — exactly the trick that matters at 100 TB of
    * raw snapshots. */
  def snapshotPrefix(content: Array[Byte], ts: java.time.Instant): String = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(content).map("%02x".format(_)).mkString.substring(0, 6)
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd-HH-mm-ss").withZone(java.time.ZoneOffset.UTC)
    s"$md5-${fmt.format(ts)}"
  }

  /** Raw snapshot under `data/raw/<prefix>/<file>` (bpi_etl_bigquery
    * .py:73-77): persists the exact payload for replay/debug. Writes
    * through the path's Hadoop FileSystem, so `baseDir` can be a local
    * dir, hdfs://, or an object-store URI — matching the reference's
    * GCS snapshot target (`bpi_etl_bigquery.py:80-84`). */
  def snapshotRaw(
      spark: SparkSession, content: String, baseDir: String,
      fileName: String, ts: java.time.Instant): String = {
    val dir = new org.apache.hadoop.fs.Path(
      s"$baseDir/data/raw/${snapshotPrefix(content.getBytes("UTF-8"), ts)}")
    // Local paths resolve to ChecksumFileSystem, which would add a
    // hidden .<file>.crc sidecar per snapshot — use the raw layer so a
    // snapshot dir holds exactly the payload, as before the FS port.
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf()) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }
    fs.mkdirs(dir)
    val dest = new org.apache.hadoop.fs.Path(dir, fileName)
    val out = fs.create(dest, true)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
    // Contract: schemeless (local) bases keep returning an ABSOLUTE
    // plain path, as before the FileSystem port; URI bases return the
    // URI form.
    if (dest.toUri.getScheme == null)
      new java.io.File(dest.toString).getAbsolutePath
    else dest.toString
  }
}
