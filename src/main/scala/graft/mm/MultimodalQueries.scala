package graft.mm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.ops.Checkpoints.CheckpointOps
import graft.util.Det
import graft.{Q, Tables}

/** Multimodal-column operators (north-star extensions): treat non-text
  * modalities as opaque binary + typed metadata. The IMAGE decode is
  * real JDK ImageIO (see [[Multimodal.decodeImage]] and the
  * `mm_image_decode` query below, whose oracle recomputes the expected
  * pixel statistics from the fixture's generative formula — so a codec
  * bug, not just a plumbing bug, breaks the hash match). Audio decode
  * is real JDK javax.sound ([[Multimodal.decodeAudio]]) with the same
  * oracle construction (`mm_audio_decode`): the oracle never sees a
  * WAV byte, it recomputes the PCM statistics from the generative
  * sample formula, so the hash match proves the encode→decode
  * container roundtrip.
  *
  * Scale posture: all ops are narrow per-row transforms plus one
  * low-cardinality groupBy — no shuffle beyond the final small
  * aggregates, and binary payloads never leave the executor (only scalar
  * metadata is aggregated or sorted).
  */
object MultimodalQueries {

  /** Modality dispatch: parse the typed metadata out of the events
    * `props` JSON document and route rows by modality, aggregating per
    * modality (the "which decoder do I send this batch to" step). */
  private val mmModalityDispatch = Q(
    "mm_modality_dispatch",
    s"""SELECT CASE CAST(json_extract_string(props, '$$.k') AS INTEGER) % 3
       |            WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'text' END AS modality,
       |       count(*) AS n_items,
       |       ${Det.sqlDsum("value")} AS sum_value,
       |       CAST(min(CAST(json_extract_string(props, '$$.k') AS INTEGER)) AS INTEGER) AS min_k,
       |       CAST(max(CAST(json_extract_string(props, '$$.k') AS INTEGER)) AS INTEGER) AS max_k
       |FROM events
       |GROUP BY 1
       |ORDER BY modality""".stripMargin) { (s, dir) =>
    val k = from_json(col("props"), StructType.fromDDL("k INT")).getField("k")
    Tables(s, dir).events
      .select(
        when(k % 3 === 0, "image")
          .when(k % 3 === 1, "audio")
          .otherwise("text").as("modality"),
        col("value"), k.as("k"))
      .groupBy(col("modality"))
      .agg(
        count(lit(1)).as("n_items"),
        Det.dsum(col("value")).as("sum_value"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("modality")
  }

  /** Fake image "decode": a deterministic binary payload (md5 bytes of
    * the text — stands in for real image bytes) flows through real
    * binary-column plumbing: byte length, content hash of the *binary*,
    * and header fields parsed from the leading bytes. */
  private val mmBinaryMeta = Q(
    "mm_binary_meta",
    """SELECT doc_id,
      |       CAST(octet_length(from_hex(md5(text))) AS BIGINT) AS n_bytes,
      |       md5(md5(text)) AS blob_hash,
      |       CAST(CAST('0x' || substr(md5(text), 1, 4) AS UINTEGER) % 1920 AS BIGINT) AS width,
      |       CAST(CAST('0x' || substr(md5(text), 5, 4) AS UINTEGER) % 1080 AS BIGINT) AS height
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val blob = unhex(md5(col("text")))
    Tables(s, dir).documents
      .select(
        col("doc_id"),
        length(blob).cast("long").as("n_bytes"),
        // DuckDB 1.0 md5() only takes VARCHAR, so the content hash is
        // over the hex form on both engines (bytes themselves exercised
        // by n_bytes via the real BLOB).
        md5(md5(col("text"))).as("blob_hash"),
        (conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long") % 1920)
          .as("width"),
        (conv(substring(md5(col("text")), 5, 4), 16, 10).cast("long") % 1080)
          .as("height"))
      .orderBy("doc_id")
  }

  /** Frame sampling: treat the 64-dim embedding as a 64-frame signal and
    * sample every 8th frame (stride slicing on an array column — the
    * same shape as sampling video frames out of a decoded buffer),
    * reducing each sample to scalar features with explicit left folds. */
  private val mmFrameSample = Q(
    "mm_frame_sample",
    """SELECT vec_id, label,
      |       list_max(list_transform(range(1, 9), i -> CAST(embedding[(i-1)*8 + 1] AS DOUBLE))) AS frame_max,
      |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |           list_transform(range(1, 9), i -> CAST(embedding[(i-1)*8 + 1] AS DOUBLE))),
      |         (acc, x) -> acc + x) / 8.0 AS frame_avg
      |FROM embeddings
      |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val frames: Column =
      transform(sequence(lit(0), lit(7)),
        i => get(col("embedding"), i * 8).cast("double"))
    Tables(s, dir).embeddings
      .select(
        col("vec_id"), col("label"),
        array_max(frames).as("frame_max"),
        (aggregate(frames, lit(0.0), (acc, x) => acc + x) / lit(8.0))
          .as("frame_avg"))
      .orderBy("vec_id")
  }

  /** Real image decode as a declared, oracle-checked query. Spark
    * synthesizes a true PNG per image item ([[Multimodal.syntheticPng]]:
    * gray pixel v = (7x + 13y + seed) mod 256), then decodes the BYTES
    * with the JDK ImageIO codec and reduces to pixel statistics. The
    * DuckDB oracle never sees the PNG — it recomputes the same
    * statistics from the generative formula over a range() pixel grid.
    * The hash match therefore proves the encode→decode roundtrip is
    * pixel-exact (PNG is lossless), not merely that two copies of one
    * formula agree. Narrow: one per-row kernel, no shuffle; the
    * histogram travels as a canonical comma-joined string because the
    * driver's hash compare is defined over scalar columns. */
  private val mmImageDecode = Q(
    "mm_image_decode",
    """WITH d AS (
      |  SELECT doc_id AS item_id,
      |         CAST(4 + doc_id % 29 AS INTEGER) AS width,
      |         CAST(4 + doc_id % 17 AS INTEGER) AS height,
      |         doc_id % 251 AS seed
      |  FROM documents WHERE doc_id % 3 = 0
      |), px AS (
      |  SELECT item_id, (x*7 + y*13 + seed) % 256 AS v
      |  FROM d, range(0, 32) tx(x), range(0, 20) ty(y)
      |  WHERE x < width AND y < height
      |), stats AS (
      |  SELECT item_id, CAST(sum(v) AS DOUBLE) / count(*) AS mean_intensity
      |  FROM px GROUP BY item_id
      |), bins AS (
      |  SELECT item_id, CAST(v // 16 AS INTEGER) AS bin, count(*) AS c
      |  FROM px GROUP BY 1, 2
      |), fullbins AS (
      |  SELECT d.item_id, rb.bin, coalesce(b.c, 0) AS c
      |  FROM d CROSS JOIN range(0, 16) rb(bin)
      |  LEFT JOIN bins b ON b.item_id = d.item_id AND b.bin = rb.bin
      |), hist AS (
      |  SELECT item_id, string_agg(CAST(c AS VARCHAR), ',' ORDER BY bin) AS hist
      |  FROM fullbins GROUP BY item_id
      |)
      |SELECT d.item_id, d.width, d.height, CAST(3 AS INTEGER) AS channels,
      |       s.mean_intensity, h.hist
      |FROM d JOIN stats s USING (item_id) JOIN hist h USING (item_id)
      |ORDER BY item_id""".stripMargin) { (s, dir) =>
    val feats = Multimodal.decodeImages(Multimodal.mediaItems(s, dir, "image"))
    feats.toDF()
      .select(
        col("item_id"), col("width"), col("height"), col("channels"),
        col("mean_intensity"),
        array_join(transform(col("histogram"), _.cast("string")), ",")
          .as("hist"))
      .orderBy("item_id")
  }

  /** Real audio decode as a declared, oracle-checked query — the WAV
    * twin of [[mmImageDecode]]. Spark synthesizes a true RIFF/WAVE
    * payload per audio item through the JDK *encoder*
    * ([[Multimodal.syntheticWav]]: 16-bit PCM sample
    * v(i) = ((2731·i + 17·seed) mod 65536) − 32768), decodes the BYTES
    * back with the JDK AudioSystem codec, and reduces the frames to
    * exact integer statistics. The DuckDB oracle recomputes those
    * statistics from the generative formula over an unnested range —
    * it never parses a WAV — so a container-header or endianness bug
    * anywhere in the roundtrip breaks the match. Narrow: one per-row
    * kernel, payloads never shuffle, 7 scalars per item emerge. */
  private val mmAudioDecode = Q(
    "mm_audio_decode",
    """WITH d AS (
      |  SELECT doc_id AS item_id,
      |         CAST(8000 + ((doc_id % 9) // 3) * 4000 AS INTEGER) AS sample_rate,
      |         64 + doc_id % 97 AS n,
      |         doc_id % 251 AS seed
      |  FROM documents WHERE doc_id % 3 = 1
      |), s0 AS (
      |  SELECT item_id, seed, unnest(range(0, n)) AS i FROM d
      |), smp AS (
      |  SELECT item_id, ((i * 2731 + seed * 17) % 65536) - 32768 AS v FROM s0
      |), st AS (
      |  SELECT item_id, max(abs(v)) AS peak, sum(abs(v)) AS sum_abs, sum(v * v) AS energy
      |  FROM smp GROUP BY item_id
      |)
      |SELECT d.item_id, d.sample_rate, CAST(1 AS INTEGER) AS channels,
      |       CAST(d.n AS BIGINT) AS n_samples,
      |       CAST(st.peak AS BIGINT) AS peak,
      |       CAST(st.sum_abs AS BIGINT) AS sum_abs,
      |       CAST(st.energy AS BIGINT) AS energy
      |FROM d JOIN st USING (item_id)
      |ORDER BY item_id""".stripMargin) { (s, dir) =>
    Multimodal.decodeAudios(Multimodal.mediaItems(s, dir, "audio"))
      .toDF()
      .select("item_id", "sample_rate", "channels", "n_samples",
        "peak", "sum_abs", "energy")
      .orderBy("item_id")
  }

  /** Real video frame sampling as a declared, oracle-checked query —
    * the multi-frame twin of [[mmImageDecode]]/[[mmAudioDecode]].
    * Spark synthesizes a true animated-GIF container per video item
    * ([[Multimodal.syntheticGif]]: frame f has gray pixel
    * v = (7x + 13y + seed + 11f) mod 256), parses it back with the JDK
    * GIF reader, pixel-decodes every 4th frame ONLY (sampling means
    * the skipped frames are never decoded), and reduces each sampled
    * frame to an integer luma sum. The oracle recomputes the per-frame
    * statistics from the generative formula over range() grids without
    * ever seeing a GIF byte — a hash match proves the multi-frame
    * container roundtrip, clearing the last byte-buffer stand-in in
    * the media family. Narrow one-to-many: payloads never shuffle,
    * only per-frame stat rows emerge. */
  private val mmVideoFrames = Q(
    "mm_video_frames",
    """WITH d AS (
      |  SELECT doc_id AS item_id,
      |         CAST(4 + doc_id % 13 AS INTEGER) AS width,
      |         CAST(4 + doc_id % 11 AS INTEGER) AS height,
      |         4 + doc_id % 9 AS nf,
      |         doc_id % 251 AS seed
      |  FROM documents WHERE doc_id % 3 = 2
      |), fr AS (
      |  SELECT item_id, width, height, seed, unnest(range(0, nf)) AS f FROM d
      |), px AS (
      |  SELECT item_id, f, width, height,
      |         (x * 7 + y * 13 + seed + 11 * f) % 256 AS v
      |  FROM fr, range(0, 16) tx(x), range(0, 14) ty(y)
      |  WHERE f % 4 = 0 AND x < width AND y < height
      |)
      |SELECT item_id, CAST(f AS INTEGER) AS frame_index, width, height,
      |       CAST(sum(v) AS BIGINT) AS sum_luma
      |FROM px GROUP BY item_id, f, width, height
      |ORDER BY item_id, frame_index""".stripMargin) { (s, dir) =>
    Multimodal.sampleVideos(Multimodal.mediaItems(s, dir, "video"),
      stride = 4)
      .toDF()
      .select("item_id", "frame_index", "width", "height", "sum_luma")
      .orderBy("item_id", "frame_index")
  }

  /** Degenerate-bucket bound for [[mmImageDedup]] — same policy (and
    * same value) as `DedupQueries.MaxBucketPairDocs`: all-pairs within
    * a band bucket up to the cap, star edges to the bucket head beyond,
    * so worst-case pair expansion is O(m) per bucket. */
  // `final` with a literal = a compile-time constant: object vals
  // initialize in declaration order, and a non-constant cap read by an
  // eagerly-built SQL string ABOVE its declaration silently
  // interpolates 0 (caught by the survivors oracle as an 8-row drift).
  private final val MaxBucketPairItems = 64

  /** CTE chain recomputing the 8×8 block-average perceptual hash from
    * the fixture's generative pixel formula, ending in
    * `allbands(item_id, band, key)` — the DuckDB twin of
    * [[Multimodal.imageAHash]]. Block bit = block mean luma > image
    * mean luma, compared by integer cross-multiplication (no division,
    * no floats — exact on both engines); grid blocks left empty by
    * sub-8px dimensions hash to 0 via the `coalesce` backfill. */
  private def sqlBandsCte: String =
    """WITH d AS (
      |  SELECT doc_id AS item_id,
      |         CAST(4 + doc_id % 29 AS INTEGER) AS width,
      |         CAST(4 + doc_id % 17 AS INTEGER) AS height,
      |         doc_id % 251 AS seed
      |  FROM documents WHERE doc_id % 3 = 0
      |), px AS (
      |  SELECT item_id, width, height,
      |         (x*8) // width AS bi, (y*8) // height AS bj,
      |         (x*7 + y*13 + seed) % 256 AS v
      |  FROM d, range(0, 32) tx(x), range(0, 20) ty(y)
      |  WHERE x < width AND y < height
      |), tot AS (
      |  SELECT item_id, sum(v) AS tsum, count(*) AS tcnt FROM px GROUP BY item_id
      |), blk AS (
      |  SELECT item_id, bi, bj, sum(v) AS bsum, count(*) AS bcnt
      |  FROM px GROUP BY item_id, bi, bj
      |), bits AS (
      |  SELECT b.item_id, b.bi, b.bj,
      |         CASE WHEN b.bsum * t.tcnt > t.tsum * b.bcnt THEN 1 ELSE 0 END AS bit
      |  FROM blk b JOIN tot t USING (item_id)
      |), bands AS (
      |  SELECT item_id, bj AS band, CAST(sum(bit * (1 << bi)) AS BIGINT) AS key
      |  FROM bits GROUP BY item_id, bj
      |), allbands AS (
      |  SELECT d.item_id, CAST(r.band AS INTEGER) AS band, coalesce(b.key, 0) AS key
      |  FROM d CROSS JOIN range(0, 8) r(band)
      |  LEFT JOIN bands b ON b.item_id = d.item_id AND b.band = r.band
      |)""".stripMargin

  /** Perceptual hash per image, over the REAL decode path: Spark
    * synthesizes true PNGs, decodes them with JDK ImageIO, and block-
    * averages the decoded pixels into an aHash ([[Multimodal
    * .imageAHash]]); the oracle recomputes the hash from the generative
    * formula without ever seeing a PNG — so the hash match proves the
    * codec roundtrip AND the integer hashing, end to end. Narrow: one
    * per-row kernel, payloads never shuffle, 8 longs per item emerge. */
  private val mmImagePhash = Q(
    "mm_image_phash",
    s"""$sqlBandsCte
       |SELECT item_id,
       |       string_agg(printf('%02x', key), '' ORDER BY band) AS phash
       |FROM allbands GROUP BY item_id ORDER BY item_id""".stripMargin) {
    (s, dir) =>
    Multimodal.imageAHashes(Multimodal.mediaItems(s, dir, "image"))
      .toDF()
      .select(
        col("item_id"),
        array_join(transform(col("bands"),
          b => format_string("%02x", b)), "").as("phash"))
      .orderBy("item_id")
  }

  /** Near-duplicate images by perceptual hash: pairs whose aHashes
    * differ by ≤ 2 of 64 bits, found WITHOUT an all-pairs scan via
    * byte-band bucketing (8 bands; by pigeonhole any pair at hamming
    * ≤ 7 shares at least one full band, so banding misses nothing at
    * this threshold). Same capped-bucket machinery as the simhash/LSH
    * dedup families: all-pairs within a (band, key) bucket up to
    * [[MaxBucketPairItems]], star edges to the bucket head beyond,
    * both mirrored in the oracle. Collecting `(item_id, bands)` into
    * the bucket buffer is safe here — bands are 8 longs (64 B/item),
    * unlike the embedding payloads the near-dup family deliberately
    * keeps out of aggregation buffers. At 100 TB: decode+hash is
    * narrow, the pairing shuffles 8 band rows × ~72 B per image —
    * pair discovery over a billion images moves ~0.5 TB, not the
    * images. */
  /** CTE chain ending in `pairs(item_a, item_b, hamming)` — the
    * hamming ≤ 2 image near-dup graph, shared by the pair query and
    * the component labeling over it. */
  private def sqlImagePairsCte: String = {
    def ham(a: String, b: String) =
      "CAST(" + (1 to 8).map(i => s"bit_count(xor($a[$i], $b[$i]))")
        .mkString(" + ") + " AS BIGINT)"
    s"""$sqlBandsCte, h AS (
         |  SELECT item_id, list(key ORDER BY band) AS ks
         |  FROM allbands GROUP BY item_id
         |), ranked AS (
         |  SELECT a.item_id, h.ks, a.band, a.key,
         |         row_number() OVER (PARTITION BY a.band, a.key ORDER BY a.item_id) AS rk,
         |         count(*) OVER (PARTITION BY a.band, a.key) AS m,
         |         first_value(a.item_id) OVER (PARTITION BY a.band, a.key ORDER BY a.item_id) AS aitem,
         |         first_value(h.ks) OVER (PARTITION BY a.band, a.key ORDER BY a.item_id) AS aks
         |  FROM allbands a JOIN h USING (item_id)
         |), cand AS (
         |  SELECT DISTINCT item_a, item_b, hamming FROM (
         |    SELECT l.item_id AS item_a, r.item_id AS item_b,
         |           ${ham("l.ks", "r.ks")} AS hamming
         |    FROM ranked l JOIN ranked r
         |      ON l.band = r.band AND l.key = r.key AND l.item_id < r.item_id
         |    WHERE l.rk <= $MaxBucketPairItems AND r.rk <= $MaxBucketPairItems
         |    UNION ALL
         |    SELECT aitem, item_id, ${ham("aks", "ks")}
         |    FROM ranked WHERE m > 1 AND rk > $MaxBucketPairItems
         |  )
         |), pairs AS (
         |  SELECT item_a, item_b, hamming FROM cand WHERE hamming <= 2
         |)""".stripMargin
  }

  /** The Spark twin of [[sqlImagePairsCte]]: the hamming ≤ 2 pair
    * frame (un-ordered — callers sort or label it). */
  private def imagePairs(s: org.apache.spark.sql.SparkSession, dir: String) =
    bandedHammingPairs(
      Multimodal.imageAHashes(Multimodal.mediaItems(s, dir, "image"))
        .toDF(),
      nBands = 8, maxHamming = 2)

  private val mmImageDedup = Q(
    "mm_image_dedup",
    s"""$sqlImagePairsCte
       |SELECT item_a, item_b, hamming FROM pairs
       |ORDER BY item_a, item_b""".stripMargin) { (s, dir) =>
    imagePairs(s, dir).orderBy("item_a", "item_b")
  }

  /** Connected components over the image near-dup graph — the image
    * twin of `dedup_components`, closing the image pipeline
    * candidates → components exactly like the doc family: the SAME
    * min-label propagation engine ([[graft.dedup.DedupQueries
    * .componentLabelsOf]]) runs over the hamming ≤ 2 pair frame (the
    * capped-bucket star edges keep over-cap clusters connected, so
    * labeling sees whole components). Oracle: recursive transitive
    * closure over the shared pairs CTE. */
  private val mmImageComponents = Q(
    "mm_image_components",
    s"""WITH RECURSIVE ${sqlImagePairsCte.stripPrefix("WITH ")}, nodes AS (
       |  SELECT DISTINCT item_id FROM (
       |    SELECT item_a AS item_id FROM pairs
       |    UNION ALL SELECT item_b FROM pairs)
       |), edges AS (
       |  SELECT item_a AS a, item_b AS b FROM pairs
       |  UNION SELECT item_b, item_a FROM pairs
       |), reach(s, t) AS (
       |  SELECT item_id, item_id FROM nodes
       |  UNION SELECT a, b FROM edges
       |  UNION SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a
       |)
       |SELECT s AS item_id, min(t) AS component
       |FROM reach GROUP BY s ORDER BY item_id""".stripMargin) { (s, dir) =>
    graft.dedup.DedupQueries.componentLabelsOf(
      imagePairs(s, dir)
        .select(col("item_a").as("doc_a"), col("item_b").as("doc_b")))
      .select(col("doc_id").as("item_id"), col("component"))
      .orderBy("item_id")
  }

  /** Image survivor selection — the image family now runs the FULL
    * dedup pipeline candidates → components → deduped corpus, exactly
    * like documents (`dedup_survivors`): keep the component-min item
    * of every near-dup cluster plus all unpaired items, each with its
    * cluster size. The labels/sizes frame is dup-rate × corpus, so the
    * join back onto the item universe is size-gated
    * ([[graft.ops.ScaleGates.annotateWithLabels]]): broadcast below
    * the row gate, shuffled on item_id above it. */
  private val mmImageSurvivors = Q(
    "mm_image_survivors",
    s"""WITH RECURSIVE ${sqlImagePairsCte.stripPrefix("WITH ")}, nodes AS (
       |  SELECT DISTINCT item_id FROM (
       |    SELECT item_a AS item_id FROM pairs
       |    UNION ALL SELECT item_b FROM pairs)
       |), gedges AS (
       |  SELECT item_a AS a, item_b AS b FROM pairs
       |  UNION SELECT item_b, item_a FROM pairs
       |), reach(s, t) AS (
       |  SELECT item_id, item_id FROM nodes
       |  UNION SELECT a, b FROM gedges
       |  UNION SELECT r.s, e.b FROM reach r JOIN gedges e ON r.t = e.a
       |), comp AS (
       |  SELECT s AS item_id, min(t) AS component FROM reach GROUP BY s
       |), sizes AS (
       |  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM comp GROUP BY component
       |)
       |SELECT d.doc_id AS item_id,
       |       CAST(coalesce(z.cluster_size, 1) AS BIGINT) AS cluster_size
       |FROM documents d
       |LEFT JOIN comp c ON d.doc_id = c.item_id
       |LEFT JOIN sizes z ON z.component = c.component
       |WHERE d.doc_id % 3 = 0
       |  AND (c.item_id IS NULL OR c.component = d.doc_id)
       |ORDER BY item_id""".stripMargin) { (s, dir) =>
    survivorsFrameFor(s, dir, "image").orderBy("item_id")
  }


  /** Audio zero-crossing rate as a declared, oracle-checked query —
    * extends the audio family past container stats into the feature a
    * speech/music triage pipeline actually gates on. Spark decodes the
    * REAL WAV payload ([[Multimodal.audioZcr]]) and counts strict sign
    * changes between adjacent samples — an exact integer — while the
    * oracle recomputes the count from the generative sample formula
    * via a lag window over an unnested range, never parsing a WAV.
    * Narrow per-row kernel; payloads never shuffle. */
  private val mmAudioZcr = Q(
    "mm_audio_zcr",
    """WITH d AS (
      |  SELECT doc_id AS item_id, 64 + doc_id % 97 AS n, doc_id % 251 AS seed
      |  FROM documents WHERE doc_id % 3 = 1
      |), s0 AS (
      |  SELECT item_id, seed, unnest(range(0, n)) AS i FROM d
      |), smp AS (
      |  SELECT item_id, i, ((i * 2731 + seed * 17) % 65536) - 32768 AS v FROM s0
      |), lagd AS (
      |  SELECT item_id, v,
      |         lag(v) OVER (PARTITION BY item_id ORDER BY i) AS pv
      |  FROM smp
      |), c AS (
      |  SELECT item_id,
      |         sum(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS crossings
      |  FROM lagd GROUP BY item_id
      |)
      |SELECT d.item_id, CAST(d.n AS BIGINT) AS n_samples,
      |       CAST(coalesce(c.crossings, 0) AS BIGINT) AS crossings
      |FROM d LEFT JOIN c USING (item_id)
      |ORDER BY item_id""".stripMargin) { (s, dir) =>
    Multimodal.audioZcrs(Multimodal.mediaItems(s, dir, "audio"))
      .toDF()
      .select("item_id", "n_samples", "crossings")
      .orderBy("item_id")
  }

  /** Shot-boundary detection as a declared, oracle-checked query — the
    * adjacent-frame differencing pass a video curation pipeline runs to
    * pick keyframes. Spark decodes EVERY frame of the real GIF
    * container ([[Multimodal.videoSceneCuts]] — diffing needs both
    * neighbors, so no stride skip), reduces each to Σ|luma − prev_luma|
    * (exact integer), and flags frames whose mean diff exceeds
    * [[Multimodal.SceneCutMeanDiff]] luma units/pixel by pure integer
    * comparison. The oracle recomputes diff and decision from the
    * generative pixel formula over range() grids — a hash match proves
    * the whole decode→diff→threshold path. Narrow one-to-many;
    * payloads never shuffle. */
  private val mmVideoSceneCuts = Q(
    "mm_video_scene_cuts",
    s"""WITH d AS (
       |  SELECT doc_id AS item_id,
       |         CAST(4 + doc_id % 13 AS INTEGER) AS width,
       |         CAST(4 + doc_id % 11 AS INTEGER) AS height,
       |         4 + doc_id % 9 AS nf,
       |         doc_id % 251 AS seed
       |  FROM documents WHERE doc_id % 3 = 2
       |), fr AS (
       |  SELECT item_id, width, height, seed, unnest(range(1, nf)) AS f FROM d
       |), px AS (
       |  SELECT item_id, f, width, height,
       |         abs((x * 7 + y * 13 + seed + 11 * f) % 256
       |           - (x * 7 + y * 13 + seed + 11 * (f - 1)) % 256) AS dv
       |  FROM fr, range(0, 16) tx(x), range(0, 14) ty(y)
       |  WHERE x < width AND y < height
       |), agg AS (
       |  SELECT item_id, f, width, height, sum(dv) AS diff_sum
       |  FROM px GROUP BY item_id, f, width, height
       |)
       |SELECT item_id, CAST(f AS INTEGER) AS frame_index, width, height,
       |       CAST(diff_sum AS BIGINT) AS diff_sum,
       |       CAST(CASE WHEN diff_sum > ${Multimodal.SceneCutMeanDiff} * width * height
       |            THEN 1 ELSE 0 END AS INTEGER) AS is_cut
       |FROM agg ORDER BY item_id, frame_index""".stripMargin) { (s, dir) =>
    Multimodal.videoSceneCutsOf(Multimodal.mediaItems(s, dir, "video"))
      .toDF()
      .select("item_id", "frame_index", "width", "height", "diff_sum",
        "is_cut")
      .orderBy("item_id", "frame_index")
  }

  /** Real image resize as a declared, oracle-checked query — the
    * preprocessing step every vision-training pipeline runs before
    * feature extraction. Spark reads stored PNG payloads, resamples
    * each oversized image onto a max-side-8 canvas with
    * [[Multimodal.resizeImageNN]]'s pure-integer nearest-neighbor
    * mapping, re-encodes PNG, decodes THAT payload back with ImageIO,
    * and reduces to exact integers. The DuckDB oracle recomputes the
    * resized pixels from the generative source formula composed with
    * the same integer coordinate map — it never touches a PNG — so the
    * match proves resample + encode + decode are pixel- AND
    * position-exact (pos_sum weights each luma by its coordinate).
    * Narrow end to end: payloads never shuffle, 6 scalars per item
    * emerge. At 100 TB this is the shape that matters: resize is
    * payload-in/payload-out per partition, so it scales embarrassingly
    * with input splits. */
  private val mmImageResize = Q(
    "mm_image_resize",
    """WITH d AS (
      |  SELECT doc_id AS item_id,
      |         CAST(4 + doc_id % 29 AS BIGINT) AS sw,
      |         CAST(4 + doc_id % 17 AS BIGINT) AS sh,
      |         doc_id % 251 AS seed
      |  FROM documents WHERE doc_id % 3 = 0
      |), dims AS (
      |  SELECT item_id, seed, sw, sh,
      |    CASE WHEN sw <= 8 AND sh <= 8 THEN sw
      |         ELSE greatest(1, (sw * 8) // greatest(sw, sh)) END AS nw,
      |    CASE WHEN sw <= 8 AND sh <= 8 THEN sh
      |         ELSE greatest(1, (sh * 8) // greatest(sw, sh)) END AS nh
      |  FROM d
      |), px AS (
      |  SELECT item_id,
      |         (((x * sw) // nw) * 7 + ((y * sh) // nh) * 13 + seed) % 256 AS v,
      |         (1 + x + y * nw) AS wpos
      |  FROM dims, range(0, 8) tx(x), range(0, 8) ty(y)
      |  WHERE x < nw AND y < nh
      |)
      |SELECT dm.item_id, CAST(dm.nw AS INTEGER) AS width,
      |       CAST(dm.nh AS INTEGER) AS height,
      |       CAST(dm.nw * dm.nh AS BIGINT) AS n_pixels,
      |       CAST(sum(p.v) AS BIGINT) AS sum_luma,
      |       CAST(sum(p.v * p.wpos) AS BIGINT) AS pos_sum
      |FROM dims dm JOIN px p USING (item_id)
      |GROUP BY dm.item_id, dm.nw, dm.nh
      |ORDER BY dm.item_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    Multimodal.resizeImagesNN(Multimodal.mediaItems(s, dir, "image"), 8)
      .mapPartitions(it => it.map(Multimodal.resizedImageStats))
      .toDF()
      .select("item_id", "width", "height", "n_pixels", "sum_luma",
        "pos_sum")
      .orderBy("item_id")
  }

  /** CTE chain ending in `aallbands(item_id, band, key)` — the audio
    * energy fingerprint recomputed from the generative PCM formula
    * (the same construction the image family proves its PNG decode
    * with); see [[Multimodal.audioFingerprint]] for the semantics. */
  private def sqlAudioBandsCte: String =
    """WITH d AS (
      |  SELECT doc_id AS item_id, 64 + doc_id % 97 AS n, doc_id % 251 AS seed
      |  FROM documents WHERE doc_id % 3 = 1
      |), s0 AS (
      |  SELECT item_id, n, seed, unnest(range(0, n)) AS i FROM d
      |), smp AS (
      |  SELECT item_id, CAST(i * 16 // n AS BIGINT) AS w,
      |         abs(((i * 2731 + seed * 17) % 65536) - 32768) AS av
      |  FROM s0
      |), win AS (
      |  SELECT item_id, w, CAST(sum(av) AS BIGINT) AS sw
      |  FROM smp GROUP BY item_id, w
      |), tot AS (
      |  SELECT item_id, CAST(sum(sw) AS BIGINT) AS t FROM win GROUP BY item_id
      |), nib AS (
      |  SELECT item_id, w,
      |         CAST(least(15, (sw * 128) // (t + 1)) AS BIGINT) AS q
      |  FROM win JOIN tot USING (item_id)
      |), aallbands AS (
      |  SELECT item_id, CAST(w // 4 AS INTEGER) AS band,
      |         CAST(sum(q * (CASE CAST(w % 4 AS INTEGER)
      |                       WHEN 0 THEN 4096 WHEN 1 THEN 256
      |                       WHEN 2 THEN 16 ELSE 1 END)) AS BIGINT) AS key
      |  FROM nib GROUP BY item_id, w // 4
      |)""".stripMargin

  /** Audio fingerprint as a declared query: four 16-bit band keys
    * rendered as one 16-hex-digit string per item. A hash match
    * proves the real WAV decode → window energy → quantize path
    * byte-for-byte against the generative formula. */
  private val mmAudioFingerprint = Q(
    "mm_audio_fingerprint",
    s"""$sqlAudioBandsCte
       |SELECT item_id,
       |       string_agg(printf('%04x', key), '' ORDER BY band) AS fingerprint
       |FROM aallbands GROUP BY item_id ORDER BY item_id""".stripMargin) {
    (s, dir) =>
    Multimodal.audioFingerprints(Multimodal.mediaItems(s, dir, "audio"))
      .toDF()
      .select(
        col("item_id"),
        array_join(transform(col("bands"),
          b => format_string("%04x", b)), "").as("fingerprint"))
      .orderBy("item_id")
  }

  /** Hamming distance between two `nBands`-long band arrays. */
  private def hamming(nBands: Int): (Column, Column) => Column = (a, b) =>
    (0 until nBands)
      .map(i => bit_count(get(a, lit(i)).bitwiseXOR(get(b, lit(i)))).cast("long"))
      .reduce(_ + _)

  /** The banded hamming-pair machinery shared by every fingerprint
    * modality (images: 8×8-bit bands; audio/video: 4×16-bit bands):
    * bucket by (band, key), capped all-pairs + star edges beyond
    * [[MaxBucketPairItems]], keep hamming ≤ `maxHamming`. `hashes` is
    * (item_id, bands: Array[Long]); only band rows shuffle, never
    * payloads. */
  private def bandedHammingPairs(
      hashes: org.apache.spark.sql.DataFrame, nBands: Int,
      maxHamming: Int) = {
    import org.apache.spark.sql.expressions.Window
    val bandRows = mediaBandRows(hashes)
    val byBucket = Window.partitionBy(col("band"), col("key"))
    val ord = byBucket.orderBy(col("item_id"))
    val ranked = bandRows.select(
      col("item_id"), col("bands"), col("band"), col("key"),
      row_number().over(ord).as("rk"),
      count(lit(1)).over(byBucket).as("m"),
      first(col("item_id")).over(ord).as("aitem"),
      first(col("bands")).over(ord).as("abands"))
      .cut(false)
    val headPairs = ranked
      .filter(col("rk") <= MaxBucketPairItems)
      .groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(
        struct(col("item_id"), col("bands")))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(
        flatten(transform(col("ids"), (x, i) =>
          transform(slice(col("ids"), i + 2, size(col("ids"))),
            y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(
        col("p.a.item_id").as("item_a"), col("p.b.item_id").as("item_b"),
        hamming(nBands)(col("p.a.bands"), col("p.b.bands")).as("hamming"))
    val tailStarEdges = ranked
      .filter(col("m") > 1 && col("rk") > MaxBucketPairItems)
      .select(
        col("aitem").as("item_a"), col("item_id").as("item_b"),
        hamming(nBands)(col("abands"), col("bands")).as("hamming"))
    headPairs.union(tailStarEdges).distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** The audio near-dup pair graph — the shared banded machinery at
    * the audio fingerprint's 4×16-bit banding (pigeonhole over 4
    * bands guarantees recall to hamming 3, so the ≤ 2 threshold
    * loses nothing). */
  private def audioPairs(s: org.apache.spark.sql.SparkSession, dir: String) =
    bandedHammingPairs(
      Multimodal.audioFingerprints(Multimodal.mediaItems(s, dir, "audio"))
        .toDF(),
      nBands = 4, maxHamming = 2)

  /** (item_id, band, key, bands) rows from an (item_id, bands) hash
    * frame — the STORED layout of the streaming media index: with the
    * band key a real column (not derived by a post-scan posexplode),
    * a table bucketed on `key` feeds the probe with zero Exchange,
    * exactly like the text and embedding standing indexes. */
  private[graft] def mediaBandRows(
      hashes: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    hashes.select(col("item_id"), col("bands"),
      posexplode(col("bands")).as(Seq("band", "key")))

  /** Batch-vs-standing media near-dup pairs through the shared capped
    * [[graft.dedup.CollisionProbe]] over [[mediaBandRows]] on both
    * sides: the band arrays ride through the rank with the (band, key)
    * bucket, and hamming over all `nBands` bands is verified on the
    * collision frame only, keeping pairs ≤ `maxHamming`. One probe for
    * every fingerprint modality — the banding differs upstream. */
  private[graft] def mediaProbe(
      nBands: Int, maxHamming: Int): graft.dedup.CollisionProbe =
    graft.dedup.CollisionProbe("item_id", Seq("band", "key"),
      MaxBucketPairItems, "new_item", "corpus_item",
      Some(graft.dedup.CollisionProbe.Score("bands", reattach = false,
        "hamming", hamming(nBands), _ <= maxHamming)))

  /** Parameterized DuckDB mirror of [[bandedHammingPairs]]: extends a
    * bands CTE (relation `${p}allbands`) with capped pairing, ending
    * in `${p}pairs(item_a, item_b, hamming)`. */
  private def sqlBandedPairsCte(bandsCte: String, p: String, nBands: Int,
      maxHamming: Int = 2): String = {
    def ham(a: String, b: String) =
      "CAST(" + (1 to nBands).map(i => s"bit_count(xor($a[$i], $b[$i]))")
        .mkString(" + ") + " AS BIGINT)"
    s"""$bandsCte, ${p}h AS (
       |  SELECT item_id, list(key ORDER BY band) AS ks
       |  FROM ${p}allbands GROUP BY item_id
       |), ${p}ranked AS (
       |  SELECT a.item_id, ${p}h.ks, a.band, a.key,
       |         row_number() OVER (PARTITION BY a.band, a.key ORDER BY a.item_id) AS rk,
       |         count(*) OVER (PARTITION BY a.band, a.key) AS m,
       |         first_value(a.item_id) OVER (PARTITION BY a.band, a.key ORDER BY a.item_id) AS aitem,
       |         first_value(${p}h.ks) OVER (PARTITION BY a.band, a.key ORDER BY a.item_id) AS aks
       |  FROM ${p}allbands a JOIN ${p}h USING (item_id)
       |), ${p}cand AS (
       |  SELECT DISTINCT item_a, item_b, hamming FROM (
       |    SELECT l.item_id AS item_a, r.item_id AS item_b,
       |           ${ham("l.ks", "r.ks")} AS hamming
       |    FROM ${p}ranked l JOIN ${p}ranked r
       |      ON l.band = r.band AND l.key = r.key AND l.item_id < r.item_id
       |    WHERE l.rk <= $MaxBucketPairItems AND r.rk <= $MaxBucketPairItems
       |    UNION ALL
       |    SELECT aitem, item_id, ${ham("aks", "ks")}
       |    FROM ${p}ranked WHERE m > 1 AND rk > $MaxBucketPairItems
       |  )
       |), ${p}pairs AS (
       |  SELECT item_a, item_b, hamming FROM ${p}cand WHERE hamming <= $maxHamming
       |)""".stripMargin
  }

  private def sqlAudioPairsCte: String =
    sqlBandedPairsCte(sqlAudioBandsCte, "a", 4)

  /** Near-duplicate audio pairs — the dedup family's third modality
    * (documents, images, now audio): re-encoded / re-seeded copies of
    * a track collide on their energy-envelope fingerprint exactly as
    * near-identical images collide on aHash. */
  private val mmAudioDedup = Q(
    "mm_audio_dedup",
    s"""$sqlAudioPairsCte
       |SELECT item_a, item_b, hamming FROM apairs
       |ORDER BY item_a, item_b""".stripMargin) { (s, dir) =>
    audioPairs(s, dir).orderBy("item_a", "item_b")
  }

  /** CTE chain ending in `vallbands(item_id, band, key)` — the video
    * fingerprint recomputed from the generative GIF pixel formula;
    * see [[Multimodal.videoFingerprint]]. Slot w reads frame
    * w·nf div 16; q = frame luma sum div (16·w·h). */
  private def sqlVideoBandsCte: String =
    """WITH d AS (
      |  SELECT doc_id AS item_id,
      |         CAST(4 + doc_id % 13 AS INTEGER) AS width,
      |         CAST(4 + doc_id % 11 AS INTEGER) AS height,
      |         4 + doc_id % 9 AS nf,
      |         doc_id % 251 AS seed
      |  FROM documents WHERE doc_id % 3 = 2
      |), wslot AS (
      |  SELECT item_id, width, height, seed, unnest(range(0, 16)) AS w,
      |         (unnest(range(0, 16)) * nf) // 16 AS f
      |  FROM d
      |), vpx AS (
      |  SELECT item_id, w, width, height,
      |         (x * 7 + y * 13 + seed + 11 * f) % 256 AS v
      |  FROM wslot, range(0, 16) tx(x), range(0, 14) ty(y)
      |  WHERE x < width AND y < height
      |), vwin AS (
      |  SELECT item_id, w,
      |         CAST(sum(v) // (16 * width * height) AS BIGINT) AS q
      |  FROM vpx GROUP BY item_id, w, width, height
      |), vallbands AS (
      |  SELECT item_id, CAST(w // 4 AS INTEGER) AS band,
      |         CAST(sum(q * (CASE CAST(w % 4 AS INTEGER)
      |                       WHEN 0 THEN 4096 WHEN 1 THEN 256
      |                       WHEN 2 THEN 16 ELSE 1 END)) AS BIGINT) AS key
      |  FROM vwin GROUP BY item_id, w // 4
      |)""".stripMargin

  /** Video fingerprint as a declared query — hex rendering, same
    * contract as [[mmAudioFingerprint]]: a hash match proves the
    * full-GIF decode → frame luma → resample → quantize path. */
  private val mmVideoFingerprint = Q(
    "mm_video_fingerprint",
    s"""$sqlVideoBandsCte
       |SELECT item_id,
       |       string_agg(printf('%04x', key), '' ORDER BY band) AS fingerprint
       |FROM vallbands GROUP BY item_id ORDER BY item_id""".stripMargin) {
    (s, dir) =>
    Multimodal.videoFingerprints(Multimodal.mediaItems(s, dir, "video"))
      .toDF()
      .select(
        col("item_id"),
        array_join(transform(col("bands"),
          b => format_string("%04x", b)), "").as("fingerprint"))
      .orderBy("item_id")
  }

  /** Near-duplicate videos — completes per-modality near-dedup
    * (documents, images, audio, video): re-cut / re-seeded variants
    * whose luma envelopes agree within 2 bits pair up through the
    * shared capped banded machinery. At driver sf0.1 the fingerprint
    * buckets EXCEED [[MaxBucketPairItems]], so this query exercises
    * the star-edge cap path against the oracle at scale. */
  private val mmVideoDedup = Q(
    "mm_video_dedup",
    s"""${sqlBandedPairsCte(sqlVideoBandsCte, "v", 4)}
       |SELECT item_a, item_b, hamming FROM vpairs
       |ORDER BY item_a, item_b""".stripMargin) { (s, dir) =>
    videoPairs(s, dir).orderBy("item_a", "item_b")
  }

  private def videoPairs(s: org.apache.spark.sql.SparkSession, dir: String) =
    bandedHammingPairs(
      Multimodal.videoFingerprints(Multimodal.mediaItems(s, dir, "video"))
        .toDF(),
      nBands = 4, maxHamming = 2)

  /** Recursive-CTE closure over a modality pair chain ending in
    * `${p}pairs` — labels, shared by the per-modality components and
    * survivors oracles. Ends in `comp(item_id, component)`. */
  private def sqlModalityComponentsCte(pairsCte: String, p: String): String =
    s"""WITH RECURSIVE ${pairsCte.stripPrefix("WITH ")}, nodes AS (
       |  SELECT DISTINCT item_id FROM (
       |    SELECT item_a AS item_id FROM ${p}pairs
       |    UNION ALL SELECT item_b FROM ${p}pairs)
       |), gedges AS (
       |  SELECT item_a AS a, item_b AS b FROM ${p}pairs
       |  UNION SELECT item_b, item_a FROM ${p}pairs
       |), reach(s, t) AS (
       |  SELECT item_id, item_id FROM nodes
       |  UNION SELECT a, b FROM gedges
       |  UNION SELECT r.s, e.b FROM reach r JOIN gedges e ON r.t = e.a
       |), comp AS (
       |  SELECT s AS item_id, min(t) AS component FROM reach GROUP BY s
       |)""".stripMargin

  private def sqlModalitySurvivors(pairsCte: String, p: String, mod: Int): String =
    s"""${sqlModalityComponentsCte(pairsCte, p)}, sizes AS (
       |  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM comp GROUP BY component
       |)
       |SELECT d.doc_id AS item_id,
       |       CAST(coalesce(z.cluster_size, 1) AS BIGINT) AS cluster_size
       |FROM documents d
       |LEFT JOIN comp c ON d.doc_id = c.item_id
       |LEFT JOIN sizes z ON z.component = c.component
       |WHERE d.doc_id % 3 = $mod
       |  AND (c.item_id IS NULL OR c.component = d.doc_id)
       |ORDER BY item_id""".stripMargin

  /** Shared Spark side of the modality components/survivors family —
    * the documents engine ([[graft.dedup.DedupQueries.componentLabelsOf]]
    * propagation, [[graft.ops.ScaleGates]]-gated annotation) over any
    * modality's pair graph. */
  private def modalityLabels(pairsDf: org.apache.spark.sql.DataFrame) =
    graft.dedup.DedupQueries.componentLabelsOf(
      pairsDf.select(col("item_a").as("doc_a"), col("item_b").as("doc_b")))

  /** Unordered survivor frame (item_id, cluster_size) for one
    * modality — the `mm_*_survivors` value, shared by the declared
    * queries and the media corpus write path
    * ([[graft.etl.Sinks.materializeDedupedMediaCorpus]]). */
  private[graft] def survivorsFrameFor(
      s: org.apache.spark.sql.SparkSession, dir: String,
      modality: String): org.apache.spark.sql.DataFrame = {
    val (mod, pairsDf) = modality match {
      case "image" => (0, imagePairs(s, dir))
      case "audio" => (1, audioPairs(s, dir))
      case "video" => (2, videoPairs(s, dir))
      case m => throw new IllegalArgumentException(s"unknown modality $m")
    }
    val labels = modalityLabels(pairsDf)
    val sizes = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    val annotated = labels.join(sizes, "component")
    graft.ops.ScaleGates.annotateWithLabels(
      Tables(s, dir).documents
        .filter(col("doc_id") % 3 === mod)
        .select(col("doc_id")),
      annotated, labels.count(), "doc_id")
      .filter(col("component").isNull || col("component") === col("doc_id"))
      .select(col("doc_id").as("item_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
  }

  /** Audio/video components + survivors — the image family's
    * candidates → components → deduped corpus closure applied to the
    * other two fingerprint modalities, so every modality runs the
    * full near-dedup pipeline end-to-end through the one shared
    * propagation engine and size-gated annotation join. */
  private val mmAudioComponents = Q(
    "mm_audio_components",
    s"""${sqlModalityComponentsCte(sqlBandedPairsCte(sqlAudioBandsCte, "a", 4), "a")}
       |SELECT item_id, component FROM comp ORDER BY item_id""".stripMargin) {
    (s, dir) =>
    modalityLabels(audioPairs(s, dir))
      .select(col("doc_id").as("item_id"), col("component"))
      .orderBy("item_id")
  }

  private val mmAudioSurvivors = Q(
    "mm_audio_survivors",
    sqlModalitySurvivors(sqlBandedPairsCte(sqlAudioBandsCte, "a", 4), "a", 1)) {
    (s, dir) => survivorsFrameFor(s, dir, "audio").orderBy("item_id")
  }

  private val mmVideoComponents = Q(
    "mm_video_components",
    s"""${sqlModalityComponentsCte(sqlBandedPairsCte(sqlVideoBandsCte, "v", 4), "v")}
       |SELECT item_id, component FROM comp ORDER BY item_id""".stripMargin) {
    (s, dir) =>
    modalityLabels(videoPairs(s, dir))
      .select(col("doc_id").as("item_id"), col("component"))
      .orderBy("item_id")
  }

  private val mmVideoSurvivors = Q(
    "mm_video_survivors",
    sqlModalitySurvivors(sqlBandedPairsCte(sqlVideoBandsCte, "v", 4), "v", 2)) {
    (s, dir) => survivorsFrameFor(s, dir, "video").orderBy("item_id")
  }

  /** Cross-modality dedup report — the curation dashboard number: per
    * modality, corpus size, near-dup pair count, distinct items in any
    * pair, and the dup fraction in exact ppm. Composes all three
    * fingerprint pipelines; every aggregate is metadata-sized and the
    * only joins are broadcast 1-row cross joins, so the cost is the
    * three (narrow, payload-local) fingerprint passes themselves. The
    * oracle nests each modality's full pair CTE chain as an
    * independent derived table, so a hash match re-proves all three
    * pipelines end-to-end in one query. */
  private val mmDedupReport = Q(
    "mm_dedup_report", {
      def part(p: String, cte: String) =
        s"(SELECT item_a, item_b FROM ($cte SELECT item_a, item_b FROM ${p}pairs) t)"
      val img = part("", sqlImagePairsCte.stripSuffix("\n"))
      val aud = part("a", sqlBandedPairsCte(sqlAudioBandsCte, "a", 4))
      val vid = part("v", sqlBandedPairsCte(sqlVideoBandsCte, "v", 4))
      def row(name: String, mod: Int, pairs: String) =
        s"""SELECT '$name' AS modality,
           |  (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 3 = $mod) AS n_items,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $pairs p) AS n_pairs,
           |  (SELECT CAST(count(DISTINCT i) AS BIGINT) FROM (
           |     SELECT item_a AS i FROM $pairs p1
           |     UNION ALL SELECT item_b FROM $pairs p2)) AS n_dup_items""".stripMargin
      s"""SELECT modality, n_items, n_pairs, n_dup_items,
         |       n_dup_items * 1000000 // n_items AS dup_ppm
         |FROM (
         |${row("audio", 1, aud)}
         |UNION ALL
         |${row("image", 0, img)}
         |UNION ALL
         |${row("video", 2, vid)}
         |)
         |ORDER BY modality""".stripMargin
    }) { (s, dir) =>
    def stats(name: String, mod: Int,
        pairsDf: org.apache.spark.sql.DataFrame) = {
      val p = pairsDf.cut(false)
      val nItems = Tables(s, dir).documents
        .filter(col("doc_id") % 3 === mod)
        .agg(count(lit(1)).as("n_items"))
      val nPairs = p.agg(count(lit(1)).as("n_pairs"))
      val nDup = p.select(explode(array(col("item_a"), col("item_b"))).as("i"))
        .agg(countDistinct(col("i")).as("n_dup_items"))
      nItems.crossJoin(broadcast(nPairs)).crossJoin(broadcast(nDup))
        .select(lit(name).as("modality"), col("n_items"), col("n_pairs"),
          col("n_dup_items"),
          expr("n_dup_items * 1000000 DIV n_items").as("dup_ppm"))
    }
    stats("audio", 1, audioPairs(s, dir))
      .union(stats("image", 0, imagePairs(s, dir)))
      .union(stats("video", 2, videoPairs(s, dir)))
      .orderBy("modality")
  }

  val queries: Seq[Q] =
    Seq(mmModalityDispatch, mmBinaryMeta, mmFrameSample, mmImageDecode,
      mmImagePhash, mmImageDedup, mmImageComponents, mmImageSurvivors,
      mmImageResize, mmAudioDecode, mmAudioZcr, mmAudioFingerprint,
      mmAudioDedup, mmVideoFrames, mmVideoSceneCuts, mmVideoFingerprint,
      mmVideoDedup, mmAudioComponents, mmAudioSurvivors,
      mmVideoComponents, mmVideoSurvivors, mmDedupReport)
}
