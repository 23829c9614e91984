package graft.dedup

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Checkpoints.CheckpointOps
import graft.util.Hashes
import graft.{Q, Tables}

/** Deduplication operators for an LLM training-data pipeline (north-star
  * extensions): exact dedup, MinHash+LSH candidate generation, SimHash
  * fingerprints, and n-gram Jaccard verification.
  *
  * Scale posture: exact dedup is a hash groupBy (one shuffle on the
  * content key). Near-dedup signatures are computed in ONE pass —
  * explode shingles, then K `min()` aggregates in a single map-side-
  * combining hash aggregate (an `array_min(transform(...))` per
  * signature would re-evaluate the interpreted higher-order pipeline K
  * times per row — measured 70× slower). Candidate pairs come from
  * grouping by (band, band_hash) and pairing within buckets — never a
  * self-join (which would recompute signatures per side) and never an
  * all-pairs comparison. At 100 TB the only shuffles are the signature
  * aggregate and the bucket groupBy; degenerate buckets (one hot band
  * hash) are bounded by [[candidatePairs]]' rank cap — all-pairs only up
  * to [[MaxBucketPairDocs]] docs per bucket, star edges beyond — so the
  * worst case is linear in bucket size, not quadratic.
  */
object DedupQueries {

  private def toks: Column = split(col("text"), " ")

  // MinHash/LSH parameters: K signatures, B bands of R rows (K = B*R).
  private val K = 12
  private val R = 4
  private val B = 3

  // Amplified re-banding of the SAME K signatures: 6 bands of 2 rows.
  // Moves the S-curve knee from J≈0.77 to J≈0.35 — P(candidate|J=0.5)
  // rises from 1-(1-0.5^4)^3 ≈ 17% to 1-(1-0.5^2)^6 ≈ 82% — at zero
  // extra signature cost (the banding is a projection of computed
  // min-hashes). Every R=4 band match is two R=2 band matches, so the
  // amplified candidate set contains the standard one (modulo the
  // shared over-cap star-edge policy on degenerate buckets).
  private[dedup] final val AmpB = 6
  private[dedup] final val AmpR = 2

  /** 3-token shingles over an ALREADY-MATERIALIZED token array column,
    * via the native codegen'd [[org.apache.spark.sql.graft.Shingles]]
    * expression — one tight loop per row instead of the interpreted
    * higher-order-function pipeline (sequence + transform + filter +
    * five-way concat per window), which was the allocation-heavy hot
    * loop of every near-dedup signature pass. Bit-identical semantics
    * (window count, NULL-token windows dropped, single-space join) —
    * proven by the unchanged DuckDB oracle and by ShinglesSpec's
    * equivalence property against the HOF formulation.
    */
  private def shinglesOf(tk: Column): Column =
    org.apache.spark.sql.graft.ColumnOps.shingles(tk, 3)

  /** documents → (doc_id, toks) with the split materialized below a
    * repartition Exchange: the Exchange is an optimizer barrier, so
    * CollapseProject cannot inline `split` back into the per-element
    * lambdas above it; it also parallelizes the CPU-heavy shingle work
    * when the input is one unsplittable file / row group. */
  private def tokenized(t: Tables): DataFrame = tokenizedDocs(t.documents)

  /** [[tokenized]] over any (doc_id, text) frame — the streaming
    * incremental loop feeds micro-batches through the same path. */
  private def tokenizedDocs(docs: DataFrame): DataFrame =
    graft.util.Par.byKey(
      docs.select(col("doc_id"), toks.as("toks")), "doc_id")

  private val sqlToks = "string_split(text, ' ')"
  /** DuckDB n-gram windows over a token-list expression, mirroring the
    * native [[org.apache.spark.sql.graft.Shingles]] exactly (window
    * count max(len−n+1, 0), NULL-token windows dropped, single-space
    * join) — shared with the text family (repetition / decontamination
    * operators). */
  private[graft] def sqlNgramsOf(toks: String, n: Int): String = {
    require(n >= 2, s"n-gram windows need n >= 2, got $n")
    val join = (0 until n).map(j => s"$toks[i+$j]").mkString(" || ' ' || ")
    s"list_filter(list_transform(range(1, greatest(len($toks), $n) - ${n - 2}), " +
      s"i -> $join), x -> x IS NOT NULL)"
  }

  private def sqlShinglesOf(toks: String): String = sqlNgramsOf(toks, 3)
  private val sqlShingles: String = sqlShinglesOf(sqlToks)

  /** Per-doc K-element MinHash signature: explode shingles once, hash
    * each shingle ONCE (md5), then K affine universal-hash transforms
    * inside K min aggregates — one codegen'd pass, one md5 per shingle
    * (K md5s per shingle measured ~5× slower end-to-end). */
  private def signatures(t: Tables): DataFrame =
    signaturesOfDocs(t.documents)

  private def signaturesOfDocs(docs: DataFrame): DataFrame =
    tokenizedDocs(docs)
      .select(col("doc_id"), explode(shinglesOf(col("toks"))).as("sh"))
      .select(col("doc_id"), Hashes.tokHash(col("sh")).as("h"))
      .groupBy(col("doc_id"))
      .agg(
        min(Hashes.affine(0, col("h"))).as("mh0"),
        (1 until K).map(i =>
          min(Hashes.affine(i, col("h"))).as(s"mh$i")): _*)

  private def sqlSignatureOf(i: Int, sh: String): String =
    s"list_min(list_transform($sh, t -> ${Hashes.sqlAffine(i, Hashes.sqlTokHash("t"))})) AS mh$i"

  private def sqlSignature(i: Int): String = sqlSignatureOf(i, sqlShingles)

  /** md5 over the ':'-joined band signature; NULL if any row is NULL
    * (short doc), so degenerate docs never collide. */
  private def bandHash(b: Int): Column = bandHashBR(b, R)

  private def bandHashBR(b: Int, rr: Int): Column =
    md5(concat(
      (0 until rr)
        .flatMap(j => Seq(col(s"mh${rr * b + j}").cast("string"), lit(":")))
        .dropRight(1): _*))

  private def sqlBandHash(b: Int): String = sqlBandHashBR(b, R)

  private def sqlBandHashBR(b: Int, rr: Int): String =
    "md5(" + (0 until rr).map(j => s"CAST(mh${rr * b + j} AS VARCHAR)")
      .mkString(" || ':' || ") + ")"

  /** (doc_id, band, band_hash) rows — B per doc, from ONE signature
    * pass (the B projections collapse onto the same aggregate). */
  private def bands(t: Tables): DataFrame = bandsOfDocs(t.documents)

  /** [[bands]] over any (doc_id, text) frame — the band index the
    * streaming incremental loop appends per micro-batch. */
  private[graft] def bandsOfDocs(docs: DataFrame): DataFrame =
    bandsOfDocsBR(docs, B, R)

  /** [[bandsOfDocs]] re-banded as `bb` bands of `rr` rows over the
    * same K-signature family (bb·rr ≤ K): amplified banding reuses the
    * one signature pass — only the band projection changes. */
  private[dedup] def bandsOfDocsBR(
      docs: DataFrame, bb: Int, rr: Int): DataFrame =
    bandsFromSig(signaturesOfDocs(docs), bb, rr)

  /** Band rows from an ALREADY-COMPUTED signature frame — so a
    * consumer comparing several bandings (the tradeoff audit) pays the
    * corpus min-hash pass ONCE and projects each banding from it. */
  private def bandsFromSig(sig: DataFrame, bb: Int, rr: Int): DataFrame = {
    require(bb * rr <= K, s"banding $bb x $rr exceeds K=$K signatures")
    sig.select(
      col("doc_id"),
      explode(array((0 until bb).map(b =>
        struct(lit(b).as("band"), bandHashBR(b, rr).as("bh"))): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
      .filter(col("bh").isNotNull)
  }

  /** The `bh IS NOT NULL` filter mirrors [[bands]]' isNotNull and is
    * LOAD-BEARING since the cap: the uncapped oracle was immune (NULL
    * never equi-joins), but the ranked window would bucket NULL band
    * hashes together and star-edge-pair unrelated degenerate docs that
    * the Spark side drops — divergence on any corpus with > cap short
    * docs (proven by the /tmp/sfdeg counter-test: oracle 368 vs spark
    * 352 rows without this filter). */
  private def sqlBandsCte: String = sqlBandsCteBR(B, R)

  /** `p` prefixes every CTE name so two banding chains can coexist in
    * one statement (the tradeoff audit); "" keeps the classic names. */
  private def sqlBandsCteBR(bb: Int, rr: Int, p: String = ""): String = {
    val sig = (0 until K).map(sqlSignature).mkString(",\n         ")
    val union = (0 until bb)
      .map(b => s"SELECT doc_id, $b AS band, ${sqlBandHashBR(b, rr)} AS bh FROM ${p}sig")
      .mkString("\n  UNION ALL ")
    s"""WITH ${p}sig AS (
       |  SELECT doc_id,
       |         $sig
       |  FROM documents
       |), ${p}bands AS (
       |  SELECT * FROM (
       |  $union
       |  ) WHERE bh IS NOT NULL
       |)""".stripMargin
  }

  /** Degenerate-bucket bound: buckets up to this many docs get exact
    * all-pairs expansion (classic LSH semantics, and what the DuckDB
    * self-join oracle computes — no driver-SF bucket comes near this);
    * docs beyond it connect by star edges instead.
    *
    * Four capped-pair implementations share this policy —
    * [[candidatePairs]], [[chunkCandidatePairs]], dedup_simhash_pairs,
    * and [[graft.sim.SimilarityQueries]]'s nearDupPairs. Their
    * expansion strategies deliberately differ with payload size
    * (scalar/struct collect_list for key-only pairs, a head join where
    * the payload is an embedding that must not sit in an aggregation
    * buffer), so they are not folded into one helper; a change to the
    * cap SEMANTICS must touch all four plus their SQL mirrors — each
    * is pinned by its own oracle, so a missed site fails loudly. */
  // final constant — immune to object-initialization order (a Q val
  // declared above this line would otherwise interpolate 0 into its
  // oracle SQL; see the MultimodalQueries twin for the incident).
  private[dedup] final val MaxBucketPairDocs = 64

  /** Candidate near-dup pairs: group by (band, band_hash), pair within
    * buckets. Bucket members are ranked so every pair is (low, high);
    * multi-band collisions dedup via distinct.
    *
    * Degenerate buckets are bounded two ways (one hot band hash — e.g.
    * an all-identical corpus slice — would otherwise cost O(m²) pairs
    * AND an O(m) collect_list buffer):
    *  - docs ranked ≤ [[MaxBucketPairDocs]] within their bucket expand
    *    all-pairs, exactly as before — every sane bucket is untouched;
    *  - docs ranked above it emit ONE star edge to the bucket minimum,
    *    keeping the near-dup cluster connected (survivor selection via
    *    connected components sees the same component) at O(m) pairs,
    *    without ever materializing the bucket in an aggregation buffer.
    * Ranking, bucket size and bucket min come from window functions
    * over the same (band, bh) partitioning — still exactly one shuffle.
    */
  private[dedup] def candidatePairs(t: Tables): DataFrame =
    candidatePairsOf(bands(t))

  /** [[candidatePairs]] over an arbitrary (doc_id, band, bh) band
    * frame — lets the incremental pipeline pair a SUBSET (the standing
    * corpus) without re-deriving the whole-corpus rule. */
  private[dedup] def candidatePairsOf(bandRows: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byBucket = Window.partitionBy(col("band"), col("bh"))
    val ranked = bandRows
      .select(
        col("doc_id"), col("band"), col("bh"),
        row_number().over(byBucket.orderBy(col("doc_id"))).as("rk"),
        count(lit(1)).over(byBucket).as("m"),
        min(col("doc_id")).over(byBucket).as("bmin"))
      .filter(col("m") > 1)
    val headPairs = ranked
      .filter(col("rk") <= MaxBucketPairDocs)
      .groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(
        flatten(transform(col("ids"), (x, i) =>
          transform(slice(col("ids"), i + 2, size(col("ids"))),
            y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
    val tailStarEdges = ranked
      .filter(col("rk") > MaxBucketPairDocs)
      .select(col("bmin").as("doc_a"), col("doc_id").as("doc_b"))
    headPairs.union(tailStarEdges).distinct()
  }

  /** CTE chain ending in `cand(doc_a, doc_b)` — the DuckDB mirror of
    * [[candidatePairs]] INCLUDING the degenerate-bucket cap (head docs
    * ranked ≤ [[MaxBucketPairDocs]] expand all-pairs, tail docs emit a
    * star edge to the bucket min), so the contract holds on ANY corpus,
    * not just ones where no bucket reaches the cap. */
  private def sqlCandCte: String = sqlCandCteBR(B, R)

  /** [[sqlCandCte]] with every CTE name prefixed — for composers
    * (the curation pipeline) that splice the candidate chain into a
    * larger WITH block where the bare names (`sig`, `bands`, `ranked`,
    * `cand`) would collide. */
  private[graft] def sqlCandCtePrefixed(p: String): String =
    sqlCandCteBR(B, R, p)

  private def sqlCandCteBR(bb: Int, rr: Int, p: String = ""): String =
    s"""${sqlBandsCteBR(bb, rr, p)}, ${p}ranked AS (
       |  SELECT doc_id, band, bh,
       |         row_number() OVER (PARTITION BY band, bh ORDER BY doc_id) AS rk,
       |         count(*) OVER (PARTITION BY band, bh) AS m,
       |         min(doc_id) OVER (PARTITION BY band, bh) AS bmin
       |  FROM ${p}bands
       |), ${p}cand AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |    SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
       |    FROM ${p}ranked l JOIN ${p}ranked r
       |      ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
       |    WHERE l.rk <= $MaxBucketPairDocs AND r.rk <= $MaxBucketPairDocs
       |    UNION ALL
       |    SELECT bmin AS doc_a, doc_id AS doc_b
       |    FROM ${p}ranked WHERE m > 1 AND rk > $MaxBucketPairDocs
       |  )
       |)""".stripMargin

  /** Exact dedup: one surviving row per distinct text, deterministic
    * survivor (min doc_id) — groupBy, not dropDuplicates, because
    * dropDuplicates keeps an arbitrary partition-order-dependent row. */
  private val dedupExact = Q(
    "dedup_exact",
    """SELECT min(doc_id) AS doc_id, text
      |FROM documents GROUP BY text
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables(s, dir).documents
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id")
  }

  /** MinHash+LSH near-dup candidates (shingle → K min-hashes → B bands →
    * bucket grouping). */
  private val dedupMinhashLsh = Q(
    "dedup_minhash_lsh",
    s"""$sqlCandCte
       |SELECT doc_a, doc_b FROM cand
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    candidatePairs(Tables(s, dir)).orderBy("doc_a", "doc_b")
  }

  /** Amplified-banding MinHash candidates — the text twin of
    * `embedding_near_dup_multi`, closing the audit→fix loop
    * `dedup_recall_eval` exposes: the standard B=3/R=4 banding catches
    * ≈17% of J=0.5 true near-dups (the audit's measured cliff);
    * re-banding the SAME K=12 signatures as [[AmpB]]=6 bands of
    * [[AmpR]]=2 rows lifts P(candidate|J=0.5) to ≈82% at zero extra
    * signature cost — one band projection over min-hashes already
    * computed, the same one-shuffle bucket groupBy downstream. Since
    * every 4-row band match implies two 2-row band matches, these
    * candidates CONTAIN the standard set (up to the shared over-cap
    * star policy); the extra low-J candidates are the precision trade
    * the exact-Jaccard verifier downstream already prunes. */
  private val dedupMinhashLshMulti = Q(
    "dedup_minhash_lsh_multi",
    s"""${sqlCandCteBR(AmpB, AmpR)}
       |SELECT doc_a, doc_b FROM cand
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    candidatePairsOf(bandsOfDocsBR(Tables(s, dir).documents, AmpB, AmpR))
      .orderBy("doc_a", "doc_b")
  }

  /** Banding precision/volume tradeoff audit — the OTHER half of the
    * recall story `dedup_recall_eval` + `dedup_minhash_lsh_multi`
    * tell: OR-amplification buys mid-J recall by admitting low-J
    * candidates, and this query MEASURES that price per scheme. For
    * each banding (standard B=3/R=4, amplified B=6/R=2) it verifies
    * every candidate pair with the exact distinct-3-shingle Jaccard
    * (the same ground-truth rule as the recall audit, τ =
    * [[RecallTauE6]]) and reports candidate count, verified-true
    * count, and precision ppm — the table an index tuner reads to
    * choose a banding for a corpus. Scale: the verify join is
    * candidate-bounded (shingle sets semi-pruned to candidate
    * endpoints, the `dedup_containment` plan), so audit cost follows
    * the candidate volume it is measuring. */
  private val dedupBandingTradeoff = Q(
    "dedup_banding_tradeoff", {
      val tau = RecallTauE6
      s"""${sqlCandCteBR(B, R, "s_")},
         |${sqlCandCteBR(AmpB, AmpR, "a_").stripPrefix("WITH ")},
         |cand_all AS (
         |  SELECT 'b3r4' AS scheme, doc_a, doc_b FROM s_cand
         |  UNION ALL
         |  SELECT 'b6r2' AS scheme, doc_a, doc_b FROM a_cand
         |), shs AS (
         |  SELECT doc_id, list_distinct($sqlShingles) AS sh FROM documents
         |), jj AS (
         |  SELECT scheme,
         |         CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS ni,
         |         CAST(len(a.sh) AS BIGINT) AS na,
         |         CAST(len(b.sh) AS BIGINT) AS nb
         |  FROM cand_all
         |  JOIN shs a ON cand_all.doc_a = a.doc_id
         |  JOIN shs b ON cand_all.doc_b = b.doc_id
         |), agg AS (
         |  SELECT scheme,
         |         CAST(count(*) AS BIGINT) AS n_candidates,
         |         CAST(sum(CASE WHEN ni * 1000000 // (na + nb - ni) >= $tau
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_true
         |  FROM jj GROUP BY scheme
         |)
         |SELECT scheme, n_candidates, n_true,
         |       n_true * 1000000 // n_candidates AS precision_ppm
         |FROM agg ORDER BY scheme""".stripMargin
    }) { (s, dir) =>
    val t = Tables(s, dir)
    // ONE corpus min-hash pass; both bandings are projections of it.
    val sig = signaturesOfDocs(t.documents).cut(false)
    val cand = candidatePairsOf(bandsFromSig(sig, B, R))
      .withColumn("scheme", lit("b3r4"))
      .unionByName(
        candidatePairsOf(bandsFromSig(sig, AmpB, AmpR))
          .withColumn("scheme", lit("b6r2")))
      .cut()
    val candIds = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val sh = tokenized(t)
      .join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        array_distinct(shinglesOf(col("toks"))).as("sh"))
      .cut()
    cand
      .join(sh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sh.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("scheme"),
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("long").as("ni"),
        size(col("a.sh")).cast("long").as("na"),
        size(col("b.sh")).cast("long").as("nb"))
      .groupBy(col("scheme"))
      .agg(
        count(lit(1)).as("n_candidates"),
        sum(when(expr(s"ni * 1000000 DIV (na + nb - ni)") >= RecallTauE6, 1L)
          .otherwise(0L)).as("n_true"))
      .withColumn("precision_ppm", expr("n_true * 1000000 DIV n_candidates"))
      .orderBy("scheme")
  }

  /** Candidate (B,R) factorizations of the K=12 signature the tuner
    * chooses among — every banding is a projection of the ONE shared
    * min-hash pass, so widening the menu costs re-banding, never
    * re-hashing. */
  private val BandSchemes: Seq[(String, Int, Int)] =
    Seq(("b2r6", 2, 6), ("b3r4", 3, 4), ("b4r3", 4, 3), ("b6r2", 6, 2))

  /** The tuner's recall floor: a banding must catch ≥ this fraction
    * (ppm) of the reference true-pair set to be eligible. */
  private[dedup] final val BandTargetRecallPpm = 900000L

  /** BANDING AUTO-TUNER — closes the `dedup_banding_tradeoff` loop:
    * instead of reporting the precision/volume table for a human, this
    * SELECTS the (B,R) scheme to run with. Every candidate pair of
    * every scheme is verified with exact shingle Jaccard at the recall
    * audit's τ; the reference set is the DISTINCT union of verified
    * true pairs across all schemes (the measurable denominator — an
    * honest relative-recall basis, since exact corpus-wide truth is
    * quadratic); each scheme scores recall vs that reference and
    * precision over its own candidates. Selection rule, deterministic:
    * the cheapest scheme (fewest candidates) among those clearing
    * [[BandTargetRecallPpm]]; if none clears, the max-recall scheme —
    * ties break by scheme name. Output is the full scored menu with a
    * `selected` flag, so the decision is auditable next to the
    * evidence. Cost: ONE corpus min-hash pass projected into four
    * bandings, candidate-bounded verify joins semi-pruned to touched
    * docs — the tradeoff query's posture times two more projections. */
  private val dedupBandingSelect = Q(
    "dedup_banding_select", {
      val tau = RecallTauE6
      val ctes = BandSchemes.map { case (n, bb, rr) =>
        sqlCandCteBR(bb, rr, s"${n}_").stripPrefix("WITH ")
      }.mkString(",\n")
      val union = BandSchemes.map { case (n, bb, rr) =>
        s"SELECT '$n' AS scheme, $bb AS bands, $rr AS rows_per_band, doc_a, doc_b FROM ${n}_cand"
      }.mkString("\n  UNION ALL ")
      s"""WITH $ctes,
         |cand_all AS (
         |  $union
         |), shs AS (
         |  SELECT doc_id, list_distinct($sqlShingles) AS sh FROM documents
         |), jj AS (
         |  SELECT scheme, bands, rows_per_band, cand_all.doc_a, cand_all.doc_b,
         |         CASE WHEN CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) * 1000000
         |                   // (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |                   >= $tau THEN 1 ELSE 0 END AS is_true
         |  FROM cand_all
         |  JOIN shs a ON cand_all.doc_a = a.doc_id
         |  JOIN shs b ON cand_all.doc_b = b.doc_id
         |), ref AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_ref FROM (
         |    SELECT DISTINCT doc_a, doc_b FROM jj WHERE is_true = 1)
         |), agg AS (
         |  SELECT scheme, bands, rows_per_band,
         |         CAST(count(*) AS BIGINT) AS n_candidates,
         |         CAST(sum(is_true) AS BIGINT) AS n_true
         |  FROM jj GROUP BY scheme, bands, rows_per_band
         |), scored AS (
         |  SELECT scheme, bands, rows_per_band, n_candidates, n_true,
         |         n_true * 1000000 // n_candidates AS precision_ppm,
         |         n_true * 1000000 // n_ref AS recall_ppm
         |  FROM agg CROSS JOIN ref
         |), sel AS (
         |  SELECT scheme AS sel_scheme FROM scored
         |  ORDER BY (recall_ppm >= $BandTargetRecallPpm) DESC,
         |           CASE WHEN recall_ppm >= $BandTargetRecallPpm
         |                THEN n_candidates ELSE 1000000 - recall_ppm END ASC,
         |           scheme
         |  LIMIT 1
         |)
         |SELECT scheme, CAST(bands AS BIGINT) AS bands,
         |       CAST(rows_per_band AS BIGINT) AS rows_per_band,
         |       n_candidates, n_true, precision_ppm, recall_ppm,
         |       (scheme = sel_scheme) AS selected
         |FROM scored CROSS JOIN sel
         |ORDER BY scheme""".stripMargin
    }) { (s, dir) =>
    val t = Tables(s, dir)
    val sig = signaturesOfDocs(t.documents).cut(false)
    val cand = BandSchemes.map { case (n, bb, rr) =>
      candidatePairsOf(bandsFromSig(sig, bb, rr))
        .select(lit(n).as("scheme"), lit(bb.toLong).as("bands"),
          lit(rr.toLong).as("rows_per_band"), col("doc_a"), col("doc_b"))
    }.reduce(_.unionByName(_)).cut()
    val candIds = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val sh = tokenized(t)
      .join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        array_distinct(shinglesOf(col("toks"))).as("sh"))
      .cut()
    val jj = cand
      .join(sh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sh.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("scheme"), col("bands"), col("rows_per_band"),
        col("doc_a"), col("doc_b"),
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("long").as("ni"),
        size(col("a.sh")).cast("long").as("na"),
        size(col("b.sh")).cast("long").as("nb"))
      .select(col("scheme"), col("bands"), col("rows_per_band"),
        col("doc_a"), col("doc_b"),
        when(expr("ni * 1000000 DIV (na + nb - ni)") >= RecallTauE6, 1L)
          .otherwise(0L).as("is_true"))
      .cut(false)
    val ref = jj.filter(col("is_true") === 1L)
      .select(col("doc_a"), col("doc_b")).distinct()
      .agg(count(lit(1)).as("n_ref"))
    val scored = jj
      .groupBy(col("scheme"), col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("n_candidates"), sum(col("is_true")).as("n_true"))
      .crossJoin(broadcast(ref))
      .select(col("scheme"), col("bands"), col("rows_per_band"),
        col("n_candidates"), col("n_true"),
        expr("n_true * 1000000 DIV n_candidates").as("precision_ppm"),
        expr("n_true * 1000000 DIV n_ref").as("recall_ppm"))
    val sel = scored
      .orderBy((col("recall_ppm") >= BandTargetRecallPpm).desc,
        when(col("recall_ppm") >= BandTargetRecallPpm, col("n_candidates"))
          .otherwise(lit(1000000L) - col("recall_ppm")).asc,
        col("scheme"))
      .limit(1)
      .select(col("scheme").as("sel_scheme"))
    scored.crossJoin(broadcast(sel))
      .select(col("scheme"), col("bands"), col("rows_per_band"),
        col("n_candidates"), col("n_true"),
        col("precision_ppm"), col("recall_ppm"),
        (col("scheme") === col("sel_scheme")).as("selected"))
      .orderBy("scheme")
  }

  /** Per-doc 16-bit SimHash (per-bit majority vote over token hashes),
    * shared by the fingerprint query and the hamming-pair query. */
  private def simhashOf(t: Tables): DataFrame = {
    val hashed = t.documents
      .select(col("doc_id"), explode(toks).as("t"))
      .select(col("doc_id"), Hashes.tokHash(col("t")).as("h"))
    val agg = hashed
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n"),
        (0 until 16).map(i =>
          sum(shiftright(col("h"), i).bitwiseAND(lit(1L))).as(s"b$i")): _*)
    val sim = (0 until 16)
      .map(i =>
        when(col(s"b$i") * 2 > col("n"), lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col("doc_id"), sim.cast("long").as("simhash"))
  }

  /** CTE chain ending in `sh(doc_id, simhash)` — DuckDB twin of
    * [[simhashOf]]. */
  private def sqlSimhashCte: String = {
    val bits = (0 until 16)
      .map(i => s"sum((h >> $i) & 1) AS b$i").mkString(",\n       ")
    val sim = (0 until 16)
      .map(i => s"CASE WHEN b$i * 2 > n THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    s"""WITH sh AS (
       |  SELECT doc_id, CAST($sim AS BIGINT) AS simhash
       |  FROM (
       |    SELECT doc_id, count(*) AS n,
       |         $bits
       |    FROM (
       |      SELECT doc_id, ${Hashes.sqlTokHash("t")} AS h
       |      FROM (SELECT doc_id, unnest($sqlToks) AS t FROM documents)
       |    ) GROUP BY doc_id
       |  )
       |)""".stripMargin
  }

  /** SimHash (16-bit): explode tokens → 32-bit token hash → per-bit
    * majority vote per doc. The explode+groupBy shape gets map-side
    * partial aggregation; the shuffle carries 17 longs per doc. */
  private val dedupSimhash = Q(
    "dedup_simhash",
    s"""$sqlSimhashCte
       |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin) {
    (s, dir) => simhashOf(Tables(s, dir)).orderBy("doc_id")
  }

  /** SimHash hamming pairing — the step that turns fingerprints into a
    * dedup decision: pairs of docs whose 16-bit simhashes differ by at
    * most 1 bit, found WITHOUT an all-pairs comparison via the classic
    * byte-band trick (hamming ≤ 1 leaves at least one of the two bytes
    * identical, by pigeonhole — so banding itself misses nothing).
    * Same capped bucket machinery as the LSH families: rank within
    * (band, byte) buckets, all-pairs up to the cap, star edges to the
    * bucket's first doc beyond it; the hamming predicate then verifies
    * every candidate with two codegen'd bit ops. Recall is exact for
    * docs within the cap; beyond-cap tail docs connect only through
    * their star edge, so a tail-tail pair whose members are both far
    * from the bucket head is the deliberate approximation the cap
    * trades for O(m) worst-case buckets (same trade as every capped
    * family here, mirrored in the oracle). Shuffle = one window pass
    * over 2 rows per doc. */
  private val dedupSimhashPairs = Q(
    "dedup_simhash_pairs",
    s"""$sqlSimhashCte, bands AS (
       |  SELECT doc_id, simhash, b.range AS band,
       |         (simhash >> (8 * b.range)) & 255 AS key
       |  FROM sh CROSS JOIN range(0, 2) b
       |), ranked AS (
       |  SELECT doc_id, simhash, band, key,
       |         row_number() OVER (PARTITION BY band, key ORDER BY doc_id) AS rk,
       |         count(*) OVER (PARTITION BY band, key) AS m,
       |         first_value(doc_id) OVER (PARTITION BY band, key ORDER BY doc_id) AS adoc,
       |         first_value(simhash) OVER (PARTITION BY band, key ORDER BY doc_id) AS ahash
       |  FROM bands
       |), cand AS (
       |  SELECT DISTINCT doc_a, doc_b, hamming FROM (
       |    SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
       |           CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
       |    FROM ranked l JOIN ranked r
       |      ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
       |    WHERE l.rk <= $MaxBucketPairDocs AND r.rk <= $MaxBucketPairDocs
       |    UNION ALL
       |    SELECT adoc, doc_id,
       |           CAST(bit_count(xor(ahash, simhash)) AS BIGINT)
       |    FROM ranked WHERE m > 1 AND rk > $MaxBucketPairDocs
       |  )
       |)
       |SELECT doc_a, doc_b, hamming FROM cand
       |WHERE hamming <= 1
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val sh = simhashOf(Tables(s, dir))
    val bands = sh.select(col("doc_id"), col("simhash"),
      explode(sequence(lit(0), lit(1))).as("band"))
      .select(col("doc_id"), col("simhash"), col("band"),
        expr("shiftright(simhash, band * 8)")
          .bitwiseAND(lit(255L)).as("key"))
    val byBucket = Window.partitionBy(col("band"), col("key"))
    val ord = byBucket.orderBy(col("doc_id"))
    val ranked = bands.select(
      col("doc_id"), col("simhash"), col("band"), col("key"),
      row_number().over(ord).as("rk"),
      count(lit(1)).over(byBucket).as("m"),
      first(col("doc_id")).over(ord).as("adoc"),
      first(col("simhash")).over(ord).as("ahash"))
    def hamming(a: Column, b: Column): Column =
      bit_count(a.bitwiseXOR(b)).cast("long")
    val headPairs = ranked
      .filter(col("rk") <= MaxBucketPairDocs)
      .groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("simhash")))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(
        flatten(transform(col("ids"), (x, i) =>
          transform(slice(col("ids"), i + 2, size(col("ids"))),
            y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        hamming(col("p.a.simhash"), col("p.b.simhash")).as("hamming"))
    val tailStarEdges = ranked
      .filter(col("m") > 1 && col("rk") > MaxBucketPairDocs)
      .select(col("adoc").as("doc_a"), col("doc_id").as("doc_b"),
        hamming(col("ahash"), col("simhash")).as("hamming"))
    headPairs.union(tailStarEdges).distinct()
      .filter(col("hamming") <= 1)
      .orderBy("doc_a", "doc_b")
  }

  /** n-gram Jaccard verification over the LSH candidate pairs: exact
    * shingle-set Jaccard computed only within buckets (the 100 TB-safe
    * shape — verification cost scales with candidates, not pairs). */
  private val dedupNgramJaccard = Q(
    "dedup_ngram_jaccard",
    s"""$sqlCandCte, sh AS (SELECT doc_id, $sqlShingles AS sh FROM documents)
       |SELECT doc_a, doc_b,
       |       CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
       |       CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT) AS n_union,
       |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |         / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
       |FROM cand
       |JOIN sh a ON cand.doc_a = a.doc_id
       |JOIN sh b ON cand.doc_b = b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    val t = Tables(s, dir)
    // localCheckpoint (eager), NOT persist: both frames are tiny
    // (candidates, not corpus) and each is consumed twice below, so the
    // signature pipeline and the pruned shingling run exactly once.
    // persist() would leak into the session's CacheManager and turn any
    // later identical plan (e.g. a benchmark's second run) into a
    // silent cache hit; a localCheckpoint is scoped to this invocation.
    val cand = candidatePairs(t).cut()
    // Shingle ONLY docs that appear in a candidate pair (left-semi
    // prune): verification cost scales with candidates, not corpus —
    // the property that keeps this shape viable at 100 TB.
    val candIds = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val sh = tokenized(t)
      .join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shinglesOf(col("toks")).as("sh"))
      .cut()
    val inter = size(array_intersect(col("a.sh"), col("b.sh")))
    val uni = size(array_distinct(concat(col("a.sh"), col("b.sh"))))
    cand
      .join(sh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sh.as("b"), col("doc_b") === col("b.doc_id"))
      .select(
        col("doc_a"), col("doc_b"),
        inter.cast("long").as("n_common"),
        uni.cast("long").as("n_union"),
        (inter.cast("double") / uni.cast("double")).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Shingle-set CONTAINMENT over the LSH candidates — the asymmetric
    * twin of `dedup_ngram_jaccard`: c = |A∩B| / min(|A|,|B|). A short
    * doc fully quoted inside a long one scores containment ≈ 1.0 while
    * its Jaccard stays low (the union is dominated by the long doc), so
    * this is the verifier for subset/quotation dups the symmetric score
    * misses. Same candidate-pruned plan as the Jaccard verifier: shingle
    * only docs in candidate pairs (left-semi), cost follows candidates,
    * not corpus; the e6 integerized ratio keeps the hash engine-stable
    * (n_common·1e6 stays in int64 below ~9e12 shingles/doc). */
  private val dedupContainment = Q(
    "dedup_containment",
    s"""$sqlCandCte, sh AS (
       |  SELECT doc_id, list_distinct($sqlShingles) AS sh FROM documents
       |)
       |SELECT doc_a, doc_b,
       |       CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
       |       CAST(len(a.sh) AS BIGINT) AS n_a,
       |       CAST(len(b.sh) AS BIGINT) AS n_b,
       |       CAST(len(list_intersect(a.sh, b.sh)) * 1000000
       |            // least(len(a.sh), len(b.sh)) AS BIGINT) AS containment_e6
       |FROM cand
       |JOIN sh a ON cand.doc_a = a.doc_id
       |JOIN sh b ON cand.doc_b = b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    val t = Tables(s, dir)
    val cand = candidatePairs(t).cut()
    val candIds = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val sh = tokenized(t)
      .join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        array_distinct(shinglesOf(col("toks"))).as("sh"))
      .cut()
    val inter = size(array_intersect(col("a.sh"), col("b.sh"))).cast("long")
    cand
      .join(sh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sh.as("b"), col("doc_b") === col("b.doc_id"))
      .select(
        col("doc_a"), col("doc_b"),
        inter.as("n_common"),
        size(col("a.sh")).cast("long").as("n_a"),
        size(col("b.sh")).cast("long").as("n_b"))
      // least(n_a, n_b) ≥ 1 is an INVARIANT here, not an assumption:
      // both endpoints came through candidatePairs, whose band rows
      // exist only for docs with ≥ R non-NULL min-hashes — i.e. at
      // least one shingle — and `sh` computes the same shingle rule.
      // A shingle-less doc can't reach this division; nullif keeps the
      // row NULL-safe (never x/0) if that invariant is ever broken
      // upstream, instead of throwing mid-scan.
      .withColumn("containment_e6",
        expr("n_common * 1000000 DIV nullif(least(n_a, n_b), 0)"))
      .orderBy("doc_a", "doc_b")
  }

  /** Connected components over the LSH candidate-pair graph — the
    * survivor-selection step of a near-dedup pipeline (every doc maps to
    * its cluster representative = the component's min doc_id).
    *
    * Implementation is min-label propagation: per round, every node
    * takes the min label among itself and its neighbors; converged when
    * no label changes. Each round is one distributed join + groupBy;
    * the driver loop only counts changes (a scalar) and is bounded by
    * the graph diameter — near-dup clusters are shallow (the bucket
    * graph is cliques + stars, see [[candidatePairs]]), so this
    * converges in a handful of rounds where a 100 TB corpus would use
    * the same loop (the large-star/small-star refinement halves rounds
    * but not the per-round shape). Per-round localCheckpoint keeps the
    * lineage flat (an unbroken loop lineage grows exponentially).
    *
    * The DuckDB oracle computes components independently via a
    * recursive-CTE transitive closure over the same bucket graph — and
    * the rank cap in [[candidatePairs]] preserves components exactly
    * (cap graph = clique head + star tail over the same node set), so
    * both sides agree even on degenerate buckets. */
  private val dedupComponents = Q(
    "dedup_components",
    s"""$sqlReachCte
       |SELECT s AS doc_id, min(t) AS component
       |FROM reach GROUP BY s ORDER BY doc_id""".stripMargin) { (s, dir) =>
    componentLabels(Tables(s, dir)).orderBy("doc_id")
  }

  /** CTE chain ending in `reach(s, t)` — the recursive transitive
    * closure over the candidate-pair graph, shared by the
    * dedup_components and dedup_component_stats oracles. */
  private def sqlReachCte: String =
    s"""WITH RECURSIVE ${sqlCandCte.stripPrefix("WITH ")}, nodes AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM cand
       |    UNION ALL SELECT doc_b FROM cand)
       |), edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM cand
       |  UNION SELECT doc_b, doc_a FROM cand
       |), reach(s, t) AS (
       |  SELECT doc_id, doc_id FROM nodes
       |  UNION SELECT a, b FROM edges
       |  UNION SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a
       |)""".stripMargin

  /** Deduplication REPORT — the component-size histogram a corpus
    * owner reads before deciding thresholds: for every cluster size,
    * how many near-dup components exist and how many documents they
    * hold, with unpaired docs surfacing as the size-1 row so the
    * histogram's n_docs column sums to the corpus size. Composes the
    * shared propagation labels ([[componentLabelsOf]]) with two
    * metadata-sized aggregates plus one 1-row broadcast cross join for
    * the singleton count — nothing data-sized survives the first
    * groupBy, so the report costs the same as the labeling itself at
    * any scale. Oracle: recursive-CTE closure → identical histogram
    * algebra. */
  private val dedupComponentStats = Q(
    "dedup_component_stats",
    s"""$sqlReachCte, comp AS (
       |  SELECT s AS doc_id, min(t) AS component FROM reach GROUP BY s
       |), szs AS (
       |  SELECT component, count(*) AS sz FROM comp GROUP BY component
       |), hist AS (
       |  SELECT sz, count(*) AS nc FROM szs GROUP BY sz
       |  UNION ALL
       |  SELECT 1 AS sz,
       |         (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp) AS nc
       |)
       |SELECT CAST(sz AS BIGINT) AS size,
       |       CAST(sum(nc) AS BIGINT) AS n_components,
       |       CAST(sz * sum(nc) AS BIGINT) AS n_docs
       |FROM hist GROUP BY sz ORDER BY size""".stripMargin) { (s, dir) =>
    val t = Tables(s, dir)
    val labels = componentLabels(t)
    val szs = labels.groupBy(col("component")).agg(count(lit(1)).as("sz"))
    val hist = szs.groupBy(col("sz"))
      .agg(count(lit(1)).cast("long").as("nc"))
    val paired = labels.agg(count(lit(1)).as("np"))
    val singles = t.documents.agg(count(lit(1)).as("nt"))
      .crossJoin(broadcast(paired))
      .select(lit(1L).as("sz"), (col("nt") - col("np")).as("nc"))
    hist.unionByName(singles)
      .groupBy(col("sz"))
      .agg(sum(col("nc")).as("n_components"))
      .select(
        col("sz").cast("long").as("size"),
        col("n_components"),
        (col("sz") * col("n_components")).cast("long").as("n_docs"))
      .orderBy("size")
  }

  /** Min-label propagation over the candidate graph → (doc_id,
    * component) for every doc that appears in a candidate pair. Shared
    * by dedup_components (the labels themselves) and dedup_survivors
    * (labels composed back onto the corpus). */
  private[graft] def componentLabels(t: Tables): DataFrame =
    componentLabelsOf(candidatePairs(t))

  /** Min-label propagation over an arbitrary (doc_a, doc_b) edge
    * frame — shared by the doc-level components query and the image
    * near-dup graph ([[graft.mm.MultimodalQueries]]). */
  /** Directed-edge rows per propagation-loop shuffle partition: a loop
    * frame row is a few longs, so ~1M rows/partition keeps partitions
    * in the tens of MB — comfortably in-memory per task. */
  private[graft] val LoopEdgeRowsPerPartition: Long = 1L << 20

  /** Shuffle width for the propagation loop, derived from the measured
    * directed-edge row count: a floor of 4 (test-SF frames are tiny —
    * wider shuffles only add scheduling floor), scaling linearly with
    * edge volume, capped at the session's own `shuffle.partitions` (the
    * deployment's declared parallelism ceiling). At 100 TB a
    * billions-of-rows edge frame saturates the cap; the loop never
    * funnels a corpus-scale frame through a local-scale constant. */
  private[graft] def loopShufflePartitions(
      edgeRows: Long, sessionParts: Int): Int =
    math.max(4L, math.min(sessionParts.toLong,
      edgeRows / LoopEdgeRowsPerPartition)).toInt

  /** Edge-count gate below which components run as a DRIVER union-find
    * instead of the distributed propagation loop — the [[graft.ops
    * .ScaleGates]] discipline applied to the loop itself. The loop's
    * cost at small scale is pure fixed overhead (5+ driver actions,
    * each paying scheduling + compile floor — ~2 s per call measured
    * at sf0.1 regardless of data); a dup graph under a million edges
    * is label-frame-sized by the broadcast gate's own argument
    * (~100 MB of transient boxed rows at the gate, one collect + one
    * parallelize), so the driver pass answers in the time ONE of the
    * loop's actions costs. Above the gate — the 100 TB regime where
    * edge frames are billions of rows — the distributed loop runs
    * unchanged. Override per session with `graft.cc.driverMaxEdges`
    * (0 forces the distributed path; specs pin both paths' parity). */
  private[graft] val LoopDriverMaxEdges: Long =
    graft.ops.ScaleGates.LabelsBroadcastMaxRows

  /** Driver-side exact connected components for gate-sized edge
    * frames: path-halving union-find, then min-member labeling — the
    * same (node, min id in component) contract as the distributed
    * loop, bit-identical on any graph both can run. */
  private def driverComponents(
      edgeLeaf: DataFrame, edgeRows: Long): DataFrame = {
    val spark = edgeLeaf.sparkSession
    val dt = edgeLeaf.schema("doc_a").dataType
    val ord: Ordering[Any] = dt match {
      case org.apache.spark.sql.types.LongType =>
        Ordering.by(_.asInstanceOf[Long])
      case org.apache.spark.sql.types.IntegerType =>
        Ordering.by(_.asInstanceOf[Int])
      case org.apache.spark.sql.types.StringType =>
        Ordering.by(_.asInstanceOf[String])
      case other => throw new IllegalArgumentException(
        s"driverComponents: unsupported node id type $other")
    }
    // Capacity clamped: a conf-raised gate (`graft.cc.driverMaxEdges`)
    // above ~715M edges would overflow Int in `edgeRows * 3` and throw
    // on a negative capacity — clamp to the HashMap's own ceiling (the
    // collect would OOM long before a clamped map matters).
    val parent = new java.util.HashMap[Any, Any](
      math.min(edgeRows * 3, Int.MaxValue.toLong - 8).toInt)
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) {
        // Path halving: point r at its grandparent as we walk.
        parent.put(r, parent.get(parent.get(r)))
        r = parent.get(r)
      }
      r
    }
    // One job: a collect of ≤ gate rows (the gate's memory argument);
    // toLocalIterator would pay one scheduling floor PER partition.
    // Columns resolved BY NAME, like the distributed path — the two
    // engines must agree on any edge frame shape.
    for (row <- edgeLeaf.select(col("doc_a"), col("doc_b")).collect()) {
      val (a, b) = (row.get(0), row.get(1))
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(ra, rb)
    }
    // Min member per root, then every node labeled with its root's min
    // — union order never shows through.
    val minOf = new java.util.HashMap[Any, Any]()
    parent.keySet().asScala.foreach { v =>
      val r = find(v)
      val m = minOf.get(r)
      if (m == null || ord.lt(v, m)) minOf.put(r, v)
    }
    val out = parent.keySet().asScala.toSeq
      .map(v => org.apache.spark.sql.Row(v, minOf.get(find(v))))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", dt),
      org.apache.spark.sql.types.StructField("component", dt)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(out,
        math.max(1, (out.size / 65536) + 1)), schema)
  }

  private[graft] def componentLabelsOf(edgeFrame: DataFrame): DataFrame = {
    // TWO engines behind one contract, picked by measured edge count
    // ([[LoopDriverMaxEdges]]): gate-sized graphs run a driver
    // union-find (one collect + one parallelize — the whole answer
    // costs what ONE distributed action's scheduling floor costs);
    // larger graphs run the distributed propagation loop below.
    //
    // The loop's fixed cost is DRIVER actions, not executor work (the
    // frames are candidate-sized): every eager action pays scheduling +
    // optimization gaps that round-3 measured at ~half the query's wall
    // time. So the loop runs ONE action per batch of TWO propagation
    // rounds PLUS one pointer-jump (shortcut):
    //  - checkpoints are LAZY — round r's partitions materialize inside
    //    round r+1's (or the count's) job, each still cutting lineage;
    //  - the first min-over-neighbors round is fused into label init
    //    (an aggregate over the edge list — no join needed from
    //    identity labels);
    //  - the previous label rides through the groupBy (every id has
    //    exactly one labels row, so max(old) IS its prior label) and
    //    convergence is read off the same materialized result, one
    //    batch at a time. Min-label propagation is monotone, so "no
    //    change across a step" is exactly the fixpoint test;
    //  - the SHORTCUT (comp[v] := min(comp[v], comp[comp[v]]) — every
    //    comp value is itself a labeled node id) doubles the effective
    //    propagation distance per batch, so convergence is
    //    O(log diameter) batches, not O(diameter): clique+star bucket
    //    graphs converge in 1-2 batches either way, but genuine
    //    near-dup CHAINS (the image hamming graph, round 7) went from
    //    ~10 batches of AQE scheduling-floor jobs to 3.
    // The loop compiles under AQE-off + a narrowed shuffle width — the
    // right conf for dup-graph-sized frames, the wrong one for anything
    // else compiling on the session meanwhile. So the loop runs on a
    // CLONED session ([[org.apache.spark.sql.graft.IsolatedConf]]):
    // conf mutations are clone-local (concurrent queries on the
    // caller's session keep their width and AQE), while SparkContext,
    // cache and catalog stay shared. Plans cross sessions by re-rooting
    // the analyzed tree — metadata-only, never a data copy.
    val ccDebug = sys.env.contains("GRAFT_DEBUG_CC")
    val ccT0 = System.nanoTime()
    def ccMark(label: String): Unit =
      if (ccDebug)
        println(f"[cc-debug] $label at ${(System.nanoTime() - ccT0) / 1e9}%.3f s")
    val callerSession = edgeFrame.sparkSession
    val callerParts =
      callerSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    ccMark("start")
    // The edge pipeline is lineage-cut (and therefore PHYSICALLY
    // PLANNED) on the CALLER's session: the corpus-scale pair
    // generation compiles under the caller's conf — AQE on, full
    // width. The count both materializes the leaf and feeds the
    // driver-vs-distributed gate (and, above it, the loop width).
    val edgeLeaf = edgeFrame.cut(false)
    val edgeRows = edgeLeaf.count()
    ccMark(s"edges counted ($edgeRows)")
    if (edgeRows <= callerSession.conf
        .get("graft.cc.driverMaxEdges", LoopDriverMaxEdges.toString).toLong) {
      val labels = driverComponents(edgeLeaf, edgeRows)
      ccMark("driver union-find done")
      return labels.select(
        col("doc_id"), col("component"))
    }
    val loopSession = org.apache.spark.sql.graft.IsolatedConf.sessionFor(
      edgeFrame, Map(
        "spark.sql.adaptive.enabled" -> "false",
        // Width chosen from the MEASURED edge volume before ANY loop
        // frame plans (lazy cuts still force physical planning at
        // declaration, so the init aggregate below must already see
        // the narrow width): see the wide comment above the loop.
        "spark.sql.shuffle.partitions" ->
          loopShufflePartitions(2 * edgeRows, callerParts).toString,
        // Re-sync the checkpoint-mode key per call: the clone is
        // cached per thread, and the caller may have configured
        // reliable checkpointing after the clone was first minted.
        graft.ops.Checkpoints.DirKey ->
          callerSession.conf.get(graft.ops.Checkpoints.DirKey, "")))
    // Only the checkpointed LEAF crosses into the clone; re-rooting
    // the un-cut frame would compile the whole upstream pipeline
    // AQE-off and, on a cached clone, under a PREVIOUS call's
    // narrowed loop width.
    ccMark("clone fetched")
    val edges = org.apache.spark.sql.graft.IsolatedConf
      .reRoot(loopSession, edgeLeaf)
    ccMark("edges re-rooted")
    val bi = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .cut()
    ccMark("bi declared")
    val compType = bi.schema("src").dataType
    var labels = bi.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("comp"))
      .cut(false)
    ccMark("labels init declared")
    def step(prev: DataFrame): DataFrame = {
      val nbr = bi
        .join(prev.select(col("id").as("src"), col("comp")), "src")
        .select(col("dst").as("id"), col("comp"),
          lit(null).cast(compType).as("old"))
      prev.select(col("id"), col("comp"), col("comp").as("old"))
        .union(nbr)
        .groupBy(col("id"))
        .agg(min(col("comp")).as("comp"), max(col("old")).as("old"))
    }
    def jump(prev: DataFrame): DataFrame = {
      val hop = prev.select(col("id").as("jid"), col("comp").as("jcomp"))
      prev.join(hop, col("comp") === col("jid"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("jcomp"), col("comp"))).as("comp"),
          col("old"))
    }
    // AQE's per-exchange re-optimization buys the loop nothing and
    // costs one scheduling-floor JOB per exchange per batch (~8
    // jobs/batch measured at sf0.1). Compiling the loop with AQE off
    // makes each batch ONE job; the pair-generation pipeline before the
    // loop and every consumer after it still compile under AQE — on
    // the CALLER's session, which the clone never touches.
    //
    // With AQE off the loop's shuffle width must be chosen here — and
    // it must be chosen from MEASURED edge volume, not a constant. The
    // frames the loop shuffles are dup-graph-sized: orders of magnitude
    // under the corpus at test SFs (a handful of rows → a low floor
    // keeps each batch at the scheduling minimum), but dup-rate ×
    // corpus on a 100 TB crawl (billions of rows at a realistic 30-50%
    // dup rate — the exact frames [[graft.ops.ScaleGates]] refuses to
    // broadcast). `bi` is eagerly cut, so the width count above is a
    // cached-partition scan, and the width scales linearly with edge
    // rows up to the caller session's configured parallelism — the
    // cluster operator's own ceiling.
    var changed = 1L
    var batches = 0
    while (changed > 0 && batches < 16) {
      val next = jump(step(step(labels))).cut(false)
      ccMark(s"batch $batches declared")
      changed = next.filter(col("comp") =!= col("old")).count()
      ccMark(s"batch $batches counted")
      labels = next
      batches += 1
    }
    // Non-convergence must fail loudly: the oracle computes the full
    // transitive closure, so returning partially-propagated labels would
    // surface only as an unexplained hash mismatch. With shortcutting,
    // 16 batches cover component diameters far beyond any candidate
    // graph (clique+star buckets or capped hamming chains); hitting
    // this means the graph shape changed.
    if (sys.env.contains("GRAFT_DEBUG_CC"))
      println(s"[cc-debug] converged in $batches batches")
    require(changed == 0, s"components not converged after $batches batches")
    // Hand the labels back rooted in the CALLER's session (the frame is
    // a checkpointed leaf + projection): downstream consumers compose
    // it with their own frames and must compile under their own conf.
    org.apache.spark.sql.graft.IsolatedConf.reRoot(
      callerSession,
      labels.select(col("id").as("doc_id"), col("comp").as("component")))
  }

  /** Survivor selection — the step that closes the near-dedup pipeline
    * (candidates → components → deduped corpus): every component keeps
    * its min-doc_id representative, docs outside any candidate pair
    * survive unchanged, and each survivor reports its cluster size
    * (1 for singletons). Labels and sizes are dup-graph-sized frames
    * joined among themselves, then ONE left join annotates the corpus
    * scan and the filter `component IS NULL OR component = doc_id`
    * keeps survivors. The labels side is dup-rate × corpus — broadcast
    * is taken only below [[graft.ops.ScaleGates.LabelsBroadcastMaxRows]]
    * (measured on the checkpointed labels frame); above it the join
    * shuffles on doc_id, which at 100 TB is the safe default. */
  private val dedupSurvivors = Q(
    "dedup_survivors",
    s"""WITH RECURSIVE ${sqlCandCte.stripPrefix("WITH ")}, nodes AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM cand
       |    UNION ALL SELECT doc_b FROM cand)
       |), edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM cand
       |  UNION SELECT doc_b, doc_a FROM cand
       |), reach(s, t) AS (
       |  SELECT doc_id, doc_id FROM nodes
       |  UNION SELECT a, b FROM edges
       |  UNION SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a
       |), comp AS (
       |  SELECT s AS doc_id, min(t) AS component FROM reach GROUP BY s
       |), sizes AS (
       |  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM comp GROUP BY component
       |)
       |SELECT d.doc_id, d.source,
       |       CAST(coalesce(z.cluster_size, 1) AS BIGINT) AS cluster_size
       |FROM documents d
       |LEFT JOIN comp c ON d.doc_id = c.doc_id
       |LEFT JOIN sizes z ON z.component = c.component
       |WHERE c.doc_id IS NULL OR c.component = d.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    survivorsFrame(Tables(s, dir)).orderBy("doc_id")
  }

  /** DEDUP-AWARE split assignment — the operator that FIXES what
    * `split_leakage` audits: a doc's train/val/test split is the
    * content-independent hash rule (`split_assign`'s exact buckets)
    * applied to its near-dup COMPONENT REPRESENTATIVE instead of its
    * own id, so every member of a near-dup cluster lands in the same
    * split by construction and contamination across splits is
    * structurally impossible (for the pairs the index catches).
    * Unpaired docs keep their own id as representative — their split
    * equals `split_assign`'s. Scale: labels are dup-graph-sized, the
    * corpus is annotated by ONE gated left join, the split is a
    * narrow projection. */
  private val splitAssignDedup = Q(
    "split_assign_dedup", {
      val b = s"${graft.util.Hashes.sqlTokHash("CAST(rep AS VARCHAR)")} % 100"
      s"""WITH RECURSIVE ${sqlCandCte.stripPrefix("WITH ")}, nodes AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT doc_a AS doc_id FROM cand
         |    UNION ALL SELECT doc_b FROM cand)
         |), edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM cand
         |  UNION SELECT doc_b, doc_a FROM cand
         |), reach(s, t) AS (
         |  SELECT doc_id, doc_id FROM nodes
         |  UNION SELECT a, b FROM edges
         |  UNION SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a
         |), comp AS (
         |  SELECT s AS doc_id, min(t) AS component FROM reach GROUP BY s
         |), r AS (
         |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
         |)
         |SELECT doc_id, rep, CAST($b AS BIGINT) AS bucket,
         |       ${graft.util.Hashes.sqlSplitOf("rep")} AS split
         |FROM r
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
    val t = Tables(s, dir)
    val labels = componentLabels(t).cut(false)
    val annotated = graft.ops.ScaleGates.annotateWithLabels(
      t.documents.select(col("doc_id")), labels, labels.count(), "doc_id")
    val rep = coalesce(col("component"), col("doc_id"))
    annotated.select(
      col("doc_id"), rep.as("rep"),
      pmod(Hashes.tokHash(rep.cast("string")), lit(100L)).as("bucket"),
      Hashes.splitOf(rep).as("split"))
      .orderBy("doc_id")
  }

  /** QUALITY-AWARE survivor selection — the production variant of
    * `dedup_survivors`: real pipelines keep each near-dup cluster's
    * BEST member (here: most tokens — the most complete copy, with
    * doc_id as the deterministic tie-break), not its min-id member; a
    * truncated copy must lose to the full document it duplicates.
    * Same scale shape as the min-id variant — labels are
    * dup-graph-sized, the corpus is annotated by ONE gated left join,
    * and the pick is a per-COMPONENT rank window (cluster-sized
    * partitions; unlabeled docs never enter the window, so there is
    * no NULL-partition funnel). */
  private val dedupSurvivorsQuality = Q(
    "dedup_survivors_quality",
    s"""WITH RECURSIVE ${sqlCandCte.stripPrefix("WITH ")}, nodes AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM cand
       |    UNION ALL SELECT doc_b FROM cand)
       |), edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM cand
       |  UNION SELECT doc_b, doc_a FROM cand
       |), reach(s, t) AS (
       |  SELECT doc_id, doc_id FROM nodes
       |  UNION SELECT a, b FROM edges
       |  UNION SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a
       |), comp AS (
       |  SELECT s AS doc_id, min(t) AS component FROM reach GROUP BY s
       |), sizes AS (
       |  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM comp GROUP BY component
       |), q AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), best AS (
       |  SELECT doc_id FROM (
       |    SELECT c.doc_id,
       |           row_number() OVER (PARTITION BY c.component
       |                              ORDER BY q.n_tokens DESC, c.doc_id) AS rk
       |    FROM comp c JOIN q ON c.doc_id = q.doc_id
       |  ) WHERE rk = 1
       |)
       |SELECT d.doc_id, q.n_tokens,
       |       CAST(coalesce(z.cluster_size, 1) AS BIGINT) AS cluster_size
       |FROM documents d
       |JOIN q ON d.doc_id = q.doc_id
       |LEFT JOIN comp c ON d.doc_id = c.doc_id
       |LEFT JOIN sizes z ON z.component = c.component
       |LEFT JOIN best b ON d.doc_id = b.doc_id
       |WHERE c.doc_id IS NULL OR b.doc_id IS NOT NULL
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val t = Tables(s, dir)
    val labels = componentLabels(t).cut(false)
    val labelRows = labels.count()
    val sizes = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    def nTok = t.documents.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    // Survivors = corpus MINUS the per-component losers: the ranked
    // frame is DUP-GRAPH-SIZED (token counts inner-joined down to
    // labeled docs, pinned once), so the window and both gated joins
    // against the corpus move label-bounded rows only — and the
    // corpus is consumed by exactly ONE scan chain, not re-evaluated
    // per union branch (the first draft's union re-ran the scan and
    // the label join twice; the plan audit caught it).
    val ranked = nTok.join(labels, "doc_id").join(sizes, "component")
      .select(col("doc_id"), col("component"), col("n_tokens"),
        col("cluster_size"),
        row_number().over(Window.partitionBy(col("component"))
          .orderBy(col("n_tokens").desc, col("doc_id"))).as("rk"))
      .cut()
    val losers = ranked.filter(col("rk") > 1).select(col("doc_id"))
    val bestSizes = ranked.filter(col("rk") === 1)
      .select(col("doc_id"), col("cluster_size"))
    graft.ops.ScaleGates.annotateWithLabels(
      graft.ops.ScaleGates.dropByKeys(nTok, losers, labelRows, "doc_id"),
      bestSizes, labelRows, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .orderBy("doc_id")
  }

  /** The deduped-corpus survivor frame (unordered) — the declared
    * query above plus [[graft.etl.Sinks.materializeDedupedCorpus]]'s
    * write path both read it. */
  private[graft] def survivorsFrame(t: Tables): DataFrame = {
    val labels = componentLabels(t)
    val sizes = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    val annotated = labels.join(sizes, "component") // same rows as labels
    graft.ops.ScaleGates.annotateWithLabels(
      t.documents.select(col("doc_id"), col("source")),
      annotated, labels.count(), "doc_id")
      .filter(col("component").isNull || col("component") === col("doc_id"))
      .select(col("doc_id"), col("source"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
  }

  /** SOFT dedup — weight, don't drop (the down-weighting alternative
    * to survivor selection: duplication signals usefulness as well as
    * redundancy, so instead of keeping one copy at weight 1, keep one
    * copy at a SUBLINEAR weight of its cluster size — here √n, between
    * hard dedup's 1 and no-dedup's n). Every `dedup_survivors` row
    * gains `weight_e6 = 10^6·√cluster_size` computed EXACTLY
    * ([[graft.util.Det.isqrt]] — the ±1-fixed integer sqrt, no
    * floating accumulation) and `effective_tokens` — the survivor's
    * token count billed at that weight, the number a mixture planner
    * consumes downstream. Singletons weigh exactly 1.0. Same scale
    * shape as `dedup_survivors`: labels are dup-graph-sized, ONE gated
    * left join annotates the corpus, weighting is a narrow
    * projection. */
  private val dedupSoftWeights = Q(
    "dedup_soft_weights", {
      val w = graft.util.Det.sqlIsqrt(
        "coalesce(z.cluster_size, 1) * 1000000000000")
      s"""WITH RECURSIVE ${sqlCandCte.stripPrefix("WITH ")}, nodes AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT doc_a AS doc_id FROM cand
         |    UNION ALL SELECT doc_b FROM cand)
         |), edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM cand
         |  UNION SELECT doc_b, doc_a FROM cand
         |), reach(s, t) AS (
         |  SELECT doc_id, doc_id FROM nodes
         |  UNION SELECT a, b FROM edges
         |  UNION SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a
         |), comp AS (
         |  SELECT s AS doc_id, min(t) AS component FROM reach GROUP BY s
         |), sizes AS (
         |  SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM comp GROUP BY component
         |), surv AS (
         |  SELECT d.doc_id,
         |         CAST(coalesce(z.cluster_size, 1) AS BIGINT)
         |           AS cluster_size,
         |         CAST(len(string_split(d.text, ' ')) AS BIGINT)
         |           AS n_tokens,
         |         CAST($w AS BIGINT) AS weight_e6
         |  FROM documents d
         |  LEFT JOIN comp c ON d.doc_id = c.doc_id
         |  LEFT JOIN sizes z ON z.component = c.component
         |  WHERE c.doc_id IS NULL OR c.component = d.doc_id
         |)
         |SELECT doc_id, cluster_size, n_tokens, weight_e6,
         |       n_tokens * weight_e6 // 1000000 AS effective_tokens
         |FROM surv ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
    val t = Tables(s, dir)
    val labels = componentLabels(t)
    val sizes = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    val annotated = labels.join(sizes, "component")
    graft.ops.ScaleGates.annotateWithLabels(
      t.documents.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")),
      annotated, labels.count(), "doc_id")
      .filter(col("component").isNull || col("component") === col("doc_id"))
      .select(col("doc_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        col("n_tokens"))
      .withColumn("weight_e6",
        graft.util.Det.isqrt(col("cluster_size") * 1000000000000L))
      .withColumn("effective_tokens",
        expr("n_tokens * weight_e6 DIV 1000000"))
      .orderBy("doc_id")
  }

  /** Chunk-level near-dedup: the MinHash pipeline applied at the
    * granularity LLM training pipelines actually dedup at — overlapping
    * token windows ([[graft.text.TextQueries.ChunkSize]]/
    * [[graft.text.TextQueries.ChunkStride]], the same chunker as
    * text_chunk), so a paragraph duplicated across otherwise-different
    * documents still surfaces. Same bucketed shape as doc-level LSH:
    * one signature pass over exploded chunk shingles, bucket groupBy on
    * (band, band_hash), capped all-pairs + star edges to the bucket's
    * first chunk for degenerate buckets; keys are (doc_id, chunk_id)
    * pairs ordered lexicographically. Rows grow by the chunk factor,
    * shuffles stay K longs per chunk — linear in corpus bytes. */
  /** DuckDB CTE chain ending in `cand(doc_a, chunk_a, doc_b, chunk_b)`
    * — the chunk-level twin of [[sqlCandCte]], shared by
    * dedup_chunk_lsh and the doc-edge projection. */
  private def sqlChunkCandCte: String = {
      import graft.text.TextQueries.{ChunkSize => CS, ChunkStride => ST}
      val nch = s"CAST((greatest(len($sqlToks) - $CS, 0) + $ST - 1) // $ST + 1 AS BIGINT)"
      val ctoks = s"list_slice(toks, chunk_id * $ST + 1, chunk_id * $ST + $CS)"
      val sig = (0 until K)
        .map(i => sqlSignatureOf(i, sqlShinglesOf(ctoks)))
        .mkString(",\n         ")
      val bandUnion = (0 until B)
        .map(b => s"SELECT doc_id, chunk_id, $b AS band, ${sqlBandHash(b)} AS bh FROM csig")
        .mkString("\n  UNION ALL ")
      s"""WITH ch AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks,
         |         unnest(range(0, $nch)) AS chunk_id
         |  FROM documents
         |), csig AS (
         |  SELECT doc_id, chunk_id,
         |         $sig
         |  FROM ch
         |), cbands AS (
         |  SELECT * FROM ($bandUnion) WHERE bh IS NOT NULL
         |), ranked AS (
         |  SELECT doc_id, chunk_id, band, bh,
         |         row_number() OVER (PARTITION BY band, bh
         |                            ORDER BY doc_id, chunk_id) AS rk,
         |         count(*) OVER (PARTITION BY band, bh) AS m,
         |         first_value(doc_id) OVER (PARTITION BY band, bh
         |                                   ORDER BY doc_id, chunk_id) AS adoc,
         |         first_value(chunk_id) OVER (PARTITION BY band, bh
         |                                     ORDER BY doc_id, chunk_id) AS achunk
         |  FROM cbands
         |), cand AS (
         |  SELECT DISTINCT doc_a, chunk_a, doc_b, chunk_b FROM (
         |    SELECT l.doc_id AS doc_a, l.chunk_id AS chunk_a,
         |           r.doc_id AS doc_b, r.chunk_id AS chunk_b
         |    FROM ranked l JOIN ranked r
         |      ON l.band = r.band AND l.bh = r.bh
         |     AND (l.doc_id < r.doc_id
         |          OR (l.doc_id = r.doc_id AND l.chunk_id < r.chunk_id))
         |    WHERE l.rk <= $MaxBucketPairDocs AND r.rk <= $MaxBucketPairDocs
         |    UNION ALL
         |    SELECT adoc, achunk, doc_id, chunk_id
         |    FROM ranked WHERE m > 1 AND rk > $MaxBucketPairDocs
         |  )
         |)""".stripMargin
  }

  /** Chunk-level candidate pairs (the Spark twin of [[sqlChunkCandCte]]),
    * unordered — shared by dedup_chunk_lsh and the doc-edge projection. */
  private[dedup] def chunkCandidatePairs(t: Tables): DataFrame = {
    import graft.text.TextQueries.{ChunkSize => CS, ChunkStride => ST}
    import org.apache.spark.sql.expressions.Window
    val n = size(col("toks"))
    val nch = (greatest(n - CS, lit(0)) + (ST - 1)).divide(ST).cast("int") + 1
    // Chunk tokens are CONTIGUOUS doc tokens, so a chunk's 3-gram set is
    // exactly a slice of the doc's shingle array: chunk c covers tokens
    // [c·ST, c·ST+CS) → shingles [c·ST, c·ST+CS−2) (the last partial
    // chunk truncates automatically — slice stops at the array end, and
    // split() never yields NULL tokens, so no window is dropped). One
    // native Shingles pass per DOC instead of one per chunk: no ctoks
    // array materialization, no re-shingling of the 10-token overlaps.
    val sig = tokenized(t)
      .select(col("doc_id"), shinglesOf(col("toks")).as("dsh"),
        explode(sequence(lit(0L), nch.cast("long") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        explode(slice(col("dsh"), col("chunk_id").cast("int") * ST + 1,
          lit(CS - 2))).as("sh"))
      .select(col("doc_id"), col("chunk_id"), Hashes.tokHash(col("sh")).as("h"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(
        min(Hashes.affine(0, col("h"))).as("mh0"),
        (1 until K).map(i => min(Hashes.affine(i, col("h"))).as(s"mh$i")): _*)
    val bands = sig
      .select(col("doc_id"), col("chunk_id"),
        explode(array((0 until B).map(b =>
          struct(lit(b).as("band"), bandHash(b).as("bh"))): _*)).as("bb"))
      .select(col("doc_id"), col("chunk_id"),
        col("bb.band").as("band"), col("bb.bh").as("bh"))
      .filter(col("bh").isNotNull)
    val byBucket = Window.partitionBy(col("band"), col("bh"))
    val ord = byBucket.orderBy(col("doc_id"), col("chunk_id"))
    val ranked = bands
      .select(col("doc_id"), col("chunk_id"), col("band"), col("bh"),
        row_number().over(ord).as("rk"),
        count(lit(1)).over(byBucket).as("m"),
        first(col("doc_id")).over(ord).as("adoc"),
        first(col("chunk_id")).over(ord).as("achunk"))
    val headPairs = ranked
      .filter(col("rk") <= MaxBucketPairDocs)
      .groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("chunk_id")))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(
        flatten(transform(col("ids"), (x, i) =>
          transform(slice(col("ids"), i + 2, size(col("ids"))),
            y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(
        col("p.a.doc_id").as("doc_a"), col("p.a.chunk_id").as("chunk_a"),
        col("p.b.doc_id").as("doc_b"), col("p.b.chunk_id").as("chunk_b"))
    val tailStarEdges = ranked
      .filter(col("m") > 1 && col("rk") > MaxBucketPairDocs)
      .select(
        col("adoc").as("doc_a"), col("achunk").as("chunk_a"),
        col("doc_id").as("doc_b"), col("chunk_id").as("chunk_b"))
    headPairs.union(tailStarEdges).distinct()
  }

  private val dedupChunkLsh = Q(
    "dedup_chunk_lsh",
    s"""$sqlChunkCandCte
       |SELECT doc_a, chunk_a, doc_b, chunk_b FROM cand
       |ORDER BY doc_a, chunk_a, doc_b, chunk_b""".stripMargin) { (s, dir) =>
    chunkCandidatePairs(Tables(s, dir))
      .orderBy("doc_a", "chunk_a", "doc_b", "chunk_b")
  }

  /** Doc-level near-dup edges from chunk evidence — the projection step
    * between chunk-granularity detection and doc-granularity survivor
    * selection: distinct cross-document chunk pairs collapse to
    * (doc_a, doc_b) edges weighted by how many chunk pairs support
    * them (same-doc pairs — overlapping windows of one document — are
    * evidence of nothing and are dropped). Feeds the same connected-
    * components machinery as the doc-level LSH graph. One groupBy on
    * top of the shared chunk-candidate frame. */
  private val dedupChunkDocEdges = Q(
    "dedup_chunk_doc_edges",
    s"""$sqlChunkCandCte
       |SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_chunk_pairs
       |FROM cand
       |WHERE doc_a < doc_b
       |GROUP BY doc_a, doc_b
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    chunkCandidatePairs(Tables(s, dir))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_chunk_pairs"))
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash Jaccard ESTIMATION against ground truth, per candidate
    * pair: the estimator is signature agreement (matching minhashes /
    * K — the textbook unbiased Jaccard estimate), the truth is the
    * exact shingle-set overlap, both e6-scaled integers so the
    * comparison is engine-exact. This is the quality gauge for the
    * whole LSH family: it quantifies, per pair, how far the K=12
    * sketch is from the exact similarity the sketch exists to avoid
    * computing. Scale shape mirrors dedup_ngram_jaccard: signatures
    * and shingles are computed only for docs appearing in a candidate
    * pair (left-semi prune), so cost follows candidates, not corpus. */
  private val dedupJaccardEst = Q(
    "dedup_jaccard_est", {
      val agree = (0 until K)
        .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""$sqlCandCte, sh AS (SELECT doc_id, $sqlShingles AS sh FROM documents)
         |SELECT doc_a, doc_b,
         |       CAST($agree AS BIGINT) AS n_agree,
         |       CAST(($agree) * 1000000 // $K AS BIGINT) AS est_e6,
         |       CAST(len(list_intersect(sa.sh, sb.sh)) * 1000000
         |            // len(list_distinct(list_concat(sa.sh, sb.sh))) AS BIGINT) AS exact_e6
         |FROM cand
         |JOIN sig a ON cand.doc_a = a.doc_id
         |JOIN sig b ON cand.doc_b = b.doc_id
         |JOIN sh sa ON cand.doc_a = sa.doc_id
         |JOIN sh sb ON cand.doc_b = sb.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin
    }) { (s, dir) =>
    val t = Tables(s, dir)
    val cand = candidatePairs(t).cut()
    val candIds = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val sig = signatures(t)
      .join(candIds, Seq("doc_id"), "left_semi")
      .cut()
    val sh = tokenized(t)
      .join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shinglesOf(col("toks")).as("sh"))
      .cut()
    val agree = (0 until K)
      .map(i => when(col(s"a.mh$i") === col(s"b.mh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val inter = size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("long")
    val uni = size(array_distinct(concat(col("sa.sh"), col("sb.sh"))))
      .cast("long")
    cand
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(
        col("doc_a"), col("doc_b"),
        agree.as("n_agree"), inter.as("c_inter"), uni.as("c_union"))
      .select(
        col("doc_a"), col("doc_b"), col("n_agree"),
        expr(s"n_agree * 1000000 div $K").as("est_e6"),
        expr("c_inter * 1000000 div c_union").as("exact_e6"))
      .orderBy("doc_a", "doc_b")
  }

  /** Edit-distance verification of candidate pairs: classic
    * Levenshtein over the first 256 chars of each side (both engines
    * implement the standard DP — identical values on identical
    * strings; the prefix bound caps the O(n·m) cell count per pair,
    * which is what you'd do at scale before escalating to a full
    * diff). Distances are normalized to e6 by the longer prefix
    * (integer div). Character-level verification complements the
    * token-level n-gram Jaccard check — transpositions and small
    * in-token edits that shift every containing shingle barely move
    * edit distance. Cost follows candidates: texts are fetched only
    * for docs in a pair (left-semi prune, same shape as the Jaccard
    * verifiers). */
  private val dedupEditDistance = Q(
    "dedup_edit_distance",
    s"""$sqlCandCte, tx AS (
       |  SELECT doc_id, substr(text, 1, 256) AS t FROM documents
       |)
       |SELECT doc_a, doc_b,
       |       CAST(levenshtein(a.t, b.t) AS BIGINT) AS edit_dist,
       |       CAST(length(a.t) AS BIGINT) AS len_a,
       |       CAST(length(b.t) AS BIGINT) AS len_b,
       |       CAST(levenshtein(a.t, b.t) * 1000000
       |            // greatest(length(a.t), length(b.t)) AS BIGINT) AS dist_e6
       |FROM cand
       |JOIN tx a ON cand.doc_a = a.doc_id
       |JOIN tx b ON cand.doc_b = b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    val t = Tables(s, dir)
    val cand = candidatePairs(t).cut()
    val candIds = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val tx = t.documents
      .join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), substring(col("text"), 1, 256).as("t"))
      .cut()
    cand
      .join(tx.as("a"), col("doc_a") === col("a.doc_id"))
      .join(tx.as("b"), col("doc_b") === col("b.doc_id"))
      .select(
        col("doc_a"), col("doc_b"),
        levenshtein(col("a.t"), col("b.t")).cast("long").as("edit_dist"),
        length(col("a.t")).cast("long").as("len_a"),
        length(col("b.t")).cast("long").as("len_b"))
      .select(
        col("doc_a"), col("doc_b"), col("edit_dist"), col("len_a"),
        col("len_b"),
        expr("edit_dist * 1000000 div greatest(len_a, len_b)").as("dist_e6"))
      .orderBy("doc_a", "doc_b")
  }

  /** INCREMENTAL near-dup candidates: a small "new batch" (here every
    * 20th doc — the daily-ingest slice) deduped AGAINST the existing
    * corpus, not within it. This is the production shape after the
    * first full dedup: day N+1's batch must only be compared to the
    * standing index. The plan inverts the batch pipeline's economics:
    * the new batch's band rows are tiny and BROADCAST onto the
    * corpus's bucketed band index, so the corpus is never self-joined,
    * never reshuffled — at 100 TB the standing band index is a
    * bucketed table and the daily dedup touches only colliding
    * buckets. The corpus side keeps the family's degenerate-bucket
    * rank cap ([[MaxBucketPairDocs]]): a pathological bucket
    * contributes its first 64 docs per new doc, O(m) not O(m²),
    * mirrored in the oracle. */
  private val dedupIncremental = Q(
    "dedup_incremental",
    s"""$sqlBandsCte, side AS (
       |  SELECT bands.*, (doc_id % 20 = 0) AS is_new FROM bands
       |), rankedc AS (
       |  SELECT doc_id, band, bh,
       |         row_number() OVER (PARTITION BY band, bh ORDER BY doc_id) AS rk
       |  FROM side WHERE NOT is_new
       |), cand AS (
       |  SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS corpus_doc
       |  FROM side n JOIN rankedc c ON n.band = c.band AND n.bh = c.bh
       |  WHERE n.is_new AND c.rk <= $MaxBucketPairDocs
       |)
       |SELECT new_doc, corpus_doc FROM cand
       |ORDER BY new_doc, corpus_doc""".stripMargin) { (s, dir) =>
    incrementalPairs(Tables(s, dir)).orderBy("new_doc", "corpus_doc")
  }

  /** STANDING dedup state as a WRITE-ONCE layout — what production
    * actually stores between daily batches (the scaladocs here always
    * said "stored tables in production, derived here"; now they are):
    * the standing (non-new) corpus's band index and its component
    * labels, planted once per (sfDir, signature params). labels are
    * written LAST, so labels/_SUCCESS marks both halves complete; a
    * crash mid-plant re-plants. The per-run cost of the incremental
    * queries drops from corpus-sized (re-minhash everything, re-run
    * the standing propagation) to BATCH-sized + bucket collisions —
    * the true incremental contract. */
  private def standingDedupState(t: Tables): (DataFrame, DataFrame) = {
    val root = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      "graft_standing_dedup_" + graft.util.Digests.short(
        s"${t.sfDir}:k$K:b$B:r$R:c$MaxBucketPairDocs:v1"))
    val fs = root.getFileSystem(t.spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(root, "labels/_SUCCESS"))) {
      bandsOfDocs(t.documents.filter(!(col("doc_id") % 20 === 0)))
        .write.mode("overwrite").parquet(s"$root/bands")
      componentLabelsOf(
        candidatePairsOf(t.spark.read.parquet(s"$root/bands")))
        .write.mode("overwrite").parquet(s"$root/labels")
    }
    (t.spark.read.parquet(s"$root/bands"),
      t.spark.read.parquet(s"$root/labels"))
  }

  /** The incremental (new_doc, corpus_doc) pair frame — shared by
    * dedup_incremental and dedup_incremental_components. New-batch
    * bands are computed per run (batch-sized); the corpus side reads
    * the standing layout. */
  private def incrementalPairs(t: Tables): DataFrame =
    bandProbe.pairs(
      bandsOfDocs(t.documents.filter(col("doc_id") % 20 === 0)),
      standingDedupState(t)._1)

  /** New-batch bands vs a standing corpus band index through the
    * shared capped [[CollisionProbe]] — key-only rows, no score.
    * Shared by the batch queries above and the streaming text loop
    * ([[graft.streaming.IncrementalDedup]]). */
  private[graft] val bandProbe = CollisionProbe(
    "doc_id", Seq("band", "bh"), MaxBucketPairDocs, "new_doc", "corpus_doc")

  /** INCREMENTAL connected components — the step that closes the
    * incremental pipeline end-to-end the way `dedup_survivors` closed
    * the batch one: day N+1's candidate edges ([[incrementalPairs]])
    * are labeled AGAINST the standing component state instead of
    * re-clustering the corpus. The corpus is first CONTRACTED to its
    * component ids (each standing component's min doc — derived here
    * from the corpus-only pair graph; in production this is the stored
    * labels table from the previous snapshot): every incremental edge
    * (new_doc, corpus_doc) is rewritten to (new_doc, component_id) by
    * first semi-joining the (corpus-scale) standing labels down to the
    * batch-sized touched key set — the batch keys are the broadcast
    * build side, never the standing table — and the
    * shared propagation engine then runs over the SUPER-GRAPH — whose
    * node count is bounded by the new batch plus touched components,
    * not the corpus. A new doc matching two different standing
    * components correctly MERGES them (both component ids join through
    * the new node), which a single relabel-by-lookup round would miss.
    * Final labels: standing docs relabel through one broadcast hash
    * lookup of their component id; corpus never self-joins, never
    * reshuffles. Oracle: recursive transitive closure over the UNION
    * of the corpus-only pair graph and the incremental edges — pinning
    * that contract-then-merge equals one-shot clustering of the
    * unioned graph (standing component ids are exactly the min-doc of
    * each corpus part, so the super-graph minimum is the true
    * minimum). */
  private val dedupIncrementalComponents = Q(
    "dedup_incremental_components",
    s"""WITH RECURSIVE ${sqlBandsCte.stripPrefix("WITH ")}, side AS (
       |  SELECT bands.*, (doc_id % 20 = 0) AS is_new FROM bands
       |), rankedc AS (
       |  SELECT doc_id, band, bh,
       |         row_number() OVER (PARTITION BY band, bh ORDER BY doc_id) AS rk,
       |         count(*) OVER (PARTITION BY band, bh) AS m,
       |         min(doc_id) OVER (PARTITION BY band, bh) AS bmin
       |  FROM side WHERE NOT is_new
       |), corpus_cand AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |    SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
       |    FROM rankedc l JOIN rankedc r
       |      ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
       |    WHERE l.rk <= $MaxBucketPairDocs AND r.rk <= $MaxBucketPairDocs
       |    UNION ALL
       |    SELECT bmin AS doc_a, doc_id AS doc_b
       |    FROM rankedc WHERE m > 1 AND rk > $MaxBucketPairDocs
       |  )
       |), incr AS (
       |  SELECT DISTINCT n.doc_id AS doc_a, c.doc_id AS doc_b
       |  FROM side n JOIN rankedc c ON n.band = c.band AND n.bh = c.bh
       |  WHERE n.is_new AND c.rk <= $MaxBucketPairDocs
       |), alledges AS (
       |  SELECT doc_a, doc_b FROM corpus_cand
       |  UNION SELECT doc_a, doc_b FROM incr
       |), nodes AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM alledges
       |    UNION ALL SELECT doc_b FROM alledges)
       |), edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM alledges
       |  UNION SELECT doc_b, doc_a FROM alledges
       |), reach(s, t) AS (
       |  SELECT doc_id, doc_id FROM nodes
       |  UNION SELECT a, b FROM edges
       |  UNION SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a
       |)
       |SELECT s AS doc_id, min(t) AS component,
       |       CAST(CASE WHEN s % 20 = 0 THEN 1 ELSE 0 END AS INTEGER) AS is_new
       |FROM reach GROUP BY s ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val t = Tables(s, dir)
    val isNew = col("doc_id") % 20 === 0
    // Standing state from the write-once layout (the stored tables
    // production keeps between batches); the only per-run signature
    // pass is the NEW batch — batch-sized, the incremental contract.
    val (standingBands, standing0) = standingDedupState(t)
    val standing = standing0.cut(false)
    val incr = bandProbe.pairs(
      bandsOfDocs(t.documents.filter(isNew)), standingBands)
      .cut(false)
    // Contract: corpus endpoint -> its standing component id (itself
    // when the doc was unpaired in the standing graph). The standing
    // labels table is corpus-scale (every doc in any near-dup pair —
    // billions of rows at a realistic dup rate), so it is NEVER the
    // broadcast build side: the batch-sized incremental key set is
    // broadcast into a semi-join that narrows standing to the touched
    // rows, and only that batch-bounded remnant is broadcast onward.
    val incrKeys = incr.select(col("corpus_doc")).distinct()
    val touchedLabels = standing.withColumnRenamed("doc_id", "corpus_doc")
      .join(broadcast(incrKeys), Seq("corpus_doc"), "left_semi")
    val touched = incrKeys
      .join(broadcast(touchedLabels), Seq("corpus_doc"), "left")
      .select(col("corpus_doc"),
        coalesce(col("component"), col("corpus_doc")).as("comp0"))
    val superEdges = incr.join(broadcast(touched), Seq("corpus_doc"))
      .select(col("new_doc").as("doc_a"), col("comp0").as("doc_b"))
      .distinct()
    // Merge over the super-graph: nodes are new docs + touched
    // component ids — incremental-batch-sized by construction.
    val superLabels = componentLabelsOf(superEdges).cut(false)
    val relabel = superLabels
      .select(col("doc_id").as("cid"), col("component").as("merged"))
    val standingRows = standing
      .join(broadcast(relabel), col("component") === col("cid"), "left")
      .select(col("doc_id"),
        coalesce(col("merged"), col("component")).as("component"))
    val unpairedTouchedRows = touched
      .join(standing.withColumnRenamed("doc_id", "corpus_doc")
        .select("corpus_doc"), Seq("corpus_doc"), "left_anti")
      .join(broadcast(relabel), col("corpus_doc") === col("cid"))
      .select(col("corpus_doc").as("doc_id"), col("merged").as("component"))
    val newRows = incr.select(col("new_doc")).distinct()
      .join(broadcast(relabel), col("new_doc") === col("cid"))
      .select(col("new_doc").as("doc_id"), col("merged").as("component"))
    standingRows.union(unpairedTouchedRows).union(newRows)
      .select(col("doc_id"), col("component"),
        isNew.cast("int").as("is_new"))
      .orderBy("doc_id")
  }

  /** Train/test leakage audit: near-dup candidate pairs whose two docs
    * land in DIFFERENT splits — the contamination a content-level
    * decontamination pass must catch before training. Because splits
    * are a pure content-independent hash of doc_id (the same rule as
    * `split_assign`), the split of each pair member is computed INLINE
    * on the pair columns: no join against the corpus, no extra
    * shuffle — the query is a narrow projection over the shared LSH
    * candidate frame. At 100 TB the pair list is the (tiny) LSH
    * output, so leakage auditing costs one scan of the pairs, not of
    * the corpus. */
  private val splitLeakage = Q(
    "split_leakage", {
      def sqlSplit(c: String) = graft.util.Hashes.sqlSplitOf(c)
      s"""$sqlCandCte
         |SELECT doc_a, doc_b,
         |       ${sqlSplit("doc_a")} AS split_a,
         |       ${sqlSplit("doc_b")} AS split_b
         |FROM cand
         |WHERE ${sqlSplit("doc_a")} <> ${sqlSplit("doc_b")}
         |ORDER BY doc_a, doc_b""".stripMargin
    }) { (s, dir) =>
    def splitOf(c: Column): Column = graft.util.Hashes.splitOf(c)
    candidatePairs(Tables(s, dir))
      .select(
        col("doc_a"), col("doc_b"),
        splitOf(col("doc_a")).as("split_a"),
        splitOf(col("doc_b")).as("split_b"))
      .filter(col("split_a") =!= col("split_b"))
      .orderBy("doc_a", "doc_b")
  }

  /** Per-node graph statistics over the near-dup candidate graph —
    * degree and triangle count, the structural audit a dedup pipeline
    * runs on its pair output (dense triangle-rich neighborhoods =
    * boilerplate families worth a template rule; high degree with zero
    * triangles = star-shaped hash collisions worth a band re-tune).
    * Triangles enumerate by the standard oriented three-way self-join:
    * every edge is stored (low, high), so triangle x<y<z matches
    * exactly once as e1=(x,y) ⋈ e2=(y,z) ⋈ e3=(x,z) — no /6
    * correction, no double counting. The edge frame is the capped
    * LSH candidate output (metadata-sized relative to the corpus, per
    *-bucket degree bounded by the [[MaxBucketPairDocs]] star policy),
    * checkpointed once and self-joined three ways; at 100 TB the join
    * keys are edge endpoints, AQE handles the residual skew of star
    * centers. Oracle: the same joins over the shared cand CTE. */
  private val graphTriangles = Q(
    "graph_triangles",
    s"""$sqlCandCte, e AS (
       |  SELECT doc_a AS a, doc_b AS b FROM cand
       |), und AS (
       |  SELECT a, b FROM e UNION ALL SELECT b, a FROM e
       |), deg AS (
       |  SELECT a AS doc_id, count(*) AS degree FROM und GROUP BY a
       |), tri AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM e e1 JOIN e e2 ON e1.b = e2.a
       |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
       |), tcnt AS (
       |  SELECT doc_id, count(*) AS triangles FROM (
       |    SELECT x AS doc_id FROM tri
       |    UNION ALL SELECT y FROM tri
       |    UNION ALL SELECT z FROM tri)
       |  GROUP BY doc_id
       |)
       |SELECT d.doc_id, CAST(d.degree AS BIGINT) AS degree,
       |       CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles
       |FROM deg d LEFT JOIN tcnt t USING (doc_id)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val e = candidatePairs(Tables(s, dir))
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .cut(false) // three-way self-join: pair-gen runs once
    val und = e.union(e.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy(col("a"))
      .agg(count(lit(1)).as("degree"))
      .select(col("a").as("doc_id"), col("degree"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val tcnt = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("triangles"))
    deg.join(tcnt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .orderBy("doc_id")
  }

  /** Minimum duplicated run length, in tokens, for substring dedup —
    * every flagged span is at least one full K-token window. */
  private[graft] val SubstringK = 8

  /** Substring-level exact dedup (suffix-array family): the excision
    * report of Lee et al.'s "Deduplicating Training Data" pass — for
    * every document, the maximal token spans whose every K-token
    * window also occurs somewhere else in the corpus (another doc or
    * another position), i.e. the text a substring-dedup pass would
    * excise. The doc/chunk/line granularities catch whole-unit dups;
    * this catches boilerplate and quotations REPEATED INSIDE otherwise
    * unique documents.
    *
    * Suffix arrays don't distribute; the scale-honest equivalent is
    * fingerprint counting: posexplode K-token windows (native
    * [[org.apache.spark.sql.graft.Shingles]] — positions align with
    * token starts because split() emits no NULL tokens, so no window
    * is dropped), hash each window once, and flag windows whose
    * fingerprint count exceeds 1 with a single `count over
    * (partition by fp)` window — ONE shuffle on the fingerprint, no
    * pair enumeration anywhere, so a boilerplate window shared by
    * millions of docs costs its row count, never its square. Flagged
    * positions then merge gaps-and-islands style (pos − row_number
    * per doc) into maximal spans — one doc-partitioned shuffle. Both
    * shuffles are linear in corpus windows; at 100 TB this is 2 passes
    * over ~N·L rows of 3 longs, the same order as the MinHash
    * signature pass. */
  /** Shared CTE chain ending in `spans(doc_id, span_start, span_end,
    * span_tokens)` — the excision span frame both substring queries
    * select from. */
  private def sqlSubstringSpansCte: String = {
    val win = (0 until SubstringK).map(j => s"toks[i+$j]")
      .mkString(" || ' ' || ")
    s"""WITH tk AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |win AS (
       |  SELECT doc_id,
       |         unnest(list_transform(
       |           range(1, greatest(len(toks), $SubstringK) - ${SubstringK - 2}),
       |           i -> {'pos': i - 1, 'fp': ${Hashes.sqlTokHash(win)}})) AS w
       |  FROM tk
       |), pos AS (
       |  -- fp IS NOT NULL is LOAD-BEARING (the sqlBandsCte NULL class):
       |  -- docs shorter than K tokens get one phantom window from the
       |  -- greatest() floor whose out-of-range toks[i+j] NULLs the
       |  -- concat; the native Shingles side emits ZERO windows for such
       |  -- docs, and NULL fps would otherwise count-group together and
       |  -- fabricate oracle-only spans on any corpus with 2+ short docs.
       |  SELECT doc_id, CAST(w.pos AS BIGINT) AS pos, w.fp AS fp FROM win
       |  WHERE w.fp IS NOT NULL
       |), marked AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos, count(*) OVER (PARTITION BY fp) AS n FROM pos)
       |  WHERE n > 1
       |), runs AS (
       |  SELECT doc_id, pos,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |  FROM marked
       |), spans AS (
       |  SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |         CAST(max(pos) + ${SubstringK - 1} AS BIGINT) AS span_end,
       |         CAST(max(pos) - min(pos) + $SubstringK AS BIGINT) AS span_tokens
       |  FROM runs GROUP BY doc_id, isl
       |)""".stripMargin
  }

  /** The excision span frame (unordered) — shared Spark side of the
    * substring family; see [[dedupSubstring]] for the plan story. */
  private def substringSpans(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val positions = tokenized(t)
      .select(col("doc_id"),
        posexplode(org.apache.spark.sql.graft.ColumnOps
          .shingles(col("toks"), SubstringK)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        Hashes.tokHash(col("col")).as("fp"))
    val marked = positions
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("n") > 1)
    val runs = marked.withColumn("isl",
      col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    runs.groupBy(col("doc_id"), col("isl"))
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(SubstringK - 1).cast("long")).as("span_end"),
        (max(col("pos")) - min(col("pos")) + lit(SubstringK).cast("long"))
          .as("span_tokens"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("span_tokens"))
  }

  private val dedupSubstring = Q(
    "dedup_substring",
    s"""$sqlSubstringSpansCte
       |SELECT doc_id, span_start, span_end, span_tokens
       |FROM spans ORDER BY doc_id, span_start""".stripMargin) { (s, dir) =>
    substringSpans(Tables(s, dir)).orderBy("doc_id", "span_start")
  }

  /** Per-document excision accounting over [[substringSpans]]: how much
    * of each affected doc a substring-dedup pass would remove
    * (span-token sum, doc length, exact ppm fraction). The span frame
    * is dup-rate-sized; joining the doc-length frame onto it is a key
    * join with no broadcast hint — AQE picks broadcast when the span
    * side is measured small, shuffle otherwise (the [[ScaleGates]]
    * rationale). Spans never overlap by construction (islands are
    * maximal), so the sum is the exact excised token count. */
  private val dedupSubstringStats = Q(
    "dedup_substring_stats",
    s"""$sqlSubstringSpansCte, agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |         CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
       |  FROM spans GROUP BY doc_id
       |)
       |SELECT d.doc_id, CAST(len($sqlToks) AS BIGINT) AS n_tokens,
       |       a.n_spans, a.dup_tokens,
       |       a.dup_tokens * 1000000 // CAST(len($sqlToks) AS BIGINT) AS dup_ppm
       |FROM documents d JOIN agg a ON d.doc_id = a.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val t = Tables(s, dir)
    val agg = substringSpans(t).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("span_tokens")).as("dup_tokens"))
    t.documents
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(agg, Seq("doc_id"))
      .withColumn("dup_ppm", expr("dup_tokens * 1000000 DIV n_tokens"))
      .select("doc_id", "n_tokens", "n_spans", "dup_tokens", "dup_ppm")
      .orderBy("doc_id")
  }

  /** Chunk nodes encode as `doc_id * ChunkNodeCap + chunk_id` so the
    * shared propagation engine (which labels LONG node ids) runs
    * unchanged at chunk granularity. 2^20 chunks/doc bounds a doc at
    * ~42M tokens (stride 40) — far past any training document — while
    * leaving doc_id headroom to 2^43 (8.8e12 docs, comfortably past a
    * 100 TB crawl's doc count). */
  private[graft] val ChunkNodeCap: Long = 1L << 20

  /** Chunk-level SURVIVOR accounting — the selection step on top of the
    * chunk-candidate graph ([[chunkCandidatePairs]]): connected
    * components over (doc, chunk) nodes via the shared propagation
    * engine ([[componentLabelsOf]]); within each component the min node
    * survives, every other member chunk is excised. Output is the
    * per-document excision report (paired chunks, excised chunks, total
    * chunks) for docs the chunk graph touches — the frame a corpus
    * owner reads before running the chunk-deduped materialization
    * ([[graft.etl.Sinks.materializeChunkDedupedCorpus]]). Scale shape:
    * the node encoding adds nothing to the propagation loop's cost
    * (same edge frame, same derived shuffle width), and the per-doc
    * aggregate is candidate-sized, never corpus-sized. Oracle:
    * recursive-CTE closure over identically-encoded nodes. */
  private val dedupChunkSurvivors = Q(
    "dedup_chunk_survivors", {
      import graft.text.TextQueries.{ChunkSize => CS, ChunkStride => ST}
      val nch =
        s"CAST((greatest(len($sqlToks) - $CS, 0) + $ST - 1) // $ST + 1 AS BIGINT)"
      s"""WITH RECURSIVE ${sqlChunkCandCte.stripPrefix("WITH ")}, cnodes AS (
         |  SELECT DISTINCT doc_id, chunk_id FROM (
         |    SELECT doc_a AS doc_id, chunk_a AS chunk_id FROM cand
         |    UNION ALL SELECT doc_b, chunk_b FROM cand)
         |), cedges AS (
         |  SELECT doc_a * $ChunkNodeCap + chunk_a AS a,
         |         doc_b * $ChunkNodeCap + chunk_b AS b FROM cand
         |  UNION SELECT doc_b * $ChunkNodeCap + chunk_b,
         |               doc_a * $ChunkNodeCap + chunk_a FROM cand
         |), creach(s, t) AS (
         |  SELECT doc_id * $ChunkNodeCap + chunk_id,
         |         doc_id * $ChunkNodeCap + chunk_id FROM cnodes
         |  UNION SELECT a, b FROM cedges
         |  UNION SELECT r.s, e.b FROM creach r JOIN cedges e ON r.t = e.a
         |), ccomp AS (
         |  SELECT s, min(t) AS c FROM creach GROUP BY s
         |), perdoc AS (
         |  SELECT s // $ChunkNodeCap AS doc_id,
         |         CAST(count(*) AS BIGINT) AS n_paired,
         |         CAST(sum(CASE WHEN c <> s THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_excised
         |  FROM ccomp GROUP BY s // $ChunkNodeCap
         |)
         |SELECT d.doc_id, $nch AS n_chunks, p.n_paired, p.n_excised
         |FROM documents d JOIN perdoc p ON d.doc_id = p.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }) { (s, dir) =>
    val t = Tables(s, dir)
    import graft.text.TextQueries.{ChunkSize => CS, ChunkStride => ST}
    val perdoc = chunkSurvivorLabels(t)
      .groupBy(expr(s"node div $ChunkNodeCap").as("doc_id"))
      .agg(
        count(lit(1)).as("n_paired"),
        sum(when(col("component") =!= col("node"), lit(1L)).otherwise(lit(0L)))
          .as("n_excised"))
    val n = size(split(col("text"), " "))
    t.documents
      .select(col("doc_id"),
        ((greatest(n - CS, lit(0)) + (ST - 1)).divide(ST).cast("int") + 1)
          .cast("long").as("n_chunks"))
      .join(perdoc, Seq("doc_id"))
      .orderBy("doc_id")
  }

  /** Chunk-node component labels as (node, component) — shared by the
    * survivor-accounting query and the chunk-deduped corpus sink. */
  private[graft] def chunkSurvivorLabels(t: Tables): DataFrame =
    componentLabelsOf(
      chunkCandidatePairs(t).select(
        (col("doc_a") * ChunkNodeCap + col("chunk_a")).as("doc_a"),
        (col("doc_b") * ChunkNodeCap + col("chunk_b")).as("doc_b")))
      .withColumnRenamed("doc_id", "node")

  /** EXACT set-similarity self-join via PREFIX FILTERING (Chaudhuri et
    * al.'s SSJoin / Bayardo et al.'s All-Pairs, public) — the LOSSLESS
    * complement to the LSH family: where banded MinHash trades recall
    * for bounded candidates (the cliff `dedup_recall_eval` measures:
    * ~18% at J=0.5), this finds EVERY pair with exact distinct-3-
    * shingle Jaccard ≥ [[RecallTauE6]], guaranteed.
    *
    * The filter: order all shingles globally by (frequency ASC,
    * shingle ASC) — rarest first — and emit only each doc's first
    * |T| − ⌈τ·|T|⌉ + 1 shingles in that order (its PREFIX). Any pair
    * with J ≥ τ has overlap ≥ ⌈τ·max(|A|,|B|)⌉, which forces a shared
    * shingle inside both prefixes (the prefix-filtering lemma), so
    * equi-joining prefixes on the shingle finds every true pair —
    * candidates then verify with the exact candidate-pruned Jaccard
    * (the `dedup_ngram_jaccard` plan). The length filter
    * (τ·|A| ≤ |B| for |A| ≤ |B|) prunes candidates that cannot reach
    * τ; it drops only pairs verification would reject, so exactness
    * is untouched.
    *
    * THE ORACLE IS THE NAIVE COMPLETE JOIN (shared-shingle
    * intersection counting over all docs, no prefix filter): the
    * hash-green row is a cross-engine PROOF that the filter lost
    * nothing, re-established at every SF the driver runs.
    *
    * Scale: one shingle pass + one frequency aggregate; the candidate
    * join's cost is Σ over shingles of (prefix-bucket size)² — prefix
    * buckets prefer each doc's RAREST shingles, which is what keeps
    * them small on natural corpora. This is the verify-everything end
    * of the dedup spectrum: cost is data-dependent and deliberately
    * UNCAPPED (a cap would forfeit the exactness that is the whole
    * point — the capped/bounded path is the LSH family one query
    * over). The production extensions when prefix buckets grow —
    * positional and suffix filters (PPJoin/PPJoin+), length binning —
    * tighten the same candidate join without losing exactness. */
  private val dedupPrefixJoin = Q(
    "dedup_prefix_join", {
      val tau = RecallTauE6
      s"""WITH sh AS (
         |  SELECT doc_id, list_distinct($sqlShingles) AS sh FROM documents
         |), e AS (
         |  SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM sh
         |), inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(count(*) AS BIGINT) AS n_common,
         |         CAST(min(a.n) AS BIGINT) AS n_a,
         |         CAST(min(b.n) AS BIGINT) AS n_b
         |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |)
         |SELECT doc_a, doc_b, n_common,
         |       n_a + n_b - n_common AS n_union,
         |       CAST(n_common * 1000000 // (n_a + n_b - n_common)
         |            AS BIGINT) AS jaccard_e6
         |FROM inter
         |WHERE n_common * 1000000 >= $tau * (n_a + n_b - n_common)
         |ORDER BY doc_a, doc_b""".stripMargin
    }) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val t = Tables(s, dir)
    val tau = RecallTauE6
    val sh = tokenized(t)
      .select(col("doc_id"), array_distinct(shinglesOf(col("toks"))).as("sh"))
      .filter(size(col("sh")) > 0)
      .cut(false)
    val e = sh.select(col("doc_id"), size(col("sh")).cast("long").as("n"),
      explode(col("sh")).as("s"))
    val freq = e.groupBy(col("s")).agg(count(lit(1)).as("f"))
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("f"), col("s"))
    // Explicit-width repartitions on the pairing keys: these frames are
    // BYTES-small but WORK-heavy downstream (self-join expansion, then
    // an array-intersect verify per candidate), so AQE's byte-sized
    // coalescing would fold them into one task and serialize both
    // stages (the er_matches finding — measured here as two ~5.6 s
    // single-task jobs inside a 13 s cell; 2.8 s with the pins).
    val shufflePartitions =
      s.conf.get("spark.sql.shuffle.partitions").toInt
    val prefix = e.join(freq, Seq("s"))
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <=
        col("n") - expr(s"($tau * n + 999999) DIV 1000000") + 1)
      .select(col("s"), col("doc_id"), col("n"), col("rn"))
      .repartition(shufflePartitions, col("s"))
      .cut(false)
    // J ≥ τ ⟺ overlap ≥ τ/(1+τ)·(|A|+|B|): the POSITIONAL filter
    // (PPJoin) upper-bounds the still-possible overlap from the match
    // position — everything after this shared shingle, plus it — and
    // drops candidates that cannot reach the needed overlap. Like the
    // length bound it only removes pairs verification would reject.
    val needTimes = lit(1000000L + tau) // o·(1e6+τ) ≥ τ·(n_a+n_b)
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          // Jaccard length bound, both orientations (exact-preserving)
          col("a.n") * tau <= col("b.n") * 1000000L &&
          col("b.n") * tau <= col("a.n") * 1000000L &&
          (lit(1L) + least(col("a.n") - col("a.rn"),
            col("b.n") - col("b.rn"))) * needTimes >=
            lit(tau) * (col("a.n") + col("b.n")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .repartition(shufflePartitions, col("doc_a"), col("doc_b"))
      .distinct()
      .cut(false)
    val candIds = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val vsh = sh.join(candIds, Seq("doc_id"), "left_semi")
    val inter = size(array_intersect(col("a.sh"), col("b.sh"))).cast("long")
    val union = (size(col("a.sh")) + size(col("b.sh"))).cast("long") - inter
    cand
      .join(vsh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(vsh.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        inter.as("n_common"), union.as("n_union"))
      .filter(col("n_common") * 1000000L >= lit(tau) * col("n_union"))
      .withColumn("jaccard_e6", expr("n_common * 1000000 DIV n_union"))
      .orderBy("doc_a", "doc_b")
  }

  /** Hash-sampled queries for the LSH recall audit: deterministic
    * content-independent rank by md5(doc_id) (the `sample_uniform_hash`
    * rule), so the evaluation set is stable across runs and engines
    * and its cost is CONSTANT regardless of corpus size. */
  private[dedup] final val RecallEvalQueries = 40

  /** Ground-truth threshold for "true near-dup": exact 3-shingle set
    * Jaccard ≥ 0.5 (in e6 integer units). Chosen below the band/row
    * S-curve's steep region (B=3, R=4 ⇒ P(candidate | J=0.5) ≈ 0.18,
    * P | J=0.9 ≈ 0.96) so the audit SHOWS the recall cliff instead of
    * sampling only from the easy J≈1 mass. */
  private[dedup] final val RecallTauE6 = 500000L

  /** LSH candidate-recall audit — the honest-measurement twin of the
    * ANN family's `ann_recall_eval`, for the near-dedup family: does
    * the banded MinHash index actually FIND the true near-dups?
    *
    * Ground truth: for each of [[RecallEvalQueries]] hash-sampled query
    * docs, every corpus doc whose exact distinct-3-shingle Jaccard ≥
    * [[RecallTauE6]] (computed by one exploded-shingle equi-join against
    * the broadcast query shingle set — NO corpus×corpus pass; per-doc
    * set sizes ride along the same single corpus scan). `caught` = 1
    * iff the (query, doc) pair appears in the production LSH candidate
    * frame ([[candidatePairs]], either orientation).
    *
    * Scale: query side is constant-size (broadcast everywhere it
    * appears); the corpus contributes ONE shingle-explode scan whose
    * join output is bounded by matches against 40 docs' shingles, and
    * the truth/candidate frames joined at the end are audit-sized. At
    * 100 TB this is exactly the recall probe you'd run before trusting
    * a dedup sweep — cost: one corpus token pass, like any signature
    * run. Recall itself stays a per-pair column (not a single scalar)
    * so the audit shows WHERE the index misses (the J≈0.5 band). */
  private val dedupRecallEval = Q(
    "dedup_recall_eval",
    s"""$sqlCandCte, qs AS (
       |  SELECT doc_id AS qid FROM documents
       |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |  LIMIT $RecallEvalQueries
       |), shs AS (
       |  SELECT doc_id, list_distinct($sqlShingles) AS shs FROM documents
       |), qsh AS (
       |  SELECT qid, unnest(s.shs) AS sh
       |  FROM qs JOIN shs s ON s.doc_id = qs.qid
       |), qsz AS (
       |  SELECT qid, count(*) AS qa FROM qsh GROUP BY qid
       |), dsh AS (
       |  SELECT doc_id, len(shs) AS db, unnest(shs) AS sh FROM shs
       |), common AS (
       |  SELECT q.qid, d.doc_id, count(*) AS n_common, any_value(d.db) AS db
       |  FROM dsh d JOIN qsh q USING (sh)
       |  WHERE d.doc_id <> q.qid
       |  GROUP BY q.qid, d.doc_id
       |), truth AS (
       |  SELECT c.qid, c.doc_id,
       |         CAST(c.n_common * 1000000 // (z.qa + c.db - c.n_common)
       |              AS BIGINT) AS jaccard_e6
       |  FROM common c JOIN qsz z USING (qid)
       |), candq AS (
       |  SELECT doc_a AS qid, doc_b AS doc_id FROM cand
       |  UNION ALL
       |  SELECT doc_b AS qid, doc_a AS doc_id FROM cand
       |)
       |SELECT t.qid, t.doc_id, t.jaccard_e6,
       |       CAST(CASE WHEN c.qid IS NULL THEN 0 ELSE 1 END AS BIGINT)
       |         AS caught
       |FROM truth t LEFT JOIN candq c
       |  ON t.qid = c.qid AND t.doc_id = c.doc_id
       |WHERE t.jaccard_e6 >= $RecallTauE6
       |ORDER BY t.qid, t.doc_id""".stripMargin) { (s, dir) =>
    val t = Tables(s, dir)
    val qIds = t.documents.select(col("doc_id").as("qid"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(RecallEvalQueries)
    // Query shingle set: 40 docs × ~1k shingles — cut once, broadcast
    // into both the corpus join and the size frame.
    val qsh = tokenized(t)
      .join(broadcast(qIds), col("doc_id") === col("qid"))
      .select(col("qid"),
        explode(array_distinct(shinglesOf(col("toks")))).as("sh"))
      .cut()
    val qsz = qsh.groupBy(col("qid")).agg(count(lit(1)).as("qa"))
    // ONE corpus shingle pass: per-doc distinct-set size rides along
    // the explode so no second corpus aggregate is needed.
    val common = tokenized(t)
      .select(col("doc_id"), array_distinct(shinglesOf(col("toks"))).as("shs"))
      .select(col("doc_id"), size(col("shs")).cast("long").as("db"),
        explode(col("shs")).as("sh"))
      .join(broadcast(qsh), Seq("sh"))
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_common"), first(col("db")).as("db"))
    val truth = common.join(broadcast(qsz), Seq("qid"))
      .withColumn("jaccard_e6",
        expr("n_common * 1000000 DIV (qa + db - n_common)"))
      .filter(col("jaccard_e6") >= RecallTauE6)
      .cut()
    val cand = candidatePairs(t).cut()
    // The candidate frame is pair-scale (can be billions of rows on a
    // 100 TB corpus); semi-prune it with the broadcast audit-sized
    // truth keys BEFORE the outer join, so the caught-flag join runs
    // tiny ⋈ tiny regardless of corpus size.
    val candHits = cand
      .select(col("doc_a").as("qid"), col("doc_b").as("doc_id"))
      .union(cand.select(col("doc_b").as("qid"), col("doc_a").as("doc_id")))
      .join(broadcast(truth.select(col("qid"), col("doc_id"))),
        Seq("qid", "doc_id"), "left_semi")
      .withColumn("caught", lit(1L))
    truth.join(candHits, Seq("qid", "doc_id"), "left")
      .select(col("qid"), col("doc_id"), col("jaccard_e6"),
        coalesce(col("caught"), lit(0L)).as("caught"))
      .orderBy("qid", "doc_id")
  }

  /** FUZZY benchmark decontamination — the near-dup complement of the
    * exact n-gram `text_decontaminate` (same pinned benchmark: src0
    * docs below [[graft.text.TextQueries.BenchmarkMaxDocId]]). Exact
    * gram overlap misses paraphrased/edited test-set leaks; this
    * variant runs the corpus through the SAME MinHash band index as
    * the dedup family and band-joins it against the benchmark's
    * bands — a candidate (doc, bench_doc) pair exists iff some band
    * collides (the LSH S-curve gate) — then VERIFIES each collision
    * with the exact shingle Jaccard and reports, per contaminated
    * doc, its best-matching benchmark doc (max jaccard, bench_doc
    * tie-break) with a `flagged` decision at J ≥ 0.5 (the B=3/R=4
    * curve's target zone). Report-don't-delete, like the exact
    * variant: the decision threshold is explicit in the output.
    *
    * Scale: the benchmark side is a FIXED SMALL set at any corpus
    * size, so its band rows broadcast (the `text_decontaminate`
    * broadcast story applied to the band index); candidate volume is
    * collision-bounded — per doc at most |benchmark| pairs even on a
    * fully degenerate corpus (oracle parity on the /tmp/sfdeg
    * all-collide fixture is checked), so worst case is corpus-linear
    * with a |benchmark| constant, never quadratic in the corpus — and
    * the exact-Jaccard verify touches only collided docs' shingles
    * (semi-join-pruned, the `dedup_jaccard_est` shape). */
  private val textDecontaminateFuzzy = Q(
    "text_decontaminate_fuzzy", {
      s"""$sqlBandsCte, bpairs AS (
         |  SELECT DISTINCT c.doc_id AS doc_id, b.doc_id AS bench_doc
         |  FROM bands c JOIN bands b ON c.band = b.band AND c.bh = b.bh
         |  JOIN documents dc ON dc.doc_id = c.doc_id
         |  JOIN documents db ON db.doc_id = b.doc_id
         |  WHERE NOT (dc.source = 'src0' AND dc.doc_id < ${graft.text.TextQueries.BenchmarkMaxDocId})
         |    AND db.source = 'src0' AND db.doc_id < ${graft.text.TextQueries.BenchmarkMaxDocId}
         |), sh AS (
         |  SELECT doc_id, $sqlShingles AS sh FROM documents
         |), scored AS (
         |  SELECT p.doc_id, p.bench_doc,
         |         CAST(len(list_intersect(sa.sh, sb.sh)) * 1000000
         |              // len(list_distinct(list_concat(sa.sh, sb.sh))) AS BIGINT) AS jaccard_e6
         |  FROM bpairs p
         |  JOIN sh sa ON p.doc_id = sa.doc_id
         |  JOIN sh sb ON p.bench_doc = sb.doc_id
         |)
         |SELECT doc_id, bench_doc, jaccard_e6,
         |       jaccard_e6 >= 500000 AS flagged
         |FROM (
         |  SELECT doc_id, bench_doc, jaccard_e6,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY jaccard_e6 DESC, bench_doc) AS rk
         |  FROM scored) WHERE rk = 1
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
    val t = Tables(s, dir)
    val inBench = col("source") === "src0" &&
      col("doc_id") < graft.text.TextQueries.BenchmarkMaxDocId
    val benchIds = t.documents.filter(inBench).select("doc_id")
    val allBands = bands(t).cut()
    val candBands = allBands.join(benchIds, Seq("doc_id"), "left_anti")
    val benchBands = allBands.join(benchIds, Seq("doc_id"), "left_semi")
    val bpairs = candBands.as("c")
      .join(broadcast(benchBands.as("b")),
        col("c.band") === col("b.band") && col("c.bh") === col("b.bh"))
      .select(col("c.doc_id").as("doc_id"),
        col("b.doc_id").as("bench_doc"))
      .distinct()
      .cut()
    val ids = bpairs
      .select(explode(array(col("doc_id"), col("bench_doc"))).as("doc_id"))
      .distinct()
    val sh = tokenized(t)
      .join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shinglesOf(col("toks")).as("sh"))
      .cut()
    val inter = size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("long")
    val uni = size(array_distinct(concat(col("sa.sh"), col("sb.sh"))))
      .cast("long")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("jaccard_e6").desc, col("bench_doc"))
    bpairs.as("p")
      .join(sh.as("sa"), col("p.doc_id") === col("sa.doc_id"))
      .join(sh.as("sb"), col("p.bench_doc") === col("sb.doc_id"))
      .select(col("p.doc_id").as("doc_id"), col("bench_doc"),
        inter.as("c_inter"), uni.as("c_union"))
      .select(col("doc_id"), col("bench_doc"),
        expr("c_inter * 1000000 div c_union").as("jaccard_e6"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).drop("rk")
      .withColumn("flagged", col("jaccard_e6") >= 500000L)
      .orderBy("doc_id")
  }

  /** Exact must be affordable within this factor of banded's verify
    * volume to stay selected — the dial a table owner turns when
    * exactness is worth more (or less) than 4× the candidate cost. */
  private[dedup] final val ExactAffordFactor = 4L

  /** EXACT-vs-BANDED POLICY SELECTOR — the decision the engine never
    * made for its caller: `dedup_prefix_join` is exact but its verify
    * volume is super-linear by construction (~n^1.7 measured at the
    * 30× stress leg — prefix collisions grow with the corpus), while
    * the capped LSH family is near-linear but misses pairs the
    * banding's S-curve drops. This query PRICES both policies on the
    * caller's actual corpus and selects one, mechanically:
    *
    *  - `n_verify`: the candidate pairs each policy would verify —
    *    the exact PPJoin's prefix-collision candidates (after its
    *    length + positional bounds, the real volume the exact join
    *    pays) vs the production capped LSH candidates;
    *  - `n_true`: true τ-pairs among them (exact's candidates contain
    *    ALL true pairs — the PPJoin bounds only drop pairs
    *    verification would reject — so its n_true IS the reference);
    *  - `recall_ppm`: against that reference;
    *  - `selected`: banded iff its recall clears the family's floor
    *    ([[BandTargetRecallPpm]]) AND exact's verify volume exceeds
    *    [[ExactAffordFactor]]× banded's — i.e. pay for exactness
    *    while it is affordable, switch when the super-linear term
    *    actually bites, never switch into a banding that fails recall.
    *
    * At the driver SFs exact stays affordable and selected; the
    * planted duplicate-heavy corpus in DedupPolicySpec pushes the
    * exact volume past the factor and flips the selection — the
    * crossover is MEASURED, not a scaladoc note. Scale: both candidate
    * generations are existing near-linear machinery (prefix frame +
    * capped buckets); verification joins are candidate-sized. */
  private val dedupPolicySelect = Q(
    "dedup_policy_select", {
      val tau = RecallTauE6
      s"""$sqlCandCte, psh AS (
         |  SELECT doc_id, list_distinct($sqlShingles) AS sh FROM documents
         |), shn AS (
         |  SELECT doc_id, CAST(len(sh) AS BIGINT) AS n, sh
         |  FROM psh WHERE len(sh) > 0
         |), pe AS (
         |  SELECT doc_id, n, unnest(sh) AS s FROM shn
         |), pfreq AS (
         |  SELECT s, CAST(count(*) AS BIGINT) AS f FROM pe GROUP BY s
         |), ppre AS (
         |  SELECT doc_id, n, s,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY f, s)
         |           AS rn
         |  FROM pe JOIN pfreq USING (s)
         |), pref AS (
         |  SELECT doc_id, n, s, rn FROM ppre
         |  WHERE rn <= n - (($tau * n + 999999) // 1000000) + 1
         |), ecand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM pref a JOIN pref b
         |    ON a.s = b.s AND a.doc_id < b.doc_id
         |  WHERE a.n * $tau <= b.n * 1000000
         |    AND b.n * $tau <= a.n * 1000000
         |    AND (1 + least(a.n - a.rn, b.n - b.rn)) * (1000000 + $tau)
         |        >= $tau * (a.n + b.n)
         |), allc AS (
         |  SELECT 'exact_prefix_join' AS policy, doc_a, doc_b FROM ecand
         |  UNION ALL
         |  SELECT 'banded_lsh', doc_a, doc_b FROM cand
         |), pjj AS (
         |  SELECT policy,
         |         CASE WHEN CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT)
         |                   * 1000000
         |                   >= $tau * (a.n + b.n
         |                      - CAST(len(list_intersect(a.sh, b.sh))
         |                             AS BIGINT))
         |              THEN 1 ELSE 0 END AS is_true
         |  FROM allc
         |  JOIN shn a ON allc.doc_a = a.doc_id
         |  JOIN shn b ON allc.doc_b = b.doc_id
         |), pagg AS (
         |  SELECT policy, CAST(count(*) AS BIGINT) AS n_verify,
         |         CAST(sum(is_true) AS BIGINT) AS n_true
         |  FROM pjj GROUP BY policy
         |), pol AS (
         |  SELECT 'banded_lsh' AS policy
         |  UNION ALL SELECT 'exact_prefix_join'
         |), aggf AS (
         |  SELECT pol.policy, coalesce(pagg.n_verify, 0) AS n_verify,
         |         coalesce(pagg.n_true, 0) AS n_true
         |  FROM pol LEFT JOIN pagg USING (policy)
         |), pref2 AS (
         |  SELECT n_true AS n_ref FROM aggf
         |  WHERE policy = 'exact_prefix_join'
         |), pscored AS (
         |  SELECT policy, n_verify, n_true,
         |         CAST(n_true * 1000000 // greatest(n_ref, 1) AS BIGINT)
         |           AS recall_ppm
         |  FROM aggf CROSS JOIN pref2
         |), selp AS (
         |  SELECT CASE WHEN
         |      max(CASE WHEN policy = 'banded_lsh' THEN recall_ppm END)
         |        >= $BandTargetRecallPpm
         |      AND max(CASE WHEN policy = 'exact_prefix_join'
         |              THEN n_verify END)
         |        > max(CASE WHEN policy = 'banded_lsh' THEN n_verify END)
         |          * $ExactAffordFactor
         |    THEN 'banded_lsh' ELSE 'exact_prefix_join' END AS sel_policy
         |  FROM pscored
         |)
         |SELECT policy, n_verify, n_true, recall_ppm,
         |       CAST(CASE WHEN policy = sel_policy THEN 1 ELSE 0 END
         |            AS BIGINT) AS selected
         |FROM pscored CROSS JOIN selp
         |ORDER BY policy""".stripMargin
    }) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val t = Tables(s, dir)
    val tau = RecallTauE6
    val sh = tokenized(t)
      .select(col("doc_id"),
        array_distinct(shinglesOf(col("toks"))).as("sh"))
      .filter(size(col("sh")) > 0)
      .cut(false)
    val e = sh.select(col("doc_id"), size(col("sh")).cast("long").as("n"),
      explode(col("sh")).as("s"))
    val freq = e.groupBy(col("s")).agg(count(lit(1)).as("f"))
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("f"), col("s"))
    val shufflePartitions =
      s.conf.get("spark.sql.shuffle.partitions").toInt
    // Same explicit-width pins as dedup_prefix_join: bytes-small,
    // work-heavy frames that AQE would fold into one task.
    val prefix = e.join(freq, Seq("s"))
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <=
        col("n") - expr(s"($tau * n + 999999) DIV 1000000") + 1)
      .select(col("s"), col("doc_id"), col("n"), col("rn"))
      .repartition(shufflePartitions, col("s"))
      .cut(false)
    val needTimes = lit(1000000L + tau)
    val exactCand = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * tau <= col("b.n") * 1000000L &&
          col("b.n") * tau <= col("a.n") * 1000000L &&
          (lit(1L) + least(col("a.n") - col("a.rn"),
            col("b.n") - col("b.rn"))) * needTimes >=
            lit(tau) * (col("a.n") + col("b.n")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .repartition(shufflePartitions, col("doc_a"), col("doc_b"))
      .distinct()
    val allc = exactCand
      .select(lit("exact_prefix_join").as("policy"),
        col("doc_a"), col("doc_b"))
      .unionByName(candidatePairs(t)
        .select(lit("banded_lsh").as("policy"),
          col("doc_a"), col("doc_b")))
      .cut()
    val candIds = allc
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val vsh = sh.join(candIds, Seq("doc_id"), "left_semi").cut()
    val inter = size(array_intersect(col("a.sh"), col("b.sh"))).cast("long")
    val agg = allc
      .join(vsh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(vsh.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("policy"), inter.as("ni"),
        size(col("a.sh")).cast("long").as("na"),
        size(col("b.sh")).cast("long").as("nb"))
      .select(col("policy"),
        when(expr(s"ni * 1000000 >= $tau * (na + nb - ni)"), 1L)
          .otherwise(0L).as("is_true"))
      .groupBy(col("policy"))
      .agg(count(lit(1)).as("n_verify"), sum(col("is_true")).as("n_true"))
    val aggf = s.createDataFrame(Seq(
        Tuple1("banded_lsh"), Tuple1("exact_prefix_join")))
      .toDF("policy")
      .join(agg, Seq("policy"), "left")
      .select(col("policy"),
        coalesce(col("n_verify"), lit(0L)).as("n_verify"),
        coalesce(col("n_true"), lit(0L)).as("n_true"))
      .cut(false)
    val ref = aggf.filter(col("policy") === "exact_prefix_join")
      .select(col("n_true").as("n_ref"))
    val scored = aggf.crossJoin(broadcast(ref))
      .select(col("policy"), col("n_verify"), col("n_true"),
        expr("n_true * 1000000 DIV greatest(n_ref, 1)").as("recall_ppm"))
      .cut(false)
    val sel = scored.agg(
        max(when(col("policy") === "banded_lsh", col("recall_ppm")))
          .as("b_recall"),
        max(when(col("policy") === "banded_lsh", col("n_verify")))
          .as("b_verify"),
        max(when(col("policy") === "exact_prefix_join", col("n_verify")))
          .as("e_verify"))
      .select(
        when(col("b_recall") >= BandTargetRecallPpm &&
          col("e_verify") > col("b_verify") * ExactAffordFactor,
          "banded_lsh").otherwise("exact_prefix_join").as("sel_policy"))
    scored.crossJoin(broadcast(sel))
      .withColumn("selected",
        (col("policy") === col("sel_policy")).cast("long"))
      .select(col("policy"), col("n_verify"), col("n_true"),
        col("recall_ppm"), col("selected"))
      .orderBy("policy")
  }

  val queries: Seq[Q] =
    Seq(splitLeakage, dedupJaccardEst, dedupIncremental,
      dedupIncrementalComponents, dedupEditDistance,
      dedupExact, dedupMinhashLsh, dedupMinhashLshMulti,
      dedupBandingTradeoff, dedupBandingSelect, dedupSimhash, dedupSimhashPairs,
      dedupNgramJaccard, dedupComponents, dedupComponentStats,
      dedupSurvivors, dedupSurvivorsQuality, dedupSoftWeights,
      splitAssignDedup,
      dedupChunkLsh, dedupChunkDocEdges, graphTriangles,
      dedupSubstring, dedupSubstringStats, dedupChunkSurvivors,
      dedupRecallEval, dedupContainment, textDecontaminateFuzzy,
      dedupPrefixJoin, dedupPolicySelect)
}
