package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.dedup.CollisionProbe
import graft.mm.{Multimodal, MultimodalQueries}

/** Streaming MEDIA near-dedup — the [[PairLoop]] over MediaItem-shaped
  * rows of ONE modality (production runs one loop per modality against
  * the modality-partitioned ingest, same as the batch layout). Items
  * are fingerprinted through the SAME kernels the batch queries use
  * ([[Multimodal.imageAHashes]] / [[Multimodal.audioFingerprints]] /
  * [[Multimodal.videoFingerprints]] — real JDK codecs) and probed on
  * (band, key) with hamming verified on collisions only
  * ([[MultimodalQueries.mediaProbe]]).
  *
  * The index stores EXPLODED band rows ([[MultimodalQueries.mediaBandRows]]
  * — (item_id, bands, band, key)), NOT the payload: decode happens once
  * per item at ingest, and only band keys ever cross the wire
  * afterwards, the same payloads-never-shuffle property as the batch
  * media pipeline. With the band key a stored column, a
  * [[IncrementalDedup.BucketedIndex]] on `key` feeds the probe with
  * zero Exchange.
  */
object IncrementalMediaDedup {

  /** Fingerprint kernel + band count per modality — the SAME pairs the
    * batch `mm_*_dedup` queries pin (image: 8×8-bit aHash bands;
    * audio/video: 4×16-bit bands). The band count travels WITH the
    * kernel: hamming must be summed over every band the kernel emits,
    * or pairs agreeing on a fingerprint prefix read as duplicates (the
    * round-9 streaming-image bug: a fixed nBands=4 compared only the
    * top half of the 64-bit aHash, admitting false pairs the batch
    * `mm_image_dedup` contract rejects). */
  private final class Loop(modality: String) extends PairLoop("media") {
    private val (kernel, nBands): (Dataset[Multimodal.MediaItem] => DataFrame, Int) =
      modality match {
        case "image" => (Multimodal.imageAHashes(_).toDF(), 8)
        case "audio" => (Multimodal.audioFingerprints(_).toDF(), 4)
        case "video" => (Multimodal.videoFingerprints(_).toDF(), 4)
        case m => throw new IllegalArgumentException(s"unknown modality $m")
      }
    protected def fingerprint(items: DataFrame): DataFrame = {
      val spark = items.sparkSession
      import spark.implicits._
      kernel(items.as[Multimodal.MediaItem])
    }
    override protected def indexRows(hashes: DataFrame): DataFrame =
      MultimodalQueries.mediaBandRows(hashes)
    protected def probe: CollisionProbe =
      MultimodalQueries.mediaProbe(nBands, maxHamming = 2)
  }

  /** Every modality's pair table has the same (new_item, corpus_item)
    * columns, so the consumers read through any one loop. */
  private val image = new Loop("image")

  private[graft] def processBatch(
      items: DataFrame, modality: String,
      indexDir: String, pairsDir: String, batchId: Long): Unit =
    new Loop(modality).processBatch(items, indexDir, pairsDir, batchId)

  private[graft] def processBatch(
      items: DataFrame, modality: String,
      index: IncrementalDedup.BandIndex, pairsDir: String, batchId: Long,
      ownerId: Option[String] = None): Unit =
    new Loop(modality).processBatch(items, index, pairsDir, batchId, ownerId)

  def start(
      items: DataFrame, modality: String,
      indexDir: String, pairsDir: String, checkpointDir: String,
      trigger: Trigger = Streaming.HourlyTrigger): StreamingQuery =
    new Loop(modality).start(items, indexDir, pairsDir, checkpointDir, trigger)

  def start(
      items: DataFrame, modality: String,
      index: IncrementalDedup.BandIndex,
      pairsDir: String, checkpointDir: String,
      trigger: Trigger): StreamingQuery =
    new Loop(modality).start(items, index, pairsDir, checkpointDir, trigger)

  def components(
      spark: SparkSession, pairsDir: String): DataFrame =
    image.components(spark, pairsDir)

  def survivors(corpus: DataFrame, pairsDir: String): DataFrame =
    image.survivors(corpus, pairsDir)
}
