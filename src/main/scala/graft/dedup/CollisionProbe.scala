package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The capped batch-vs-standing collision probe shared by every
  * near-dedup modality — text bands ([[DedupQueries.bandProbe]]),
  * embedding buckets (`SimilarityQueries.semProbe`) and media band keys
  * (`MultimodalQueries.mediaProbe`) — and by the batch incremental
  * queries and the standing loops alike
  * ([[graft.streaming.PairLoop]], `IncrementalAnn`). Rows on both sides
  * are index-shaped: an `id`, the bucket `keys`, and the score payload.
  *
  * [[pairs]] is partition-local in the sense of the streaming
  * similarity-search literature: the small batch side broadcasts, and
  * the standing side is
  *
  *  1. semi-narrowed to the batch's COLLIDING buckets (a broadcast
  *     semi-join on the batch's distinct keys) before anything wide
  *     runs, so per-batch cost follows collisions, never the index; a
  *     semi-join keeps whole buckets, so in-bucket ranks — and the
  *     cap — are unchanged;
  *  2. collapsed to distinct (id, keys) rows, so a replayed or
  *     hand-doubled standing row never consumes cap headroom, then
  *     rank-capped at `cap` ids per bucket (the family's
  *     degenerate-bucket cap);
  *  3. joined to the broadcast batch side on the keys, self pairs
  *     dropped (unreachable through the loops, whose standing view
  *     excludes the batch's own epoch, but a hand-fed standing frame
  *     containing the batch must not pair ids with themselves);
  *  4. scored and thresholded on the collision frame only, and
  *     `distinct`ed — an id pair colliding in several buckets emits
  *     once.
  *
  * With a standing table bucketed on one of `keys`, HashPartitioning
  * of that key satisfies the distinct, the rank window and the join, so
  * the standing side crosses no Exchange (the loop specs pin this).
  * Output: (`newCol`, `corpusCol`[, score]). */
final case class CollisionProbe(
    id: String, keys: Seq[String], cap: Int,
    newCol: String, corpusCol: String,
    score: Option[CollisionProbe.Score] = None) {

  def pairs(batch: DataFrame, standing: DataFrame): DataFrame = {
    val keyCols = keys.map(col)
    val carried = score.filterNot(_.reattach).map(s => col(s.payload)).toSeq
    val newSide = batch.select((col(id).as(newCol) +: keyCols) ++
      score.map(s => col(s.payload).as(s"n_${s.payload}")): _*)
    val bucketKeys = newSide.select(keyCols: _*).distinct()
    val slice = standing.join(broadcast(bucketKeys), keys, "left_semi")
    val ranked = slice.select((col(id) +: keyCols) ++ carried: _*).distinct()
      .withColumn("rk", row_number().over(
        Window.partitionBy(keyCols: _*).orderBy(col(id))))
      .filter(col("rk") <= cap)
    // A re-attached payload rides no shuffle: the ranked narrow keys
    // (≤ cap × live buckets, broadcast-sized) pick the payload rows
    // straight off the slice. A replayed payload row surviving this
    // semi-join only duplicates a pair, which the final distinct
    // collapses.
    val corpusSide =
      if (score.exists(_.reattach))
        slice.join(broadcast(ranked.select(col(id) +: keyCols: _*)),
          id +: keys, "left_semi")
      else ranked
    val collisions = corpusSide.join(broadcast(newSide), keys)
      .filter(col(id) =!= col(newCol))
    score.fold(collisions.select(col(newCol), col(id).as(corpusCol))) { s =>
      collisions.select(col(newCol), col(id).as(corpusCol),
        s.of(col(s"n_${s.payload}"), col(s.payload)).as(s.name))
        .filter(s.keep(col(s.name)))
    }.distinct()
  }
}

object CollisionProbe {

  /** A modality's pair score `name = of(batchPayload, standingPayload)`,
    * kept where `keep` holds. A `reattach`ed payload (embeddings) is
    * dropped for the distinct + rank and re-attached after it by a
    * broadcast semi-join, so payload bytes never cross the rank's
    * shuffle; otherwise (media band arrays) it rides through the rank
    * with the keys. */
  final case class Score(
      payload: String, reattach: Boolean, name: String,
      of: (Column, Column) => Column, keep: Column => Column)
}
