package graft.bench

import org.apache.spark.sql.{BenchRows, DataFrame}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

/** Order-independent result digest: the row count plus the wrapping sum
  * of a 64-bit hash of each row's JSON rendering. Row order, partition
  * count and plan shape cannot move it; any changed, missing or extra
  * row does (up to hash collisions). */
final case class Digest(rows: Long, hash: String) {
  override def toString: String = s"$rows:$hash"
}

object Digest {

  def parse(s: String): Digest = {
    val Array(rows, hash) = s.split(':')
    Digest(rows.toLong, hash)
  }

  /** Executes `df` as the program runs it and digests its rows.
    *
    * The rows come from the query's own executed plan (the plan a write
    * into the `noop` sink runs), not from an aggregate over the query: the
    * optimizer drops a global sort under an order-insensitive aggregate,
    * so digesting `df.agg(...)` would skip the sort's sampling job and
    * shuffle. The per-row hash runs inside the query's last stage and
    * the sums come back in one job, as the noop sink's write does. */
  def of(df: DataFrame): Digest = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("graftbench digest")) {
      val rows = BenchRows.of(df.sparkSession, qe.toRdd, df.schema)
      val hashed = rows.select(
        xxhash64(to_json(struct(rows.columns.toIndexedSeq.map(rows.col): _*))))
      // Summed as two 32-bit halves, each exact in a long for fewer
      // than 2^31 rows.
      val parts = hashed.queryExecution.toRdd.mapPartitions { it =>
        var (n, lo, hi) = (0L, 0L, 0L)
        it.foreach { r =>
          val h = r.getLong(0)
          n += 1; lo += h & 0xffffffffL; hi += h >>> 32
        }
        Iterator((n, lo, hi))
      }.collect()
      Digest(parts.map(_._1).sum, f"${parts.map(_._3).sum}%016x${parts.map(_._2).sum}%016x")
    }
  }
}

/** The expected result digests (`expected/digests.json`), keyed
  * `query/<name>` and `loop/<loop>`. In record mode every compare
  * stores the observed digest instead of checking it. */
final class Expected(path: String, val recording: Boolean) {
  private val table: collection.mutable.LinkedHashMap[String, String] = {
    val m = collection.mutable.LinkedHashMap.empty[String, String]
    val f = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(f)) {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readAllBytes(f)).get("digests")
      root.fieldNames().forEachRemaining(k => m(k) = root.get(k).asText())
    }
    m
  }

  def compare(key: String, got: Digest): Option[String] =
    if (recording) synchronized {
      table.get(key) match {
        case Some(prev) if prev != got.toString =>
          Some(s"$key: $got differs from the first recorded $prev")
        case _ => table(key) = got.toString; None
      }
    } else table.get(key) match {
      case None => Some(s"$key: no expected digest recorded")
      case Some(exp) if exp != got.toString => Some(s"$key: got $got, expected $exp")
      case _ => None
    }

  def digests: Map[String, String] = table.toMap

  def save(): Unit = Json.write(path, Json.obj(
    "fixture" -> "data/ (the sf0.01 test tables)",
    "digest" -> "rows:hash, hash = two 64-bit sums of xxhash64(to_json(row))",
    "digests" -> collection.immutable.TreeMap(table.toSeq: _*)))
}
