package graft.bench

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SparkPartsSpec extends AnyFunSuite {
  private lazy val spark = graft.Sessions.local("2")
  private def keys = spark.range(0, 3000).select(col("id").as("k"))

  test("the seeded epoch split covers every key exactly once") {
    val ep = Workloads.epochOf(col("k"), 7L)
    val counts = keys.groupBy(ep.as("e")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set(0L, 1L, 2L))
    assert(counts.values.sum == 3000L)
    // every key in exactly one epoch: the three filters partition the keys
    val perEpoch = (0L to 2L).map(b => keys.filter(ep === b))
    assert(perEpoch.reduce(_ union _).distinct().count() == 3000L)
    assert(perEpoch.map(_.count()).sum == 3000L)
  }

  test("the epoch split moves with the seed") {
    def split(seed: Long) = keys.select(col("k"), Workloads.epochOf(col("k"), seed).as("e"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (a, b) = (split(1L), split(2L))
    assert(a == split(1L))
    assert(a.count { case (k, e) => b(k) != e } > 1000)
  }

  test("the digest ignores partition count and row order, not content") {
    val df = spark.range(0, 500)
      .select(col("id"), (col("id") * 1.5).as("x"), concat(lit("r"), col("id")).as("s"),
        array(col("id"), lit(1L)).as("a"))
    val d = Digest.of(df)
    assert(d.rows == 500L)
    assert(Digest.of(df.repartition(1)) == d)
    assert(Digest.of(df.repartition(7)) == d)
    assert(Digest.of(df.orderBy(col("id").desc).coalesce(3)) == d)
    assert(Digest.of(df.filter(col("id") =!= 17)) != d)
    assert(Digest.of(df.withColumn("x", when(col("id") === 3, 0.0)
      .otherwise(col("x")))).hash != d.hash)
    assert(Digest.parse(d.toString) == d)
  }

  test("the digest sink runs the query's own plan, global sort included") {
    val sorted = spark.range(0, 20000, 1, 4)
      .select((col("id") * 7919 % 20000).as("k"), col("id")).orderBy(col("k"))
    def jobs(action: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet(): Unit
      }
      spark.sparkContext.addSparkListener(l)
      try action finally {
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
      }
      n.get
    }
    val noop = jobs(sorted.write.format("noop").mode("overwrite").save())
    assert(jobs(Digest.of(sorted): Unit) == noop)
    // An aggregate over the query loses the sort's sampling job and
    // shuffle: the count above can tell the two apart.
    assert(jobs(sorted.agg(sum(col("k"))).collect(): Unit) < noop)
  }
}
