package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** A DataFrame over the rows an executed plan produced. The digest sink
  * needs it: a DataFrame built over the query itself would be optimized
  * again, and Spark keeps the RDD-backed constructor package-private. */
object BenchRows {
  def of(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    classic.ClassicConversions.castToImpl(spark).internalCreateDataFrame(rows, schema)
}
