package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** `private[sql]`-access shim for [[graft.logs.Compacter.readListed]]: a
  * DataFrame over an RDD of Catalyst rows, as Spark builds one for its own
  * scans. The plan is one `ExistingRDD` scan with the RDD's partitions, so
  * operators above it that need no distribution add no exchange.
  */
object RowFrames {
  def ofRows(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
