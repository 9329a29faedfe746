package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Where the library's pair-RDD code meets its caller's session. Lives in this package because `internalCreateDataFrame` and
  * `artifactManager` are Spark-internal surface.
  */
object SessionRdd {

  /** `rows` as a frame of `schema` bound to `spark`. The rows are Catalyst's
    * own, so no serializer is generated for them. */
  def frame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    castToImpl(spark).internalCreateDataFrame(rows, schema)

  /** A schema of non-null BIGINT columns, for [[frame]]. */
  def longSchema(names: String*): StructType =
    StructType(names.map(StructField(_, LongType, nullable = false)))

  /** Run `f`, whose plain RDD actions read Dataset plans, under `spark`'s
    * executor class loader, as `SQLExecution` runs a query. The codegen cache
    * is keyed by class loader, so outside this the tasks compile the plans'
    * scan and deserializer classes a second time, under the executor's
    * default loader. */
  def action[T](spark: SparkSession)(f: => T): T =
    castToImpl(spark).artifactManager.withResources(f)
}
