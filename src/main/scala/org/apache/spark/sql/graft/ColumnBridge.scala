package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between Catalyst [[Expression]]s and the public [[Column]]
  * API. Spark 4 backs Column by ColumnNode (connect-compatible), so
  * wrapping/unwrapping a Catalyst expression goes through the classic
  * `ExpressionUtils`, which is `private[sql]` — hence this shim lives
  * under `org.apache.spark.sql`.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** InternalRow-level access for the similarity kernels: row-boxing
  * (InternalRow → Row with per-element boxed Seq) dominated the
  * per-partition GEMM wall time. `private[sql]` APIs, so this shim
  * also lives under `org.apache.spark.sql`.
  */
object InternalRowBridge {
  import org.apache.spark.rdd.RDD
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.classic.{DataFrame => ClassicDF, SparkSession => ClassicSession}
  import org.apache.spark.sql.types.StructType

  /** The analyzed plan's InternalRow RDD (UnsafeRow-backed; rows are
    * reused by the scan — copy before buffering).
    */
  def toInternalRdd(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[ClassicDF].queryExecution.toRdd

  def fromInternalRdd(spark: SparkSession, rdd: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[ClassicSession].internalCreateDataFrame(rdd, schema)

  /** Drops a locally checkpointed RDD's blocks without waiting, as the
    * ContextCleaner would: `RDD.unpersist` does the same but warns each
    * time that the truncated lineage cannot be recomputed, which is the
    * point of releasing a cut nothing reads any more.
    */
  def releaseLocalCheckpoint(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
