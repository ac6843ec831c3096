package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset => ClassicDataset,
  SparkSession => ClassicSession}
import org.apache.spark.sql.types.StructType

/** Minimal `private[sql]` bridge: build a DataFrame straight from an
  * `RDD[InternalRow]` (the `SparkSession.internalCreateDataFrame` path,
  * i.e. a `LogicalRDD` whose rows are already in the Tungsten
  * representation). `createDataFrame(RDD[Row], schema)` runs every row
  * through the interpreted Catalyst converter (`Row` → boxed external
  * values → `InternalRow`), which for the two-pass cumulative scaffold
  * doubled per-row cost; rows produced off `queryExecution.toRdd` are
  * ALREADY internal, so the converter round-trip is pure overhead.
  *
  * Contract (caller-enforced, nothing checks it): every emitted row
  * must match `schema` in field order and INTERNAL types (UTF8String
  * for strings, Decimal, ArrayData, days/micros for date/timestamp),
  * and rows may be reused buffers — the planned `RDDScanExec` applies
  * an UnsafeProjection to each row before anything downstream can
  * buffer it, so emitting one mutated `JoinedRow` per partition is
  * safe, same as Spark's own operators.
  */
object InternalRows {
  def toDF(spark: SparkSession, rdd: RDD[InternalRow],
           schema: StructType): DataFrame =
    classic(spark).internalCreateDataFrame(rdd, schema)

  /** Driver-held rows as a `LocalRelation`: scanning it, collecting it or
    * broadcasting it launches no Spark job. Same row contract as
    * [[toDF]]; the rows must be immutable (they are kept, not copied). */
  def localDF(spark: SparkSession, rows: Seq[InternalRow],
              schema: StructType): DataFrame =
    ClassicDataset.ofRows(classic(spark),
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  private def classic(spark: SparkSession): ClassicSession = spark match {
    case c: ClassicSession => c
    case other => throw new IllegalStateException(
      s"InternalRows needs a classic (JVM-local) SparkSession — got " +
        s"${other.getClass.getName}; the InternalRow bridge cannot run " +
        "under Spark Connect")
  }
}
