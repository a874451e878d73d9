package graft.operators

import org.apache.spark.sql.SparkSession

/** Scale-adaptive spread arithmetic shared by the fan-out pins. */
private[graft] object Spread {

  /** Partition width from the optimizer's size estimate (file size for
    * parquet scans, rows×rowWidth for local relations): grows linearly
    * with the bytes up to the session's parallelism, so a tiny frame
    * keeps few partitions — `defaultParallelism` fixed-cost tasks per
    * stage were the r16 q211/q207/q242 32-core regression — while a big
    * frame still gets the full width. Costs NO job at all, where even a
    * metadata-only count() pays one fixed-cost action on every driver
    * run. */
  def sizedWidthFromBytes(
      spark: SparkSession, bytes: BigInt, bytesPerTask: Long): Int =
    ((bytes + bytesPerTask - 1) / bytesPerTask)
      .min(BigInt(spark.sparkContext.defaultParallelism))
      .max(BigInt(1)).toInt
}
