package graft.lake

import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet that writes timestamps as INT64 TIMESTAMP(MICROS) instead of
 *  Spark's legacy INT96 default: INT96 is deprecated upstream and its
 *  footer statistics are unordered bytes, so timestamp zone maps would
 *  need a read-back aggregation pass. The encoding is pinned on the write
 *  job's OWN Hadoop conf after the parent has copied the session's parquet
 *  settings there — the session conf is never touched, so concurrent lake
 *  writes and the session's own writes each keep their encoding. */
class MicrosParquetFormat extends ParquetFileFormat {
  override def prepareWrite(sparkSession: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
    val factory = super.prepareWrite(sparkSession, job, options, dataSchema)
    job.getConfiguration.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS.toString)
    factory
  }
}
