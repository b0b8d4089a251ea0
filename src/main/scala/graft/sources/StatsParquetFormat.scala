package graft.sources

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, XxHash64}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.util.CollectionAccumulator

/** Parquet writing that also reports what it wrote: for each data file, the
  * rows and the XOR of the rows' `xxhash64` over every data column, per
  * value of a bucket column. The stats are folded from the rows handed to
  * the Parquet writer, inside the write job, so a commit needs no pass that
  * reads its files back. The files are the ones a plain `parquet` write
  * gives: same bytes, same names.
  *
  * Write through [[StatsParquetFormat.write]]. The format finds its sink (an
  * accumulator and the bucket column) in a driver-side registry, under a
  * token passed as a write option: `prepareWrite` runs on the driver. */
final class StatsParquetFormat extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
    val sink = StatsParquetFormat.sinks.get(options.getOrElse(StatsParquetFormat.TokenOption, ""))
    require(sink != null, "StatsParquetFormat: no stats sink registered; write through StatsParquetFormat.write")
    val bucket = dataSchema.fieldIndex(sink.bucketCol)
    require(dataSchema(bucket).dataType == LongType,
      s"bucket column ${sink.bucketCol} is ${dataSchema(bucket).dataType.simpleString}, not bigint")
    new StatsParquetFormat.Factory(super.prepareWrite(spark, job, options, dataSchema),
      sink.stats, bucket, sink.partitionDepth)
  }
}

object StatsParquetFormat {

  /** A run of `rows` rows of one bucket in one data file; `file` is relative
    * to the output directory and `fp` is the XOR of the rows' hashes. */
  final case class FileBucketStat(file: String, bucket: Long, rows: Long, fp: Long)

  private val TokenOption = "graft.statsSink"
  private final case class Sink(stats: CollectionAccumulator[FileBucketStat],
      bucketCol: String, partitionDepth: Int)
  private val sinks = new ConcurrentHashMap[String, Sink]()

  /** Overwrites `path` with `df` as Parquet, partitioned by `partitionBy`, and
    * returns the stats of every file the write produced. A file with no rows
    * reports one zero-row entry, so each written file appears at least
    * once. A row whose bucket is null fails the write. */
  def write(df: DataFrame, path: String, bucketCol: String,
      partitionBy: Seq[String]): Vector[FileBucketStat] = {
    val stats = df.sparkSession.sparkContext.collectionAccumulator[FileBucketStat]
    val token = UUID.randomUUID().toString
    sinks.put(token, Sink(stats, bucketCol, partitionBy.length))
    try df.write.mode("overwrite").partitionBy(partitionBy: _*)
      .format(classOf[StatsParquetFormat].getName).option(TokenOption, token).save(path)
    finally sinks.remove(token)
    stats.value.asScala.toVector
  }

  private final class Factory(inner: OutputWriterFactory,
      stats: CollectionAccumulator[FileBucketStat], bucket: Int, partitionDepth: Int)
      extends OutputWriterFactory {
    override def getFileExtension(ctx: TaskAttemptContext): String = inner.getFileExtension(ctx)
    override def newInstance(path: String, dataSchema: StructType,
        ctx: TaskAttemptContext): OutputWriter = {
      // the writer gets a temporary path; the final one keeps its partition
      // directories and leaf name
      val file = path.split('/').takeRight(partitionDepth + 1).mkString("/")
      new Writer(inner.newInstance(path, dataSchema, ctx), stats, file, bucket, dataSchema)
    }
  }

  private final class Writer(inner: OutputWriter, stats: CollectionAccumulator[FileBucketStat],
      file: String, bucket: Int, schema: StructType) extends OutputWriter {
    // the value SQL's xxhash64(<data columns>) gives (seed 42)
    private val hash = UnsafeProjection.create(Seq(XxHash64(
      schema.fields.toSeq.zipWithIndex.map { case (f, i) => BoundReference(i, f.dataType, f.nullable) },
      42L)))
    private var key = 0L
    private var rows = 0L
    private var fp = 0L
    private var reported = false

    override def write(row: InternalRow): Unit = {
      if (row.isNullAt(bucket))
        throw new IllegalArgumentException(s"null bucket in ${schema(bucket).name}")
      inner.write(row)
      val b = row.getLong(bucket)
      if (rows > 0 && b != key) flush()
      key = b
      rows += 1
      fp ^= hash(row).getLong(0)
    }

    private def flush(): Unit = {
      stats.add(FileBucketStat(file, key, rows, fp))
      reported = true
      rows = 0L
      fp = 0L
    }

    override def close(): Unit = {
      inner.close()
      if (rows > 0 || !reported) flush()
    }

    override def path(): String = inner.path()
  }
}
