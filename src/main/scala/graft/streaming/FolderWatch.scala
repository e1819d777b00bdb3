package graft.streaming

import graft.pipeline.BatchPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Folder-watch driver (SURVEY §2.8): the reference's batch loop
  * ("glob a folder / iterate an HF stream, process each new video" —
  * batchProcessVideos.py:93–124) as a Structured Streaming file
  * source + `foreachBatch` that runs the SAME batch pipeline DAG on
  * every newly-arrived manifest shard. Nothing in the pipeline
  * changes between batch and streaming — `foreachBatch` hands each
  * micro-batch to `BatchPipeline.run`.
  *
  * Input: a directory receiving parquet frame shards
  * (video_id, frame, content). Output: the per-video segment rows
  * appended to `outDir` as parquet.
  *
  * Scale notes: file-source listing is incremental (maxFilesPerTrigger
  * caps per-batch work); each micro-batch parallelizes exactly like
  * the batch DAG (one group per video); checkpointing makes the
  * watch resumable — the streaming analog of the reference's pickle
  * resume contract.
  */
object FolderWatch {

  def start(spark: SparkSession, watchDir: String, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 16): StreamingQuery = {
    val schema = "video_id LONG, frame INT, content DOUBLE"
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(watchDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val segs = BatchPipeline.run(spark, batch).segments
          .withColumn("batch_id", lit(batchId))
        segs.write.mode("append").parquet(outDir)
        ()
      }
      .start()
  }

  /** Run one watch pass to completion over whatever is in the folder
    * now (AvailableNow trigger), returning the accumulated segments. */
  def processAvailable(spark: SparkSession, watchDir: String, outDir: String,
      checkpointDir: String): DataFrame = {
    val q = start(spark, watchDir, outDir, checkpointDir)
    q.awaitTermination()
    spark.read.parquet(outDir)
  }

  /** The STREAMING half of HF-style ingestion
    * (batchProcessVideos.py:111–124, `streaming=True`): JSONL sample
    * shards arrive in a folder over time; each micro-batch parses the
    * new shards' samples (`{"video":{"path","bytes"},"label"}` — the
    * same flattening as the batch ManifestSource) and appends the
    * video descriptors to `outDir`. Incremental file listing means a
    * pass only ever touches NEW shards — the resumable-iterator
    * contract of a streaming dataset. */
  def watchManifests(spark: SparkSession, watchDir: String, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 16): StreamingQuery = {
    import org.apache.spark.sql.types._
    val sample = new StructType()
      .add("video", new StructType().add("path", StringType).add("bytes", LongType))
      .add("label", StringType)
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(watchDir)
      .filter(length(trim(col("value"))) > 0)
      .select(from_json(col("value"), sample).as("s"))
      .select(col("s.video.path").as("video_path"),
        col("s.video.bytes").as("video_bytes"), col("s.label").as("label"))
      .withColumn("video_name",
        regexp_extract(col("video_path"), "([^/]+)\\.[^.]+$", 1))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
        ()
      }
      .start()
  }

  /** One manifest-watch pass over what's present now. */
  def processAvailableManifests(spark: SparkSession, watchDir: String,
      outDir: String, checkpointDir: String): DataFrame = {
    val q = watchManifests(spark, watchDir, outDir, checkpointDir)
    q.awaitTermination()
    spark.read.parquet(outDir)
  }
}
