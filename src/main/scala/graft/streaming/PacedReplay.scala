package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Rate-limited file replay — the Spark-idiomatic equivalent of the
  * reference's throttled source (NYCTaxiRideSource,
  * /root/reference/src/main/java/datasources/NYCTaxiRideSource.java:123-158):
  * the reference busy-waits to emit ≤`throughput` tuples per wall-second;
  * Spark instead paces micro-batches declaratively — stage the bounded input
  * as N ordered chunk files, then `readStream` with `maxFilesPerTrigger` and a
  * processing-time trigger. rows/sec ≈ rowsPerFile × filesPerTrigger /
  * triggerSec, with no CPU burned on throttling (SURVEY.md §4.1).
  */
object PacedReplay {

  /** Stage `df` (ordered by `orderCols`) into chunk files of `rowsPerFile`
    * rows each under `stageDir`. One sequential pass; chunk i holds rows
    * [i*rowsPerFile, (i+1)*rowsPerFile).
    *
    * SIZING CONTRACT with the FADS operator: one trigger admits
    * rowsPerFile × filesPerTrigger rows, all of which the stateful operator
    * buffers and sorts per key before stepping its engine — keep that
    * product ≤ [[FadsProcessor.DefaultMaxBatchRows]] (the operator fails
    * fast past it rather than ballooning executor heap).
    */
  def stage(df: DataFrame, orderCols: Seq[String], rowsPerFile: Int,
      stageDir: String): Unit = {
    // global rank via graft.ops.Ids.contiguous (bucket-probe + one hash
    // shuffle, never leaves Tungsten) — NOT rdd.zipWithIndex (exits codegen,
    // full row deserialization; round-2 verdict) and NOT a row_number()
    // window over an empty frame (drags the whole input onto one partition)
    //
    // __chunk is a ZERO-PADDED string, so the path order of the chunk
    // directories is the chunk order (chunk 10 would sort before chunk 2
    // unpadded); %09d: lexicographic == numeric order up to 1e9 chunks
    // (%05d broke at 100k — chunk "100000" sorts before "99999"; ADVICE r2).
    // The path alone does not fix the replay order: FileStreamSource admits
    // files by modification time first, see orderMtimes below.
    // sortWithinPartitions(__chunk, __seq) after the chunk repartition: the
    // shuffle would otherwise scramble row order INSIDE each chunk file,
    // making any order-sensitive within-batch consumer (first-per-key
    // tie-breaks) nondeterministic across stagings (ADVICE r4). Leading
    // with __chunk matters: partitionBy("__chunk") requires the writer's
    // rows ordered by __chunk, and sorting by __seq alone made the planner
    // inject its own SortExec on __chunk above this one — within-chunk
    // order then hung on sort STABILITY, which spill-merge does not
    // guarantee for equal keys (ADVICE r5). With the (__chunk, __seq)
    // prefix the writer's requirement is already satisfied, no extra sort
    // is injected, and determinism is total-order, not stability.
    graft.ops.Ids.contiguous(df, orderCols, "__seq")
      .withColumn("__chunk", format_string("%09d", expr(s"__seq div $rowsPerFile")))
      .repartition(col("__chunk"))
      .sortWithinPartitions(col("__chunk"), col("__seq"))
      .drop("__seq")
      .write.mode("overwrite").partitionBy("__chunk").parquet(stageDir)
    orderMtimes(df.sparkSession, stageDir)
  }

  /** Give the staged chunk files strictly increasing modification times in
    * (chunk, file name) order, ending at the newest time the write left.
    * FileStreamSource admits files in modification-time order, and the
    * write's parallel tasks interleave chunks' times — a one-file-per-trigger
    * replay would otherwise step an order-sensitive consumer (FADS) out of
    * event-time order. Ending at the newest existing time keeps every file
    * in the past, so a file appended later still sorts after all chunks.
    */
  private def orderMtimes(spark: SparkSession, stageDir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(stageDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // chunk directories are `__chunk=<9 digits>`; data files are the
    // non-hidden ones (the source skips `.`/`_` names such as .crc)
    val files = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__chunk="))
      .sortBy(_.getPath.getName)
      .flatMap(d => fs.listStatus(d.getPath).filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith(".") && !n.startsWith("_")
      }.sortBy(_.getPath.getName))
    if (files.nonEmpty) {
      val last = files.map(_.getModificationTime).max
      files.zipWithIndex.foreach { case (f, i) =>
        fs.setTimes(f.getPath, last - (files.length - 1 - i), -1L)
      }
    }
  }

  /** Open the staged directory as a paced stream.
    *
    * @param filesPerTrigger chunk files admitted per micro-batch
    * @param triggerMs       processing-time trigger interval (0 = as fast as
    *                        possible — the reference's `runtime=-1` mode)
    */
  def stream(spark: SparkSession, stageDir: String, schema: StructType,
      filesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema.add("__chunk", "string"))
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(stageDir)
      .drop("__chunk")

  def trigger(triggerMs: Long): Trigger =
    if (triggerMs <= 0) Trigger.ProcessingTime(0) else Trigger.ProcessingTime(triggerMs)

  /** Wall-clock runtime bound (reference semantics: the source stops after
    * `runtime` ms, NYCTaxiRideSource.java:130,143-150; `-1` = unbounded).
    * Blocks until the stream ends on its own or the bound elapses, then
    * stops the query. Returns true if the query ended before the bound.
    */
  def runFor(query: org.apache.spark.sql.streaming.StreamingQuery,
      runtimeMs: Long): Boolean = {
    if (runtimeMs < 0) { query.awaitTermination(); true }
    else {
      val done = query.awaitTermination(runtimeMs)
      if (!done) query.stop()
      done
    }
  }
}
