package graft.jobs

import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.model.Events
import graft.sink.{ConsoleEventSink, ErrorSplit, EventSink, MergeSink, ProgressListener}
import graft.stream.{OrderRepair, TurnPos}
import graft.transform._

/** The flagship streaming job — the complete reference pipeline
  * re-expressed Spark-native, shaped for `spark-submit` on a real cluster:
  *
  *   transcript stream
  *     → stop-guarded validation (Required keys/text, DefaultValue, Truncate)
  *     → error split (invalid rows → errors table, the event-sink channel)
  *     → watermark → per-conversation order repair (flatMapGroupsWithState)
  *     → exactly-once keyed MERGE into the bucketed output table
  *   with per-batch lineage + state metrics appended to progress.jsonl
  *   and full checkpoint resume.
  *
  * On a cluster: same code, `--master yarn/k8s`, checkpoint + tables on
  * HDFS/S3, MergeSink swapped for an Iceberg catalog. Every stage keys on
  * conv_id, so the stateful shuffle is reused; hot conversations are
  * handled by AQE + the bounded per-conversation state (buffer is
  * O(out-of-orderness), evicted on watermark timeout).
  */
object TranscriptPipeline {

  val turnSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("role", StringType), StructField("text", StringType),
    StructField("tool", StringType), StructField("ts", TimestampType),
    StructField("pos", LongType)))

  case class Config(
      inputDir: String,
      outputTable: String,
      errorsDir: String,
      checkpointDir: String,
      progressDir: String,
      watermark: String = "10 minutes",
      gapMs: Long = 600000L,
      strict: Boolean = false,
      maxFilesPerTrigger: Int = 64,
      eventSink: EventSink = new ConsoleEventSink(),
      // per-record event mode (reference ConsoleEventSink.cs:44-95): when
      // set, every record event at/above this level is routed through
      // `eventSink.notify`, one call per event, in addition to the
      // aggregate per-batch notifications
      perRecordLevel: Option[String] = None)

  /** The job's stop-guarded validation chain, shared by both flavors. */
  def validate(src: DataFrame): DataFrame = Pipeline(src, Seq(
    Required(Seq("conv_id", "turn_idx")),
    DefaultValue(Map("tool" -> "none")),
    Required(Seq("text")),
    Truncate(Map("text" -> 4096))))

  /** Build and start the streaming query. Returns the query + sink (the
    * caller owns lifecycle — tests use processAllAvailable, production
    * awaitTermination).
    */
  def start(spark: SparkSession, cfg: Config): (StreamingQuery, MergeSink) = {
    val listener = new ProgressListener(cfg.progressDir)
    spark.streams.addListener(listener)

    val sink = new MergeSink(cfg.outputTable, Seq("conv_id", "turn_idx"), "pos")

    val src = spark.readStream.schema(turnSchema)
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .parquet(cfg.inputDir)

    val validated = validate(src)

    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[TurnPos]

    val q = validated.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // Split the event channel per micro-batch: errors append to the
        // errors table; valid rows go through order repair + merge. The
        // repair runs its BATCH flavor here per micro-batch — cross-batch
        // ordering state lives in the streaming variant; for the merge sink
        // the (conv_id, turn_idx) key makes replays converge either way.
        val cached = batch.cache()
        try {
          val (valid, errors) = ErrorSplit.split(cached, Seq("conv_id", "turn_idx", "pos"))
          errors.write.mode("append").parquet(cfg.errorsDir)
          val nErrors = errors.count()
          // per-batch lifecycle notification (the reference's per-record
          // NotifyRecordCompleted, aggregated to stay driver-cheap)
          cfg.eventSink.notify(if (nErrors > 0) "WARN" else "INFO",
            s"batch $batchId: $nErrors error rows appended to ${cfg.errorsDir}")
          // optional per-record fidelity: formatting + level filter run
          // data-parallel; only the notify loop is driver-side, streamed a
          // partition at a time
          cfg.perRecordLevel.foreach { lvl =>
            ErrorSplit.recordEvents(errors, Seq("conv_id", "turn_idx", "pos"), lvl)
              .toLocalIterator().forEachRemaining(e => cfg.eventSink.notify(e._1, e._2))
          }
          val repaired = OrderRepair.batch(
            valid.select("conv_id", "turn_idx", "role", "text", "tool", "ts", "pos")
              .as[TurnPos],
            strict = false)
          sink.merge(repaired.toDF(), batchId)
          cfg.eventSink.notify("INFO", s"batch $batchId: merged into ${cfg.outputTable}")
        } finally cached.unpersist()
      }.start()
    (q, sink)
  }

  /** Streaming-stateful flavor: order repair holds cross-batch state
    * (contiguity across micro-batches); output appends to the merge sink
    * keyed by (conv_id, turn_idx). Used when strict global turn ordering
    * must hold across arbitrarily fragmented arrival.
    */
  def startStateful(spark: SparkSession, cfg: Config): (StreamingQuery, MergeSink) = {
    val listener = new ProgressListener(cfg.progressDir)
    spark.streams.addListener(listener)
    val sink = new MergeSink(cfg.outputTable, Seq("conv_id", "turn_idx"), "pos")
    val src = spark.readStream.schema(turnSchema)
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .parquet(cfg.inputDir)
    val validated = validate(src)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "pos")
      .withWatermark("ts", cfg.watermark)
    // packed hot path across the stateful boundary; unpack before the sink
    // so the output table carries plain string/timestamp columns
    val repaired = OrderRepair.streamingPacked(
      OrderRepair.pack(validated), cfg.strict, cfg.gapMs)
    val q = repaired.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.stream.TurnPacked], id: Long) =>
        sink.merge(OrderRepair.unpack(b), id)
      }.start()
    (q, sink)
  }

  /** State partitions for [[main]]: the deployer's
    * `spark.sql.shuffle.partitions` when the SparkConf carries one (`--conf`
    * or `-D`), else the task slots. Every state partition is a state store
    * that each micro-batch loads and commits, a fixed cost per partition, so
    * Spark's default of 200 on a 4-slot job spends the batch on store work.
    */
  private[graft] def statePartitions(conf: SparkConf, taskSlots: Int): Int =
    conf.getOption("spark.sql.shuffle.partitions").map(_.toInt).getOrElse(taskSlots)

  /** spark-submit entry: TranscriptPipeline <in> <outTable> <errors> <ckpt> <progress>
    *
    * The state partition count follows [[statePartitions]] and is fixed for
    * the checkpoint's lifetime: a restart restores the count recorded in the
    * offset log, whatever the session says. A cluster that will grow should
    * pass `--conf spark.sql.shuffle.partitions=<n>` when it creates the
    * checkpoint.
    */
  def main(args: Array[String]): Unit = {
    val Array(in, out, errs, ckpt, progress) = args.take(5)
    val spark = SparkSession.builder()
      .appName("graft-transcript-pipeline")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    val sc = spark.sparkContext
    spark.conf.set("spark.sql.shuffle.partitions",
      statePartitions(sc.getConf, sc.defaultParallelism))
    val (q, _) = startStateful(spark, Config(in, out, errs, ckpt, progress))
    q.awaitTermination()
  }
}
