package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Events
import graft.source.Transcript
import graft.transform._

/** The staged turn stream: parquet files in arrival order. */
final case class Staged(files: IndexedSeq[File], turns: Long)

/** Seeded staging of the transcript stream.
  *
  * Turns come from `Transcript.fromEvents` over the fixture's `events` table,
  * restricted to its first `conversations` users,
  * (so they keep its null and blank text). The seed then sets
  *   - each conversation's start offset inside `spanS` seconds (turns follow
  *     every `stepS` seconds), and
  *   - each turn's arrival delay: most turns arrive within a second of their
  *     event time, a `lateShare` of them up to `maxDelayS` seconds later.
  * `maxDelayS` stays strictly below the job's 10-minute watermark, so no row
  * is legitimately late. Files are cut from the arrival order, each holding
  * the same number of turns.
  */
object Staging {
  val maxDelayS = 300
  val lateShare = 0.1
  val stepS = 5
  private val t0Micros = 1704067200000000L // 2024-01-01T00:00:00Z

  /** The job's validation chain (`TranscriptPipeline.startStateful`). */
  def validate(df: DataFrame): DataFrame = Pipeline(df, Seq(
    Required(Seq("conv_id", "turn_idx")),
    DefaultValue(Map("tool" -> "none")),
    Required(Seq("text")),
    Truncate(Map("text" -> 4096))))

  val turnCols: Seq[String] = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "pos")

  private def unit(seed: Long, salt: Int, c: Column): Column =
    pmod(xxhash64(c, lit(seed), lit(salt)), lit(1000000L)).cast("double") / 1e6

  def stage(spark: SparkSession, dataDir: File, seed: Long, conversations: Int, nFiles: Int,
            spanS: Int, outDir: File): Staged = {
    // the fixture's first `conversations` users (conv_id is "c" + user_id)
    val turns = Transcript.fromEvents(spark, dataDir.getPath)
      .filter(substring(col("conv_id"), 2, 10).cast("int") < conversations)
    val tsMicros = lit(t0Micros) +
      (unit(seed, 1, col("conv_id")) * spanS * 1e6).cast("long") +
      col("turn_idx").cast("long") * (stepS * 1000000L)
    val delay = when(unit(seed, 2, col("pos")) < lateShare,
        unit(seed, 3, col("pos")) * maxDelayS)
      .otherwise(unit(seed, 4, col("pos")))
    val shaped = turns
      .withColumn("ts_us", tsMicros)
      .withColumn("arrival", col("ts_us") + (delay * 1e6).cast("long"))
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val tmp = new File(outDir, "_write")
    shaped.withColumn("file", ntile(nFiles).over(Window.orderBy(col("arrival"), col("pos"))) - 1)
      .repartition(col("file")).sortWithinPartitions("file", "arrival")
      .select((turnCols :+ "file").map(col): _*)
      .write.mode("overwrite").partitionBy("file").parquet(tmp.getPath)
    outDir.mkdirs()
    val files = (0 until nFiles).map { i =>
      val part = new File(tmp, s"file=$i").listFiles().filter(_.getName.endsWith(".parquet"))
      require(part.length == 1, s"staging file $i has ${part.length} parts")
      val dst = new File(outDir, f"turns-$i%05d.parquet")
      Files.move(part.head.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
      dst
    }
    Common.deleteRecursively(tmp)
    Staged(files, spark.read.parquet(files.map(_.getPath): _*).count())
  }

  /** Input properties of staged files: conversations, the share of turns the
    * validation chain stop-flags, and the share that arrive after a later
    * turn of their conversation.
    */
  def properties(spark: SparkSession, files: Seq[File]): Seq[(String, Any)] = {
    // arrival order: file name, then row order inside the file
    val turns = spark.read.parquet(files.map(_.getPath): _*)
      .withColumn("file", input_file_name()).withColumn("row", monotonically_increasing_id())
    val n = turns.count()
    val byArrival = Window.partitionBy("conv_id").orderBy(col("file"), col("row"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val r = validate(turns)
      .withColumn("ooo", coalesce(max("turn_idx").over(byArrival), lit(-1)) > col("turn_idx"))
      .agg(countDistinct("conv_id"), sum(Events.stoppedCol.cast("long")),
        sum(col("ooo").cast("long")))
      .head()
    Seq("turns" -> n, "files" -> files.length, "conversations" -> r.getLong(0),
      "stop_flagged_share" -> r.getLong(1).toDouble / n,
      "out_of_order_share" -> r.getLong(2).toDouble / n)
  }
}
