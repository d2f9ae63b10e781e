package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.SparkConf
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.TranscriptPipeline
import graft.stream.{OrderRepair, TurnPos}

/** End-to-end flagship job: file stream → validation → error split → order
  * repair → exactly-once merge + progress log, including kill-and-resume
  * with re-delivery converging to the same output table (FIXTURES.md §5).
  */
class TranscriptPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  private def writeBatchFile(dir: String, turns: Seq[TurnPos], n: Int): Unit =
    turns.toDS().coalesce(1).write.mode("append").parquet(dir)

  test("full pipeline: valid rows merged ordered, invalid rows in errors table, progress logged, resume converges") {
    val in = Files.createTempDirectory("tp_in").toString
    val out = Files.createTempDirectory("tp_out").toString
    val errs = Files.createTempDirectory("tp_errs").toString
    val ckpt = Files.createTempDirectory("tp_ckpt").toString
    val progress = Files.createTempDirectory("tp_progress").toString
    val cfg = TranscriptPipeline.Config(in, out, errs, ckpt, progress,
      maxFilesPerTrigger = 1)

    // file 1: conv a out of order + one invalid (blank text) turn
    writeBatchFile(in, Seq(
      TurnPos("a", 1, "assistant", "r1", "search", ts(2), 2),
      TurnPos("a", 0, "user", "q0", null, ts(1), 1),
      TurnPos("a", 2, "tool", "   ", "search", ts(3), 3)), 1)

    val (q1, sink1) = TranscriptPipeline.start(spark, cfg)
    q1.processAllAvailable()
    q1.stop()

    // the stopped (blank-text) turn short-circuits the write path exactly
    // like the reference's event decorator skipping DbCommand — it lands in
    // the errors table only
    val t1 = sink1.read(spark).orderBy("conv_id", "turn_idx").collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"), r.getAs[String]("text")))
    assert(t1.toSeq == Seq(("a", 0, "q0"), ("a", 1, "r1")))

    val errRows = spark.read.parquet(errs).collect()
    assert(errRows.length == 1)
    assert(errRows.head.getAs[String]("description").contains("required for the field [text]"))

    // "crash", add file 2, restart from the same checkpoint — file 1 is NOT
    // reprocessed (offsets) and the merge journal makes any replay a no-op
    writeBatchFile(in, Seq(
      TurnPos("a", 1, "assistant", "r1-amended", "search", ts(10), 10),
      TurnPos("b", 0, "user", "hello", null, ts(11), 11)), 2)
    val (q2, sink2) = TranscriptPipeline.start(spark, cfg)
    q2.processAllAvailable()
    q2.stop()

    val t2 = sink2.read(spark).orderBy("conv_id", "turn_idx").collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"), r.getAs[String]("text")))
    assert(t2.toSeq == Seq(
      ("a", 0, "q0"), ("a", 1, "r1-amended"), ("b", 0, "hello")))

    // progress log captured batches from both runs, each with the full
    // duration breakdown rather than the trigger total alone
    val log = Files.readString(java.nio.file.Paths.get(progress, "progress.jsonl"))
    val batches = log.linesIterator.filter(_.contains("\"event\":\"progress\"")).toSeq
    assert(batches.size >= 2)
    assert(batches.forall(l => l.contains("\"durationMs\":{") &&
      l.contains("\"triggerExecution\":") && l.contains("\"latestOffset\":")))
  }

  test("main's state partitions: the deployer's setting wins, else the task slots") {
    assert(TranscriptPipeline.statePartitions(new SparkConf(false), 4) == 4)
    assert(TranscriptPipeline.statePartitions(
      new SparkConf(false).set("spark.sql.shuffle.partitions", "32"), 4) == 32)
  }

  test("startStateful: restart from its checkpoint under other shuffle partitions equals OrderRepair.batch") {
    val in = Files.createTempDirectory("tps_in").toString
    val out = Files.createTempDirectory("tps_out").toString
    val errs = Files.createTempDirectory("tps_errs").toString
    val ckpt = Files.createTempDirectory("tps_ckpt").toString
    val progress = Files.createTempDirectory("tps_progress").toString
    val cfg = TranscriptPipeline.Config(in, out, errs, ckpt, progress,
      maxFilesPerTrigger = 1)
    def run(partitions: Int) = {
      val session = spark.newSession()
      session.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      val (q, sink) = TranscriptPipeline.startStateful(session, cfg)
      try q.processAllAvailable() finally q.stop()
      (q, sink)
    }

    // a out of order with turn 2 missing (turn 3 stays buffered in state);
    // b's turn 1 never arrives, so its turn 2 waits for the gap timeout
    writeBatchFile(in, Seq(
      TurnPos("a", 1, "assistant", "r1", "search", ts(2), 2),
      TurnPos("a", 0, "user", "q0", null, ts(1), 1),
      TurnPos("a", 3, "assistant", "r3", "search", ts(4), 4),
      TurnPos("b", 0, "user", "hi", null, ts(5), 5)), 1)
    val (q1, _) = run(partitions = 3)
    assert(q1.recentProgress.exists(_.numInputRows > 0))

    writeBatchFile(in, Seq(
      TurnPos("a", 2, "tool", "t2", "search", ts(10), 10),
      TurnPos("b", 2, "assistant", "r2" * 3000, null, ts(11), 11),
      TurnPos("c", 1, "assistant", "c1", "calc", ts(13), 13),
      TurnPos("c", 0, "user", "c0", null, ts(12), 12)), 2)
    // a far-future turn moves the watermark past every gap timeout above
    writeBatchFile(in, Seq(TurnPos("z", 0, "user", "z0", null, ts(1000000), 14)), 3)
    val (q2, sink) = run(partitions = 5)

    // the checkpoint keeps the partition count it was created with
    val restarted = q2.recentProgress.flatMap(_.stateOperators)
    assert(restarted.nonEmpty)
    assert(restarted.map(_.numShufflePartitions).toSet == Set(3L))

    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "pos").map(col)
    val raw = spark.read.schema(TranscriptPipeline.turnSchema).parquet(in)
    val want = OrderRepair.batch(
      TranscriptPipeline.validate(raw).select(cols: _*).as[TurnPos], strict = false)
    val got = sink.read(spark).select(cols: _*).as[TurnPos].collect()
      .sortBy(t => (t.conv_id, t.turn_idx)).toSeq
    assert(got == want.collect().sortBy(t => (t.conv_id, t.turn_idx)).toSeq)
    assert(got.map(t => (t.conv_id, t.turn_idx)) == Seq(("a", 0), ("a", 1), ("a", 2),
      ("a", 3), ("b", 0), ("b", 2), ("c", 0), ("c", 1), ("z", 0)))
    // the validation chain ran: default tool, truncated text
    assert(got.filter(_.conv_id == "b").forall(_.tool == "none"))
    assert(got.find(t => t.conv_id == "b" && t.turn_idx == 2).map(_.text.length).contains(4096))

    // every batch logs its state operator's partitions, store instances,
    // commit time and custom metrics
    val log = Files.readString(java.nio.file.Paths.get(progress, "progress.jsonl"))
    val state = log.linesIterator.filter(_.contains("\"operatorName\"")).toSeq
    assert(state.nonEmpty)
    assert(state.forall(l => Seq("\"numShufflePartitions\":3", "\"numStateStoreInstances\":",
      "\"commitTimeMs\":", "\"customMetrics\":{", "\"durationMs\":{").forall(l.contains)))
  }
}
