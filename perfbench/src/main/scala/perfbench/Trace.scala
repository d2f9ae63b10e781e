package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.jobs.TranscriptPipeline
import graft.sink.MergeSink
import graft.stream.{OrderRepair, ToolPair, TurnPacked}

/** The traced run: per-layer numbers, separate from the timed runs, in one
  * process, calling only public functions of the program.
  *
  * `repair_job` runs the backfill input through cumulative prefixes of the
  * shipped job, each a fresh streaming query with the job's session settings:
  *   P1 scan, P2 + the validation chain, P3 + `OrderRepair.pack` and
  *   `streamingPacked`, P4 + `unpack` and `MergeSink.merge` (one span per
  *   merge), P5 = `TranscriptPipeline.startStateful` itself.
  * Each query starts on the whole input and is timed until its data batch is
  * recorded; the input is one trigger's worth of files holding the timed
  * run's turns, so every prefix makes exactly one data batch. A layer's
  * marginal wall and CPU seconds are the difference between consecutive
  * prefixes. A first, untimed query warms the JVM up. P5 runs twice, the second time without the
  * benchmark's SparkListener: the difference is the tracing overhead, and if
  * P4 and P5 differ by more than the spread of the two P5 runs, the layer
  * table is marked invalid. The tool-pair join is split the
  * same way: scan (P1), then `ToolPair.streaming` counted in `foreachBatch`.
  *
  * `operator_queries` runs a cold and a warm pass of the 64 queries, each
  * query in its own job group, with a QueryExecutionListener recording every
  * operator's SQL metrics.
  *
  * Metrics of layers a workload does not run are reported as 0. Spans, the
  * per-layer table and the raw records land in the trace directory.
  */
object Trace {

  /** Every per-layer metric: name, unit, which end-to-end metric it should move. */
  val catalog: Seq[(String, String, String)] = {
    val repair = "throughput_per_s and cpu_s on repair_job"
    val fresh = "latency_p50_ms on repair_job"
    Seq(
      ("source.scan_s", "s", "throughput_per_s on repair_job"),
      ("source.scan_cpu_s", "s", "cpu_s on repair_job"),
      ("source.bytes_read", "bytes", "throughput_per_s on repair_job"),
      ("transform.validate_s", "s", "throughput_per_s on repair_job"),
      ("transform.validate_cpu_s", "s", "cpu_s on repair_job"),
      ("transform.rows_stopped", "count", "none (input property)"),
      ("repair.state_s", "s", repair),
      ("repair.state_cpu_s", "s", repair),
      ("repair.exchange_bytes_per_turn", "bytes", repair),
      ("repair.state_rows_peak", "count", repair),
      ("repair.state_mem_bytes_peak", "bytes", repair),
      ("repair.rows_late_dropped", "count", "must stay 0"),
      ("repair.state_commit_ms_per_batch", "ms", fresh),
      ("repair.plan_passes_per_batch", "ratio", repair),
      ("repair.rows_stopped_in_output", "count", "none (waste count)"),
      ("toolpair.join_s", "s", "none: the join has no timed workload"),
      ("toolpair.state_rows_peak", "count", "none: the join has no timed workload"),
      ("toolpair.state_commit_ms_per_batch", "ms", "none: the join has no timed workload"),
      ("toolpair.exchange_bytes_per_turn", "bytes", "none: the join has no timed workload"),
      ("sink.merge_s", "s", s"$fresh; throughput_per_s on repair_job"),
      ("sink.merge_cpu_s", "s", "cpu_s on repair_job"),
      ("sink.merge_p50_ms", "ms", fresh),
      ("sink.jobs_per_merge", "count", fresh),
      ("sink.buckets_touched_per_merge", "count", fresh),
      ("sink.metadata_ms_per_merge", "ms", fresh),
      ("sink.rows_written_per_input_row", "ratio", s"$fresh (waste count)"),
      ("batch.count", "count", "latency_p50_ms on repair_job"),
      ("batch.planning_ms_p50", "ms", "latency_p50_ms on repair_job"),
      ("batch.log_ms_p50", "ms", "latency_p50_ms on repair_job"),
      ("batch.no_data_ms", "ms", "latency_p50_ms on repair_job")) ++
      OperatorQueries.modules.map(_._1).flatMap { m =>
        val moves = "throughput_per_s and latency_p50_ms on operator_queries"
        Seq((s"queries.$m.cold_s", "s", moves), (s"queries.$m.warm_s", "s", moves),
          (s"queries.$m.shuffle_bytes", "bytes", moves), (s"queries.$m.spill_bytes", "bytes", moves))
      } ++ Seq(
      ("exec.task_cpu_s", "s", "cpu_s on both workloads"),
      ("exec.gc_s", "s", "cpu_s on both workloads"),
      ("exec.shuffle_write_bytes", "bytes", "cpu_s on both workloads"),
      ("exec.spill_bytes", "bytes", "cpu_s on both workloads"),
      ("exec.jobs", "count", "cpu_s on both workloads"),
      ("exec.tasks", "count", "cpu_s on both workloads"),
      ("trace.p4_s", "s", "none (attribution check)"),
      ("trace.p5_s", "s", "none (attribution check)"),
      ("trace.p5_untraced_s", "s", "none (attribution check)"),
      ("trace.overhead_pct", "%", "none (tracing cost)"),
      ("trace.layers_valid", "count", "none (1 if P4 and P5 agree within P5's spread)"))
  }

  final case class Result(correct: Boolean, attempted: Long, failed: Long,
                          values: Map[String, Double], artifacts: Map[String, String])

  def run(a: Args): Outcome = {
    val spans = new Spans
    val tasks = new TaskLog
    val r = a.workload match {
      case "repair_job" => repair(a, spans, tasks)
      case "operator_queries" => queries(a, spans, tasks)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = a.out.toFile
    Common.deleteRecursively(out)
    out.mkdirs()
    def write(name: String, body: String): Unit =
      Files.writeString(new File(out, name).toPath, body + "\n")
    write("spans.jsonl", spans.jsonl)
    write("layers.json", Common.json(catalog.map { case (n, u, _) =>
      n -> Metric(r.values.getOrElse(n, 0.0), u) }))
    write("layers.md", table(a, r.values))
    r.artifacts.foreach { case (n, body) => write(n, body) }
    Outcome(r.correct, r.attempted, r.failed,
      catalog.map { case (n, u, _) => n -> Metric(r.values.getOrElse(n, 0.0), u) })
  }

  private def table(a: Args, v: Map[String, Double]): String = {
    val head = s"# Per-layer table: ${a.workload}, seed ${a.seed}\n\n"
    if (a.workload == "repair_job" && v.getOrElse("trace.layers_valid", 0.0) < 1)
      head + f"INVALID: P4 (${v("trace.p4_s")}%.2f s) and P5 (${v("trace.p5_s")}%.2f s) " +
        "differ by more than the spread of the two P5 runs, so the prefix differences do not " +
        "attribute the job's time to layers. See layers.json for the raw figures."
    else
      head + "| metric | value | unit | should move |\n|---|---|---|---|\n" +
        catalog.filter { case (n, _, _) => v.contains(n) }.map { case (n, u, m) =>
          f"| $n | ${v(n)}%.4f | $u | $m |" }.mkString("\n")
  }

  private def wait(spark: SparkSession): Unit = Bus.drain(spark.sparkContext)

  // ---------------------------------------------------------------- repair_job

  private final case class Run(name: String, keys: Seq[String], wall: Double, cpu: Double,
                               progress: Seq[StreamingQueryProgress]) {
    def data: Seq[StreamingQueryProgress] = progress.filter(_.numInputRows > 0)
    def stateOps = progress.flatMap(_.stateOperators)
  }

  private def repair(a: Args, spans: Spans, tasks: TaskLog): Result = {
    val spark = Common.session(a, a.cores,
      Common.jobConfs + ("spark.sql.shuffle.partitions" -> a.cores.toString))
    val l = RepairJob.Layout(new File(a.work.toFile, "trace"))
    // the timed run's turns, all in one trigger's worth of files: complete
    // conversations, so one data batch leaves nothing buffered
    val st = Staging.stage(spark, a.data.toFile, a.seed, a.int("conversations"), a.int("backfill_files"),
      RepairJob.spanS, l.in)
    val backfill = st.files
    val base = System.currentTimeMillis() - 10L * backfill.length
    backfill.zipWithIndex.foreach { case (f, i) => f.setLastModified(base + 10L * i) }
    val turns = st.turns.toDouble
    val raw = spark.read.schema(TranscriptPipeline.turnSchema).parquet(l.in.getPath)
    val stopped = Staging.validate(raw).filter(graft.model.Events.stoppedCol).count()
    spark.conf.unset("spark.sql.shuffle.partitions") // the job runs with the default
    spark.sparkContext.addSparkListener(tasks)

    def src(): DataFrame = spark.readStream.schema(TranscriptPipeline.turnSchema)
      .option("maxFilesPerTrigger", 64).parquet(l.in.getPath)
    def validated(): DataFrame = Staging.validate(src())
      .select(Staging.turnCols.map(col): _*).withWatermark("ts", "10 minutes")
    def packed(): Dataset[TurnPacked] =
      OrderRepair.streamingPacked(OrderRepair.pack(validated()), strict = false, gapMs = 600000L)
    def noop(df: => DataFrame)(ckpt: String): StreamingQuery =
      df.writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) => b.write.format("noop").mode("overwrite").save() }
        .start()

    var parent = -1
    val runs = mutable.ArrayBuffer.empty[Run]
    /** Starts a query on the whole input and times it until its data batch
      * is recorded; `drain` lets it also run the no-data batch that follows.
      */
    def stream(name: String, drain: Boolean = false)(start: String => StreamingQuery): Run = {
      var q: StreamingQuery = null
      val ((wall, cpu), _) = spans(name, parent) { id =>
        val outer = parent
        parent = id
        val c0 = Common.selfCpuSeconds()
        val t0 = System.nanoTime()
        q = start(new File(l.root, s"ckpt-$name").getPath)
        try {
          while (!q.recentProgress.exists(_.numInputRows > 0) && q.exception.isEmpty) Thread.sleep(10)
          val measured = (Common.secondsSince(t0), Common.selfCpuSeconds() - c0)
          q.exception.foreach(e => throw e)
          if (drain) q.processAllAvailable()
          measured
        } finally {
          q.stop()
          parent = outer
        }
      }
      wait(spark)
      Common.log(f"trace $name: $wall%.2f s wall, $cpu%.2f s cpu")
      val r = Run(name, Seq(q.id.toString, q.runId.toString), wall, cpu, q.recentProgress.toSeq)
      runs += r
      r
    }

    val merges = mutable.ArrayBuffer.empty[(Span, Int)]
    def withMerge(ckpt: String): StreamingQuery = {
      val table = new File(l.root, "table-4")
      val sink = new MergeSink(table.getPath, Seq("conv_id", "turn_idx"), "pos")
      packed().writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: Dataset[TurnPacked], id: Long) =>
          val before = version(table)
          val (_, s) = spans("merge", parent)(_ => sink.merge(OrderRepair.unpack(b), id))
          // a merge that wrote nothing (the no-data batch) leaves the version
          version(table).filter(v => !before.contains(v))
            .foreach(v => merges += ((s, bucketsWritten(table, v))))
        }.start()
    }
    def shipped(tag: String)(ckpt: String): StreamingQuery =
      TranscriptPipeline.startStateful(spark, TranscriptPipeline.Config(l.in.getPath,
        new File(l.root, s"table-5$tag").getPath, new File(l.root, s"errors-5$tag").getPath,
        ckpt, new File(l.root, s"progress-5$tag").getPath))._1

    val (emitted, _) = spans("repair_job") { id =>
      parent = id
      stream("warm-up")(noop(validated()))
      stream("P1")(noop(src()))
      stream("P2")(noop(validated()))
      stream("P3")(noop(packed().toDF()))
      stream("P4")(withMerge)
      stream("P5a", drain = true)(shipped("a"))
      spark.sparkContext.removeSparkListener(tasks)
      stream("P5b")(shipped("b"))
      spark.sparkContext.addSparkListener(tasks)
      spark.conf.set("spark.sql.shuffle.partitions", a.cores.toString)
      var pairs = (0L, java.math.BigDecimal.ZERO)
      stream("T2") { ckpt =>
        ToolPair.streaming(src()).writeStream.option("checkpointLocation", ckpt)
          .foreachBatch { (b: DataFrame, _: Long) =>
            val f = Common.fingerprint(b)
            pairs = (pairs._1 + f._1, pairs._2.add(f._2))
          }.start()
      }
      pairs
    }
    val byName = runs.map(r => r.name -> r).toMap
    val Seq(p1, p2, p3, p4, p5a, p5b, t2) =
      Seq("P1", "P2", "P3", "P4", "P5a", "P5b", "T2").map(byName)

    // gates: the shipped job's table equals the batch reference; P4's too;
    // the join emitted exactly the batch pairs
    val want = Common.fingerprint(RepairJob.reference(spark, backfill))
    def tableFp(dir: String) = {
      val t = new MergeSink(new File(l.root, dir).getPath, Seq("conv_id", "turn_idx"), "pos").read(spark)
      Common.fingerprint(t.select(Staging.turnCols.map(col): _*))
    }
    val tables = Seq("table-4", "table-5a").map(d => d -> (tableFp(d) == want))
    val wantPairs = Common.fingerprint(ToolPair.batchPairs(raw))
    val joinOk = emitted == wantPairs
    tables.foreach { case (d, ok) => Common.log(s"gate $d: ${if (ok) "equal" else "DIFFERENT"}") }
    Common.log(s"gate toolpair: emitted ${emitted._1} pairs, batchPairs ${wantPairs._1}")
    val out5 = new MergeSink(new File(l.root, "table-5a").getPath, Seq("conv_id", "turn_idx"), "pos")
      .read(spark)
    val stoppedOut = out5.filter(col("text").isNull || col("conv_id").isNull ||
      col("turn_idx").isNull).count()

    val t = tasks
    def shuffle(r: Run) = t.totals(r.keys: _*).shuffleWrite.toDouble
    def maxOf(r: Run, f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      r.progress.map(_.stateOperators.map(f).sum).maxOption.getOrElse(0.0)
    def perDataBatch(r: Run, f: StreamingQueryProgress => Double) =
      if (r.data.isEmpty) 0.0 else r.data.map(f).sum / r.data.length
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val p5 = (p5a.wall + p5b.wall) / 2
    val valid = math.abs(p4.wall - p5) <= math.abs(p5a.wall - p5b.wall)
    val mergeJobs = merges.map { case (s, b) => (s, b, t.jobsIn(p4.keys.head, s)) }
    val mergeRows = mergeJobs.flatMap(_._3).flatMap(j => Option(t.byJob.get(j.id)))
      .map(_.recordsWritten).sum.toDouble
    val exec = t.totals(p5a.keys: _*)
    val values = Map(
      "source.scan_s" -> p1.wall, "source.scan_cpu_s" -> p1.cpu,
      "source.bytes_read" -> t.totals(p1.keys: _*).bytesRead.toDouble,
      "transform.validate_s" -> (p2.wall - p1.wall), "transform.validate_cpu_s" -> (p2.cpu - p1.cpu),
      "transform.rows_stopped" -> stopped.toDouble,
      "repair.state_s" -> (p3.wall - p2.wall), "repair.state_cpu_s" -> (p3.cpu - p2.cpu),
      "repair.exchange_bytes_per_turn" -> (shuffle(p3) - shuffle(p2)) / turns,
      "repair.state_rows_peak" -> maxOf(p5a, _.numRowsTotal.toDouble),
      "repair.state_mem_bytes_peak" -> maxOf(p5a, _.memoryUsedBytes.toDouble),
      "repair.rows_late_dropped" -> p5a.stateOps.map(_.numRowsDroppedByWatermark).sum.toDouble,
      "repair.state_commit_ms_per_batch" -> perDataBatch(p5a, _.stateOperators.map(_.commitTimeMs).sum.toDouble),
      "repair.plan_passes_per_batch" ->
        p5a.stateOps.map(_.numRowsUpdated).sum.toDouble / math.max(1L, p3.stateOps.map(_.numRowsUpdated).sum),
      "repair.rows_stopped_in_output" -> stoppedOut.toDouble,
      "toolpair.join_s" -> (t2.wall - p1.wall),
      "toolpair.state_rows_peak" -> maxOf(t2, _.numRowsTotal.toDouble),
      "toolpair.state_commit_ms_per_batch" -> perDataBatch(t2, _.stateOperators.map(_.commitTimeMs).sum.toDouble),
      "toolpair.exchange_bytes_per_turn" -> shuffle(t2) / turns,
      "sink.merge_s" -> merges.map(_._1.ms).sum / 1e3,
      "sink.merge_cpu_s" -> (p4.cpu - p3.cpu),
      "sink.merge_p50_ms" -> Common.median(merges.map(_._1.ms).toSeq),
      "sink.jobs_per_merge" -> mergeJobs.map(_._3.length).sum.toDouble / math.max(1, merges.length),
      "sink.buckets_touched_per_merge" -> merges.map(_._2).sum.toDouble / math.max(1, merges.length),
      "sink.metadata_ms_per_merge" -> mergeJobs.map { case (s, _, js) =>
        s.ms - js.map(j => (j.endMs - j.startMs).toDouble).sum }.sum / math.max(1, merges.length),
      "sink.rows_written_per_input_row" -> mergeRows / math.max(1L, p4.data.map(_.numInputRows).sum),
      "batch.count" -> p5a.progress.length.toDouble,
      "batch.planning_ms_p50" -> Common.median(p5a.data.map(dur(_, "queryPlanning"))),
      "batch.log_ms_p50" -> Common.median(p5a.data.map(p =>
        Seq("latestOffset", "getBatch", "walCommit", "commitOffsets").map(dur(p, _)).sum)),
      "batch.no_data_ms" -> perNoData(p5a),
      "exec.task_cpu_s" -> exec.cpuNs / 1e9, "exec.gc_s" -> exec.gcMs / 1e3,
      "exec.shuffle_write_bytes" -> exec.shuffleWrite.toDouble, "exec.spill_bytes" -> exec.spill.toDouble,
      "exec.jobs" -> exec.jobs.size.toDouble, "exec.tasks" -> exec.tasks.toDouble,
      "trace.p4_s" -> p4.wall, "trace.p5_s" -> p5a.wall, "trace.p5_untraced_s" -> p5b.wall,
      "trace.overhead_pct" -> (p5a.wall - p5b.wall) / p5b.wall * 100,
      "trace.layers_valid" -> (if (valid) 1.0 else 0.0))
    val progress = runs.flatMap(r => r.progress.map(p => s"""{"run":"${r.name}","progress":${p.json}}"""))
    val ok = tables.forall(_._2) && joinOk
    Result(ok, runs.length, tables.count(!_._2) + (if (joinOk) 0 else 1), values,
      Map("progress.jsonl" -> progress.mkString("\n")))
  }

  private def perNoData(r: Run): Double = {
    val nd = r.progress.filter(_.numInputRows == 0)
    if (nd.isEmpty) 0.0 else nd.map(_.batchDuration.toDouble).sum / nd.length
  }

  /** The table's current manifest version, from MergeSink's `_current`. */
  private def version(table: File): Option[String] = {
    val cur = new File(table, "_current")
    if (cur.exists()) Some(Files.readString(cur.toPath).trim) else None
  }

  /** Buckets whose manifest entry at version `v` points at data written by `v`. */
  private def bucketsWritten(table: File, v: String): Int =
    Files.readAllLines(new File(table, s"_manifest.$v").toPath).toArray
      .count(_.toString.contains(s"\tdata_v$v/"))

  // ---------------------------------------------------------- operator_queries

  private def queries(a: Args, spans: Spans, tasks: TaskLog): Result = {
    val spark = Common.session(a, a.cores, Map("spark.sql.shuffle.partitions" -> a.cores.toString))
    spark.sparkContext.addSparkListener(tasks)
    var tag = ""
    val ops = new OperatorLog(() => tag)
    spark.listenerManager.register(ops)
    val dir = a.data.toString
    def pass(name: String): Seq[OperatorQueries.Exec] = spans(name) { id =>
      OperatorQueries.names.map { q =>
        tag = s"$q:$name"
        spark.sparkContext.setJobGroup(tag, tag)
        val (e, _) = spans(q, id) { _ =>
          val t0 = System.nanoTime()
          val fp = Common.fingerprint(graft.SparkEntry.queries(q)(spark, dir))
          OperatorQueries.Exec(q, Common.secondsSince(t0), fp)
        }
        wait(spark)
        e
      }
    }._1
    val cold = pass("cold")
    val warm = pass("warm")
    spark.sparkContext.clearJobGroup()
    val drift = warm.zip(cold).filter { case (w, c) => w.fp != c.fp }
    drift.foreach { case (w, c) => Common.log(s"${w.query}: warm ${w.fp} != cold ${c.fp}") }
    val byModule = OperatorQueries.modules.flatMap { case (m, defs) =>
      def secs(p: Seq[OperatorQueries.Exec]) = p.filter(e => defs.contains(e.query)).map(_.seconds).sum
      val warmTotals = tasks.totals(defs.keys.map(q => s"$q:warm").toSeq: _*)
      Seq(s"queries.$m.cold_s" -> secs(cold), s"queries.$m.warm_s" -> secs(warm),
        s"queries.$m.shuffle_bytes" -> warmTotals.shuffleWrite.toDouble,
        s"queries.$m.spill_bytes" -> warmTotals.spill.toDouble)
    }
    val exec = tasks.totals(OperatorQueries.names.flatMap(q => Seq(s"$q:cold", s"$q:warm")): _*)
    val values = byModule.toMap ++ Map(
      "exec.task_cpu_s" -> exec.cpuNs / 1e9, "exec.gc_s" -> exec.gcMs / 1e3,
      "exec.shuffle_write_bytes" -> exec.shuffleWrite.toDouble, "exec.spill_bytes" -> exec.spill.toDouble,
      "exec.jobs" -> exec.jobs.size.toDouble, "exec.tasks" -> exec.tasks.toDouble,
      "trace.layers_valid" -> 1.0)
    Result(drift.isEmpty, cold.length + warm.length, drift.length, values,
      Map("operators.jsonl" -> ops.jsonl))
  }
}
