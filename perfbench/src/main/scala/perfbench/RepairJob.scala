package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sink.MergeSink
import graft.stream.{OrderRepair, TurnPos}

/** `repair_job`: the shipped `graft.jobs.TranscriptPipeline.main`, unchanged,
  * in a child JVM, observed only through files: the checkpoint's file-source
  * log (`<ckpt>/sources/0`, which files each batch read), its offset log
  * (`<ckpt>/offsets/<id>`, when each batch started) and MergeSink's commit
  * journal (`<table>/_commits.d/<id>`, when each batch committed).
  *
  * Backfill: the first `backfill_files` staged files are in place before the
  * job starts. Live: from the moment the job is launched, a generator thread
  * drops the remaining `live_files` into the input directory on an open-loop
  * schedule of `live_files_per_s` files per second (atomic rename, arrival
  * order), while the job starts up and plans. A live file's freshness runs
  * from the moment it was due to the commit marker of the batch that read
  * it. The run ends when every file is committed.
  *
  * Set-up runs from the harness's start (its Spark session and the staging
  * of the input) to the moment the job's first batch begins, so it counts
  * the job's own launch.
  */
object RepairJob {
  val freshnessLimitMs = 120000.0
  val spanS = 3600

  final case class Layout(root: File) {
    val in = new File(root, "in")
    val pending = new File(root, "pending")
    val table = new File(root, "table")
    val errors = new File(root, "errors")
    val ckpt = new File(root, "ckpt")
    val progress = new File(root, "progress")
    def markers: File = new File(table, "_commits.d")
    def offsets: File = new File(ckpt, "offsets")
    def sources: File = new File(ckpt, "sources/0")
  }

  /** Stages the fixture's events: the first `backfill_files` files land in
    * `in/`, the rest wait in `pending/`. Stamps mtimes in arrival order (the
    * file source reads oldest first).
    */
  def stageInto(spark: SparkSession, a: Args, l: Layout): Staged = {
    val backfillFiles = a.int("backfill_files")
    val st = Staging.stage(spark, a.data.toFile, a.seed, a.int("conversations"), backfillFiles + a.int("live_files"), spanS,
      new File(l.root, "staged"))
    l.in.mkdirs(); l.pending.mkdirs()
    val base = System.currentTimeMillis() - 10L * st.files.length
    st.copy(files = st.files.zipWithIndex.map { case (f, i) =>
      val dst = new File(if (i < backfillFiles) l.in else l.pending, f.getName)
      Files.move(f.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
      dst.setLastModified(base + 10L * i)
      dst
    })
  }

  /** Launch `TranscriptPipeline.main` in its own JVM with deployment
    * settings only.
    */
  def launchChild(a: Args, l: Layout, cores: Int): Process = {
    val java = new File(System.getProperty("java.home"), "bin/java").getPath
    val tmp = new File(l.root, "child-tmp"); tmp.mkdirs()
    // the harness's own module openings, which run.py set
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("--add-opens"))
    val cmd = Seq(java) ++ opens ++ Seq(
      "-Xmx2g",
      s"-Dspark.master=local[$cores]",
      "-Dspark.ui.enabled=false",
      s"-Dspark.local.dir=${new File(l.root, "child-local")}",
      s"-Djava.io.tmpdir=$tmp") ++
      Option(System.getProperty("log4j2.configurationFile"))
        .map(c => s"-Dlog4j2.configurationFile=$c").toSeq ++
      Seq("-cp", System.getProperty("java.class.path"),
        "graft.jobs.TranscriptPipeline",
        l.in.getPath, l.table.getPath, l.errors.getPath, l.ckpt.getPath, l.progress.getPath)
    new ProcessBuilder(cmd.asJava)
      .redirectErrorStream(true)
      .redirectOutput(new File(l.root, "child.log"))
      .start()
  }

  /** The job runs until killed; its measured state is on disk by now. */
  def stopChild(p: Process): Unit = {
    p.destroyForcibly()
    p.waitFor()
  }

  /** Committed batch id of each file, once its batch's journal marker exists. */
  def committed(l: Layout): Map[String, Long] = {
    val marks = Common.batchIds(l.markers).toSet
    Common.sourceLog(l.sources).filter { case (_, b) => marks.contains(b) }
  }

  def marker(l: Layout, b: Long): File = new File(l.markers, b.toString)

  def awaitUntil(deadlineMs: Long, what: String)(cond: => Boolean): Boolean = {
    while (!cond) {
      if (System.currentTimeMillis() > deadlineMs) { Common.log(s"timed out: $what"); return false }
      Thread.sleep(25)
    }
    true
  }

  /** Drops the live files on schedule, recording each file's due time (ms). */
  final class Generator(files: Seq[File], into: File, perS: Double) extends Thread("generator") {
    val due: Array[Double] = new Array[Double](files.length)
    @volatile var maxLagMs = 0.0
    override def run(): Unit = {
      val start = System.currentTimeMillis() + 100.0
      files.zipWithIndex.foreach { case (f, i) =>
        due(i) = start + i * 1000.0 / perS
        val wait = (due(i) - System.currentTimeMillis()).toLong
        if (wait > 0) Thread.sleep(wait)
        val now = System.currentTimeMillis()
        maxLagMs = math.max(maxLagMs, now - due(i))
        Files.setLastModifiedTime(f.toPath, FileTime.fromMillis(now))
        Files.move(f.toPath, new File(into, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
      }
    }
  }

  /** The batch reference: `OrderRepair.batch` over the job's validation
    * chain applied to every file the run dropped.
    */
  def reference(spark: SparkSession, files: Seq[File]) = {
    val turns = Staging.validate(spark.read.schema(graft.jobs.TranscriptPipeline.turnSchema)
      .parquet(files.map(_.getPath): _*)).select(Staging.turnCols.map(col): _*)
    OrderRepair.batch(turns.as(Encoders.product[TurnPos]), strict = false).toDF()
  }

  def tableMatches(spark: SparkSession, l: Layout, files: Seq[File]): Boolean = {
    val actual = new MergeSink(l.table.getPath, Seq("conv_id", "turn_idx"), "pos").read(spark)
    val want = Common.fingerprint(reference(spark, files))
    val got = if (actual.columns.isEmpty) (0L, java.math.BigDecimal.ZERO)
              else Common.fingerprint(actual.select(Staging.turnCols.map(actual.col): _*))
    Common.log(s"gate: table rows=${got._1} hash=${got._2}; reference rows=${want._1} hash=${want._2}")
    got == want
  }

  def run(a: Args, spark: SparkSession, stagingS: Double, l: Layout, st: Staged): Outcome = {
    val live = st.files.drop(a.int("backfill_files"))
    val all = st.files.map(f => new File(l.in, f.getName))
    val launchMs = System.currentTimeMillis()
    val child = launchChild(a, l, a.cores)
    val pid = child.pid()
    val gen = new Generator(live, l.in, a.double("live_files_per_s"))
    gen.start()
    try {
      if (!awaitUntil(launchMs + 150000L, "first batch")(
          new File(l.offsets, "0").exists() || !child.isAlive)) return failed(st)
      val cpu0 = Common.procCpuSeconds(pid)
      gen.join()
      awaitUntil(System.currentTimeMillis() + 150000L, "all commits") {
        val c = committed(l); all.forall(f => c.contains(f.getName)) || !child.isAlive
      }
      val cpu1 = Common.procCpuSeconds(pid)
      val rss = Common.peakRssMb(pid)
      val done = committed(l)
      stopChild(child)

      val batches = done.values.toSeq.distinct.sorted
      val start = Common.mtimeMs(new File(l.offsets, "0"))
      val setupS = stagingS + (start - launchMs) / 1e3
      Common.log(f"launch to first batch: ${(start - launchMs) / 1e3}%.2f s")
      val end = batches.map(b => Common.mtimeMs(marker(l, b))).maxOption.getOrElse(start)
      val fresh = live.zipWithIndex.flatMap { case (f, i) =>
        done.get(f.getName).map(b => Common.mtimeMs(marker(l, b)) - gen.due(i)) }
      val lost = all.count(f => !done.contains(f.getName))
      val slow = fresh.count(_ > freshnessLimitMs)
      Common.log(f"${batches.length} batches, ${(end - start) / 1e3}%.2f s; batch ms " +
        batches.map(b => (Common.mtimeMs(marker(l, b)) -
          Common.mtimeMs(new File(l.offsets, b.toString))).round).mkString(",") +
        f"; generator max lag ${gen.maxLagMs}%.0f ms; lost $lost, over limit $slow")
      val t0 = System.nanoTime()
      val ok = tableMatches(spark, l, all)
      Common.log(f"gate: ${Common.secondsSince(t0)}%.2f s")
      Outcome(ok, all.length, if (ok) lost + slow else all.length, Seq(
        "setup_s" -> Metric(setupS, "s"),
        "throughput_per_s" -> Metric(st.turns / ((end - start) / 1e3), "1/s"),
        "latency_p50_ms" -> Metric(Common.quantile(fresh, 0.5), "ms"),
        "cpu_s" -> Metric(cpu1 - cpu0, "s"),
        "peak_rss_mb" -> Metric(rss, "MB")))
    } finally {
      if (child.isAlive) stopChild(child)
    }
  }

  private def failed(st: Staged): Outcome =
    Outcome(correct = false, st.files.length, st.files.length, Nil)
}
