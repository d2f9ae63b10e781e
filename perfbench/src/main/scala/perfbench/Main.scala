package perfbench

import java.io.File
import java.nio.file.Paths

/** Harness entry point, launched by `perfbench/run.py`:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <data dir>
  *                  <trace out dir> [key=value ...]
  *
  * Prints the workload's input properties, then as its last stdout line one
  * JSON object: `correct`, `attempted`, `failed`, `metrics`. `<data dir>` is
  * the fixture directory the workload reads.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1",
      Paths.get(argv(4)).toAbsolutePath, Paths.get(argv(5)).toAbsolutePath,
      Paths.get(argv(6)).toAbsolutePath,
      math.min(4, Runtime.getRuntime.availableProcessors()),
      argv.drop(7).map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap)
    val outcome = if (a.trace) Trace.run(a) else timed(a)
    println(Common.json(Seq(
      "correct" -> outcome.correct, "attempted" -> outcome.attempted,
      "failed" -> outcome.failed, "metrics" -> outcome.metrics)))
    System.out.flush()
    System.exit(0)
  }

  def printProperties(workload: String, props: Seq[(String, Any)]): Unit =
    println(s"input $workload " + Common.json(props))

  /** The timed `repair_job` run. Its set-up runs from here (harness session,
    * input staging) to the shipped job's first batch, see [[RepairJob.run]].
    * `operator_queries` has no harness in its timed runs: `run.py` starts
    * `graft.Verify` itself.
    */
  private def timed(a: Args): Outcome = {
    require(a.workload == "repair_job", s"no timed harness run for ${a.workload}")
    val t0 = System.nanoTime()
    val spark = Common.session(a, a.cores, Map("spark.sql.shuffle.partitions" -> a.cores.toString))
    val layout = RepairJob.Layout(new File(a.work.toFile, "repair"))
    val staged = RepairJob.stageInto(spark, a, layout)
    val stagingS = Common.secondsSince(t0)
    Common.log(f"session and staging: $stagingS%.2f s")
    printProperties(a.workload, Staging.properties(spark, staged.files) :+
      ("live_turns_per_s" -> a.double("live_files_per_s") * staged.turns / staged.files.length))
    RepairJob.run(a, spark, stagingS, layout, staged)
  }
}
