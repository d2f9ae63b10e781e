package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Arguments shared by every workload. `work` is a scratch directory the
  * harness owns for the run; `out` receives the trace artifacts; `params`
  * carries the workload's sizes, set by `run.py`.
  */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: Path, data: Path, out: Path, cores: Int,
                      params: Map[String, String]) {
  def int(k: String): Int = params(k).toInt
  def double(k: String): Double = params(k).toDouble
}

/** One metric as printed in the result line. */
final case class Metric(value: Double, unit: String)

/** What a workload hands back to [[Main]]. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                         metrics: Seq[(String, Metric)])

object Common {

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** A Spark session for the harness itself. `extra` overrides the defaults;
    * scratch files stay under the run's work directory.
    */
  def session(a: Args, cores: Int, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session settings of `TranscriptPipeline.main`, so in-process runs of the
    * job's layers match the shipped job's plan.
    */
  val jobConfs: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU seconds used so far by this JVM. */
  def selfCpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private val clockTicks = 100.0 // USER_HZ on Linux

  /** utime + stime of another process, from /proc. */
  def procCpuSeconds(pid: Long): Double = {
    val stat = new String(Files.readAllBytes(Paths.get(s"/proc/$pid/stat")))
    val fields = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (fields(11).toLong + fields(12).toLong) / clockTicks
  }

  /** Peak resident set (VmHWM) of a process, in MB. */
  def peakRssMb(pid: Long): Double =
    Files.readAllLines(Paths.get(s"/proc/$pid/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** JSON for a flat map of numbers/strings/booleans/nested maps. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Metric => json(Seq("value" -> m.value, "unit" -> m.unit))
    case m: Map[_, _] => json(m.toSeq)
    case kv: Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) =>
      kv.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ", ", "]")
    case other => json(other.toString)
  }

  /** Order-insensitive fingerprint of a DataFrame: row count plus the sum of
    * a 64-bit hash over every column (sorted by name). Doubles are rendered
    * at 9 significant digits first, so two runs whose float aggregation
    * orders differ in the last bits still agree.
    */
  def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.schema.fields.sortBy(_.name).map(f => normalized(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  private def normalized(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.8e", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => normalized(x, et))
    case _: MapType | _: StructType => c.cast(StringType)
    case _ => c
  }

  /** Files in `dir` (non-recursive) whose names parse as a batch id. */
  def batchIds(dir: File): Seq[Long] =
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .flatMap(f => scala.util.Try(f.getName.toLong).toOption)

  def mtimeMs(f: File): Double =
    Files.getLastModifiedTime(f.toPath).to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0

  /** `path -> batchId` from a file source's metadata log
    * (`<ckpt>/sources/0`), compacted files included.
    */
  def sourceLog(dir: File): Map[String, Long] = {
    val out = mutable.Map.empty[String, Long]
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => !f.getName.startsWith(".") && !f.getName.endsWith(".tmp")).foreach { f =>
        val lines = scala.util.Try(Files.readAllLines(f.toPath).asScala.toSeq).getOrElse(Nil)
        lines.filter(_.startsWith("{")).foreach { l =>
          val path = "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(l).map(_.group(1))
          val id = "\"batchId\":(\\d+)".r.findFirstMatchIn(l).map(_.group(1).toLong)
          for (p <- path; i <- id) out(new File(new java.net.URI(p)).getName) = i
        }
      }
    out.toMap
  }
}
