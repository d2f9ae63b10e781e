package graft.sink

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Per-micro-batch lineage + state metrics log (north rule: "every
  * micro-batch records per-partition lineage and state-store metrics to a
  * checkpointed progress log"). Appends one JSON line per batch to
  * `<dir>/progress.jsonl`: batchId, source offsets (the lineage — which
  * input slice produced the batch), rows/sec, the full `durationMs`
  * breakdown, watermark, and per state operator its rows, memory, shuffle
  * partitions, state-store instances, commit time and custom metrics.
  * Spark's own `progress.json` is already JSON — we persist the subset that
  * matters for resume audits and per-batch cost next to the checkpoint.
  */
class ProgressListener(dir: String) extends StreamingQueryListener {

  Files.createDirectories(Paths.get(dir))
  private val out = Paths.get(dir, "progress.jsonl")

  override def onQueryStarted(event: QueryStartedEvent): Unit = {
    append(s"""{"event":"started","id":"${event.id}","runId":"${event.runId}"}""")
  }

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    val sources = p.sources.map { s =>
      s"""{"description":${q(s.description)},"startOffset":${orNull(s.startOffset)},"endOffset":${orNull(s.endOffset)},"numInputRows":${s.numInputRows}}"""
    }.mkString("[", ",", "]")
    val state = Option(p.stateOperators).getOrElse(Array.empty).map { so =>
      s"""{"operatorName":${q(so.operatorName)},"numRowsTotal":${so.numRowsTotal},"numRowsUpdated":${so.numRowsUpdated},""" +
        s""""memoryUsedBytes":${so.memoryUsedBytes},"numShufflePartitions":${so.numShufflePartitions},""" +
        s""""numStateStoreInstances":${so.numStateStoreInstances},"commitTimeMs":${so.commitTimeMs},""" +
        s""""customMetrics":${longs(so.customMetrics)}}"""
    }.mkString("[", ",", "]")
    val watermark = Option(p.eventTime.get("watermark")).map(q).getOrElse("null")
    append(
      s"""{"event":"progress","batchId":${p.batchId},"timestamp":${q(p.timestamp)},""" +
        s""""numInputRows":${p.numInputRows},"processedRowsPerSecond":${safeNum(p.processedRowsPerSecond)},""" +
        s""""durationMs":${longs(p.durationMs)},""" +
        s""""watermark":$watermark,"sources":$sources,"stateOperators":$state}""")
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit =
    append(s"""{"event":"terminated","id":"${event.id}"}""")

  private def safeNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  /** A `Map[String, Long]` of the progress API as a JSON object, keys sorted. */
  private def longs(m: java.util.Map[String, java.lang.Long]): String =
    Option(m).map(_.asScala.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}:$v" })
      .getOrElse(Nil).mkString("{", ",", "}")

  private def orNull(s: String): String = Option(s).map(identity).getOrElse("null")

  private def q(s: Any): String =
    "\"" + String.valueOf(s).replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n") + "\""

  private def append(line: String): Unit = synchronized {
    Files.writeString(out, line + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}
