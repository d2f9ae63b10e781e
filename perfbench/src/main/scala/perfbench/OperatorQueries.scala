package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** `operator_queries`: the 64 `SparkEntry.queries` over the sf0.01 fixture.
  *
  * Timed runs are `graft.Verify` itself, started and checked by
  * `perfbench/run.py`. The traced run ([[Trace]]) times a cold and a warm pass
  * whose executions each end in an order-insensitive fingerprint (row count +
  * column hash); every warm execution must reproduce its cold fingerprint.
  */
object OperatorQueries {
  /** Query name → module, for per-module figures. */
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "ReferenceOps" -> graft.queries.ReferenceOps.defs,
    "CepOps" -> graft.queries.CepOps.defs,
    "TextOps" -> graft.queries.TextOps.defs,
    "VectorOps" -> graft.queries.VectorOps.defs,
    "RelOps" -> graft.queries.RelOps.defs,
    "GraphOps" -> graft.queries.GraphOps.defs,
    "PipelineOps" -> graft.queries.PipelineOps.defs,
    "ConvOps" -> graft.queries.ConvOps.defs)

  def names: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  final case class Exec(query: String, seconds: Double, fp: (Long, java.math.BigDecimal))
}
