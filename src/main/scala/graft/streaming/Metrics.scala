package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.jdk.CollectionConverters._

/** Pipeline metrics (reference O17, `kafka/producer/metric.go:12-111`):
  *
  *   - process latency (event-time → produce) of the latest row
  *   - success counters per topic, quality-violation counters
  *   - bulk-flush latency ≙ the micro-batch `batchDuration` Spark already
  *     reports in StreamingQueryProgress
  *
  * The counters ride the plan as the fused [[PipelineProbe]] (codegen'd
  * accumulator bumps, no extra pass, no stage break); a
  * StreamingQueryListener drains them once per progress event, the
  * Spark-native stand-in for the reference's Prometheus registry.
  */
object Metrics {

  final case class BatchMetrics(
      batchId: Long,
      events: Long,
      maxProcessLatencyMs: Long,
      batchDurationMs: Long)

  /** Listener collecting per-batch metrics (≙ `ResponseHandler.OnSuccess`
    * accounting + latency gauges). Thread-safe; read via `snapshot`.
    * Each progress event drains the [[PipelineProbe]]'s per-batch
    * accumulator deltas; when a [[MetricsRegistry]] is supplied they
    * also update the exposition state: the two latency gauges, the
    * quality-violation counters and the per-topic success counters.
    */
  final class Collector(registry: Option[MetricsRegistry] = None,
      probe: Option[PipelineProbe] = None)
      extends StreamingQueryListener {
    private val batches = new ConcurrentLinkedQueue[BatchMetrics]()

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    // counters are never reset, so a drain racing a running batch splits
    // counts across drains — never loses or duplicates
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      probe.foreach { pr =>
        val p = e.progress
        val d = pr.drain()
        if (d.events > 0)
          batches.add(BatchMetrics(p.batchId, d.events,
            if (d.latencyAdvanced) d.latencyMs else 0L, p.batchDuration))
        registry.foreach { r =>
          if (d.latencyAdvanced) r.setProcessLatency(d.latencyMs)
          r.setBulkRequestLatency(p.batchDuration)
          if (d.unknownOp > 0) r.incrementQualityViolation("unknown_op", d.unknownOp)
          if (d.unroutableTable > 0)
            r.incrementQualityViolation("unroutable_table", d.unroutableTable)
          if (d.nullKey > 0) r.incrementQualityViolation("null_key", d.nullKey)
          d.topicDeltas.foreach { case (t, n) => r.incrementSuccess(t, n) }
        }
      }

    def snapshot: Seq[BatchMetrics] = batches.asScala.toSeq
    def totalEvents: Long = snapshot.map(_.events).sum
  }
}
