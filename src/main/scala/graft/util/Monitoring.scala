package graft.util

import scala.collection.mutable

/** Batch metrics + rolling pipeline monitor + alert handlers, mirroring the
  * reference (`/root/reference/spark/monitoring/metrics.py`): a
  * `BatchMetrics` record per micro-batch, a bounded rolling window with
  * threshold alerts (validity < 95%, latency > 10 s, error-type ≥ 10%
  * concentration), consecutive-failure escalation WARNING→ERROR, and a
  * HEALTHY/DEGRADED/NO_DATA health summary.
  */
final case class BatchMetrics(
    batchId: Long,
    totalEvents: Long,
    validEvents: Long,
    invalidEvents: Long,
    processingTimeSec: Double,
    errorCounts: Map[String, Long] = Map.empty) {
  def validityRate: Double =
    if (totalEvents == 0) 100.0 else validEvents.toDouble / totalEvents * 100.0
  def throughput: Double =
    if (processingTimeSec <= 0) 0.0 else totalEvents / processingTimeSec
  def errorRate: Double =
    if (totalEvents == 0) 0.0 else invalidEvents.toDouble / totalEvents * 100.0
}

sealed abstract class AlertLevel(val order: Int)
object AlertLevel {
  case object Info extends AlertLevel(0)
  case object Warning extends AlertLevel(1)
  case object Error extends AlertLevel(2)
  case object Critical extends AlertLevel(3)
}

final case class Alert(level: AlertLevel, message: String, batchId: Long)

trait AlertHandler { def handle(alert: Alert): Unit }

/** Collects alerts in memory (test double + default console logging). */
class BufferingAlertHandler extends AlertHandler {
  val alerts: mutable.Buffer[Alert] = mutable.Buffer.empty
  override def handle(alert: Alert): Unit = synchronized { alerts += alert }
}

class ConsoleAlertHandler extends AlertHandler {
  override def handle(alert: Alert): Unit =
    Console.err.println(s"[${alert.level}] batch=${alert.batchId} ${alert.message}")
}

sealed trait Health
object Health {
  case object Healthy extends Health
  case object Degraded extends Health
  case object NoData extends Health
}

class PipelineMonitor(
    windowSize: Int = 10,
    minValidityRate: Double = 95.0,
    maxLatencySec: Double = 10.0,
    errorConcentrationPct: Double = 10.0,
    escalateAfter: Int = 3,
    handlers: Seq[AlertHandler] = Seq(new ConsoleAlertHandler)) {

  private val window = mutable.Queue.empty[BatchMetrics]
  private var consecutiveBad = 0

  def record(m: BatchMetrics): Seq[Alert] = synchronized {
    window.enqueue(m)
    while (window.size > windowSize) window.dequeue()
    val alerts = mutable.Buffer.empty[Alert]
    val bad = m.validityRate < minValidityRate || m.processingTimeSec > maxLatencySec
    consecutiveBad = if (bad) consecutiveBad + 1 else 0
    val level: AlertLevel =
      if (consecutiveBad >= escalateAfter) AlertLevel.Error else AlertLevel.Warning
    if (m.validityRate < minValidityRate)
      alerts += Alert(level, f"validity ${m.validityRate}%.1f%% < $minValidityRate%.1f%%", m.batchId)
    if (m.processingTimeSec > maxLatencySec)
      alerts += Alert(level, f"latency ${m.processingTimeSec}%.1fs > $maxLatencySec%.1fs", m.batchId)
    if (m.totalEvents > 0) m.errorCounts.foreach { case (err, n) =>
      val pct = n.toDouble / m.totalEvents * 100.0
      if (pct >= errorConcentrationPct)
        alerts += Alert(AlertLevel.Warning, f"error '$err' at $pct%.1f%% of batch", m.batchId)
    }
    alerts.foreach(a => handlers.foreach(_.handle(a)))
    alerts.toSeq
  }

  def health: Health = synchronized {
    if (window.isEmpty) Health.NoData
    else {
      val avgValidity = window.map(_.validityRate).sum / window.size
      if (avgValidity >= minValidityRate) Health.Healthy else Health.Degraded
    }
  }

  def windowSnapshot: Seq[BatchMetrics] = synchronized(window.toSeq)
}
