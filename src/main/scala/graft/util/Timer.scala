package graft.util

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

/** Always-on per-stage timing with the reference's stage vocabulary
  * (util/Timer.kt:25-118: `read`, `write.convert`, `write.open`,
  * `write.schema`, `close.deduplicate`, `close.store`, `accounting.*`,
  * `cleaner.*`) so BENCH metrics stay name-comparable. In the Spark
  * engine convert+dedup+store fuse into one job; the fused job is
  * attributed to `close.store`, plan construction to `write.convert`.
  * Stages run on the driver, so the cost is a few `nanoTime` calls per
  * topic.
  */
object Timer {
  private val nanos = new ConcurrentHashMap[String, LongAdder]()
  private val counts = new ConcurrentHashMap[String, LongAdder]()

  def time[T](stage: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally {
      nanos.computeIfAbsent(stage, _ => new LongAdder).add(System.nanoTime() - t0)
      counts.computeIfAbsent(stage, _ => new LongAdder).increment()
    }
  }

  def reset(): Unit = { nanos.clear(); counts.clear() }

  /** stage → (totalSeconds, invocations), sorted by stage name. */
  def snapshot: Seq[(String, Double, Long)] = {
    import scala.jdk.CollectionConverters._
    nanos.asScala.toSeq.map { case (k, v) =>
      // nanos/counts update non-atomically: a snapshot between the two
      // writes of a brand-new stage sees the nanos entry only — report
      // count 0 rather than NPE the metrics emission
      (k, v.sum / 1e9, Option(counts.get(k)).fold(0L)(_.sum))
    }.sortBy(_._1)
  }

  def toJson: String =
    // 4-decimal seconds (0.1 ms): keeps the emitted bench line compact
    // enough to survive the driver's bounded stdout-tail capture
    snapshot.map { case (k, s, n) =>
      s""""$k":{"sec":${math.rint(s * 1e4) / 1e4},"n":$n}"""
    }.mkString("{", ",", "}")
}
