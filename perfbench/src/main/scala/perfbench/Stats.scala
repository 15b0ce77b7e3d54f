package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** A wall-clock reading together with the VM's cumulative CPU ticks. */
final case class Mark(ns: Long, busy: Long, steal: Long) {
  /** The time from this mark to `end`, as wall time and as run time: the
    * wall time less the share the hypervisor ran other guests on this VM's
    * CPUs (steal ticks over busy ticks in between).
    */
  def until(end: Mark): Lap = {
    val wall = (end.ns - ns) / 1e9
    val busy = end.busy - this.busy
    Lap(wall, if (busy <= 0) wall else wall * (1 - (end.steal - steal).toDouble / busy))
  }
}
object Mark {
  def now(): Mark = { val (busy, steal) = Stats.cpuTicks(); Mark(System.nanoTime(), busy, steal) }
}

final case class Lap(wallS: Double, runS: Double)

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, and that
    * percentile. Below 21 samples that percentile would sit under the
    * median, so the maximum (percentile 100) stands in for the tail.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0.0)
    else if (n < 21) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }

  /** Memory this JVM retains, MB: heap in use after a full collection, plus
    * non-heap in use (metaspace, code cache). Unlike the resident set it
    * does not follow the heap the collector keeps committed, so it grows
    * with the state the run holds (dimensions, Derby tables, Spark metadata).
    */
  def retainedMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** Cumulative (busy, steal) jiffies of all CPUs, from /proc/stat: the
    * share of time the hypervisor ran other guests shows how noisy a run was.
    */
  def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Path.of("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (f.take(8).sum - f(3) - f(4), f(7))
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def resultJson(correct: Boolean, attempted: Int, failed: Int,
                 metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ") + "}}"

  /** What the oracle expects of every cycle, for an independent recount. */
  def oracleJson(exps: Seq[Expected]): String =
    exps.map { e =>
      val cats = e.perCategory.toSeq.sorted.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
      s"""{"day": "${e.day}", "time": "${e.time}", "fact_rows": ${e.factRows}, """ +
        s""""sum_event_id": ${e.sumEventId}, "sum_user_id": ${e.sumUserId}, "sum_value": ${e.sumValue}, """ +
        s""""sum_prop_k": ${e.sumPropK}, "count_prop_k": ${e.countPropK}, "new_users": ${e.newUsers}, """ +
        s""""new_categories": ${e.newCategories}, "raw_objects": ${e.rawObjects}, "per_category": {$cats}}"""
    }.mkString("[\n", ",\n", "\n]\n")
}
