package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.SparkContext

/** Process-level readings from procfs. */
object Proc {
  /** User + system CPU ticks (1/100 s) of this JVM, all threads. */
  def cpuTicks(): Long = {
    val stat = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/stat")), "US-ASCII")
    // fields after the parenthesised command name; utime and stime are
    // the 14th and 15th fields of the line
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    f(11).toLong + f(12).toLong
  }

  /** High-water mark of the resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    val line = try src.getLines().find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      finally src.close()
    line.split("\\s+")(1).toLong / 1024.0
  }

  /** Host contention stamp, the busy-loop probe of `Bench.hostProbe`: one
    * spinning thread per core for `seconds`, against /proc/stat's steal
    * ticks, plus the min-to-max spread of per-thread iterations.
    * (steal_pct, spread_pct).
    */
  def hostProbe(seconds: Double): (Double, Double) = {
    def stealTicks(): Long = {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+")(8).toLong finally src.close()
    }
    val n = Runtime.getRuntime.availableProcessors()
    val durNs = (seconds * 1e9).toLong
    val iters = new Array[Long](n)
    val s0 = stealTicks()
    val t0 = System.nanoTime()
    val threads = (0 until n).map { i =>
      val t = new Thread(() => {
        var x = 0L
        while (System.nanoTime() - t0 < durNs) x += 1
        iters(i) = x
      })
      t.start(); t
    }
    threads.foreach(_.join())
    val elapsed = (System.nanoTime() - t0) / 1e9
    val stealPct = 100.0 * (stealTicks() - s0) / (elapsed * 100.0 * n)
    val spreadPct = 100.0 * (iters.max - iters.min) / math.max(1L, iters.max)
    (stealPct, spreadPct)
  }
}

/** A timed interval: its name, the span that caused it (-1 for none) and
  * the pass it belongs to. Jobs started inside it run under the job group
  * `group`, so the meter can charge engine work to it. `overheadNs` is the
  * time the tracer itself spent around the body: what tracing adds to the
  * pass's wall time, since spans run on the driver thread in sequence.
  */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startNs: Long, endNs: Long, cpuTicks: Long, group: String,
                      overheadNs: Long)

/** Spans kept in memory and written out at exit. When off, `apply` is the
  * bare body: no clock reads, no job groups, nothing recorded.
  */
final class Tracer(val on: Boolean, sc: SparkContext) {
  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var next = 0

  def apply[T](name: String, pass: Int)(body: => T): T =
    if (!on) body
    else {
      val enter = System.nanoTime()
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      val group = s"$name#$id"
      val outer = Option(sc.getLocalProperty("spark.jobGroup.id"))
      sc.setJobGroup(group, name)
      stack = id :: stack
      val c0 = Proc.cpuTicks()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val c1 = Proc.cpuTicks()
        stack = stack.tail
        outer match {
          case Some(g) => sc.setJobGroup(g, g)
          case None => sc.clearJobGroup()
        }
        spans += Span(id, name, parent, pass, t0, t1, c1 - c0, group,
          (t0 - enter) + (System.nanoTime() - t1))
      }
    }
}

/** Outcome of one operation (a pipeline stage or a query). `out` is the
  * output fingerprint compared against golden.json; `error` is set when
  * the operation threw or its output broke an invariant.
  */
final case class Op(name: String, var out: String = "", var error: String = "")

/** One pass of a workload: the operations it attempted, each run inside a
  * span of its own.
  */
final class Pass(val id: Int, tracer: Tracer) {
  val ops = ArrayBuffer[Op]()

  /** Runs `body` as operation `name`; None when it throws. */
  def op[T](name: String)(body: => T): Option[T] = {
    val o = Op(name)
    ops += o
    tracer(name, id) {
      try Some(body)
      catch { case NonFatal(e) =>
        o.error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
      }
    }
  }

  def fail(name: String, why: String): Unit =
    ops.find(_.name == name).foreach(o => if (o.error.isEmpty) o.error = why)

  def get(name: String): Op = ops.find(_.name == name).get
}
