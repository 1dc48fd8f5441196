package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.ListenerBus

import graft.GraftSession

/** Runs one workload as a batch job: set-up (JVM launch to a ready session
  * and workload), then passes in a closed loop until `--seconds` have gone
  * by, at least one. The first pass runs cold, as the one pass of a
  * submitted job does. Every raw reading goes as JSON to `--out` for
  * `run.py` to reduce.
  *
  * With `--trace 1` every pass is traced: each operation gets a span and a
  * job group. Without it the tracer is off and records nothing.
  *
  * Args: --workload NAME --seed N --seconds S --trace 0|1 --data DIR
  *       --work DIR --out FILE --size k=v[,k=v...]
  */
object Main {

  private final case class PassRecord(p: Pass, wallS: Double, cpuS: Double,
                                      engine: Counters, peakExecBytes: Long,
                                      cachedBytes: Long)

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val size = opt("size").split(",").map(_.split("=")).map(a => a(0) -> a(1)).toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traceRun = opt("trace") == "1"
    val work = opt("work")

    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors(),
      appName = "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext
    val meter = new Meter
    sc.addSparkListener(meter)
    spark.listenerManager.register(meter)
    val tracer = new Tracer(traceRun, sc)

    val workload: Workload = opt("workload") match {
      case "e2e_reference" =>
        new Reference(spark, s"$work/ref", seed, size("events").toLong, size("ingest").toInt)
      case "curation_mix" => new CurationMix(new Curation(spark, s"${opt("data")}/curation"),
        new Catalog(spark, s"${opt("data")}/catalog", seed, size("queries").split("\\+").toSeq))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val passes = ArrayBuffer[PassRecord]()
    def runPass(id: Int): Unit = {
      val p = new Pass(id, tracer)
      val before = meter.snapshot()
      meter.takePeak()
      val c0 = Proc.cpuTicks()
      val t0 = System.nanoTime()
      tracer("pass", id)(workload.pass(p, tracer.on))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (Proc.cpuTicks() - c0) / 100.0
      val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      // fresh state for the next pass: no pass reads an earlier pass's
      // persisted relations or checkpoints
      spark.catalog.clearCache()
      graft.operators.ScaleZip.sweepPending(spark)
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      ListenerBus.drain(sc)
      val engine = meter.snapshot().minus(before)
      val peak = meter.takePeak()
      workload.check(p)
      passes += PassRecord(p, wall, cpu, engine, peak, cached)
    }

    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val t0 = System.nanoTime()
    var id = 1
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (id == 1 || elapsed < seconds) {
      runPass(id)
      id += 1
    }
    ListenerBus.drain(sc)
    val (steal, spread) = Proc.hostProbe(0.5)
    val peakRss = Proc.peakRssMb()

    def esc(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => " "; case c => c.toString
    } + "\""
    val passJson = passes.map { r =>
      val ops = r.p.ops.map(o =>
        s"""{"name":${esc(o.name)},"out":${esc(o.out)},"error":${esc(o.error)}}""")
      s"""{"id":${r.p.id},"traced":$traceRun,"wall_s":${r.wallS},"cpu_s":${r.cpuS},""" +
        s""""engine":${r.engine.json},"peak_exec_bytes":${r.peakExecBytes},""" +
        s""""cached_bytes":${r.cachedBytes},"ops":${ops.mkString("[", ",", "]")}}"""
    }
    val spanJson = tracer.spans.map { s =>
      val c = meter.group(s.group)
      s"""{"id":${s.id},"name":${esc(s.name)},"parent":${s.parent},"pass":${s.pass},""" +
        s""""start_s":${(s.startNs - t0) / 1e9},"end_s":${(s.endNs - t0) / 1e9},""" +
        s""""cpu_s":${s.cpuTicks / 100.0},"overhead_s":${s.overheadNs / 1e9},""" +
        s""""engine":${c.json}}"""
    }
    val json = s"""{"session_s":$sessionS,"setup_s":$setupS,"peak_rss_mb":$peakRss,""" +
      s""""items":${workload.items},"host":{"steal_pct":$steal,"spread_pct":$spread},""" +
      s""""passes":${passJson.mkString("[", ",", "]")},""" +
      s""""spans":${spanJson.mkString("[", ",", "]")}}"""
    spark.stop()
    Files.write(Paths.get(opt("out")), json.getBytes("UTF-8"))
  }
}
