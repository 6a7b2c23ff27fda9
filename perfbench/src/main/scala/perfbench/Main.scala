package perfbench

import scala.collection.mutable

/** Benchmark entry point: one workload per JVM.
  *
  * {{{
  * perfbench.Main --workload hit_stream --seed 1 --seconds 20 --trace 0
  *   --size full --work <dir> --data <dir> --out <result.json>
  * }}}
  *
  * Writes one JSON object to `--out`: end-to-end metrics, per-layer metrics
  * (with `--trace 1`), output checks and run hygiene. `perfbench/run.py`
  * builds the classpath, launches this main and prints the final result.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, size: String, work: String, data: String, out: String,
      traceOut: String) {
    def runId: String = s"$workload-$seed-${if (trace) "traced" else "plain"}"
    def tiny: Boolean = size == "tiny"
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.getOrElse("size", "full"), need("work"),
      need("data"), need("out"),
      m.getOrElse("trace-out", s"${need("work")}/trace.jsonl"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workload: Run => Unit = args.workload match {
      case "hit_stream" => Workloads.hitStream
      case "analytics" => Workloads.analytics
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val load0 = loadAverage()
    val t0 = System.nanoTime()
    val r = new Run(args)
    r.info("session_s") = (System.nanoTime() - t0) / 1e9
    val error =
      try { r.workload(workload(r)); None }
      catch { case e: Throwable => e.printStackTrace(); Some(e.toString) }
    val dirs = Seq("spark_local" -> s"${args.work}/spark-local",
      "ckpt" -> s"${args.work}/ckpt")
    for ((k, d) <- dirs) r.info(s"held_${k}_bytes") = Run.diskUsage(d)._1
    r.layer("driver.peak_rss_mb", Run.peakRssMb(), "MB")
    if (error.isEmpty) Layers.report(r)
    r.trace.foreach(_.close())
    r.spark.stop()
    for ((k, d) <- dirs) r.info(s"left_${k}_bytes") = Run.diskUsage(d)._1
    r.info("nproc") = Runtime.getRuntime.availableProcessors()
    r.info("cores") = Run.Cores
    r.info("load_start") = load0
    r.info("load_end") = loadAverage()
    r.info("jvm_max_heap_mb") = Runtime.getRuntime.maxMemory / (1 << 20)
    r.info("jvm_wall_s") = (System.nanoTime() - t0) / 1e9
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed,
      "error" -> error,
      "attempted" -> r.attempted, "failed" -> r.failed,
      "e2e" -> unitMap(r.e2e), "layers" -> unitMap(r.layers),
      "checks" -> r.checks, "info" -> r.info,
      "ops" -> r.ops.map(o =>
        Map("name" -> o.name, "s" -> o.wall, "cpu_s" -> o.cpu)))
    Run.json.writeValue(new java.io.File(args.out), out)
  }

  private def unitMap(m: mutable.LinkedHashMap[String, (Double, String)]) =
    m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }

  private def loadAverage(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
}
