package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run: its Spark session, the optional trace, the timed ops
  * and the output checks. Ops are timed from outside with `System.nanoTime`
  * around calls into the engine's public functions. */
final class Run(val args: Main.Args) {
  var spark: SparkSession = Run.session(Run.Cores, s"${args.work}/spark-local")
  var trace: Option[Trace] =
    if (args.trace) Some(new Trace(spark.sparkContext, args.runId)) else None

  /** Every timed op, in order. */
  val ops = ArrayBuffer.empty[Run.Op]
  val checks = ArrayBuffer.empty[Run.Check]
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val gc0: Double = Run.gcSeconds()

  /** Superstep count of the workload and the ops that run them (for the
    * per-superstep Spark metrics of a traced run). */
  var supersteps = 0L
  var superstepOp: String => Boolean = _ => false

  /** Runs `body` as a timed op (an op span when tracing). */
  def op[T](name: String)(body: => T): (T, Run.Op) = {
    attempted += 1
    val c0 = Run.cpuSnapshot()
    val t0 = System.nanoTime()
    val out =
      try trace.fold(body)(_.span(name, "op")(body))
      catch { case e: Throwable => failed += 1; throw e }
    val o = Run.Op(name, (System.nanoTime() - t0) / 1e9, Run.cpuSince(c0))
    ops += o
    (out, o)
  }

  /** Set-up work: timed, traced as a `setup` span, not an op. */
  def setup[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = trace.fold(body)(_.span(name, "setup")(body))
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** The workload span, parent of every op. */
  def workload[T](body: => T): T =
    trace.fold(body)(_.span(args.workload, "workload")(body))

  /** An output check; runs outside every timed region. A check that throws
    * fails. */
  def check(name: String)(body: => (Boolean, String)): Unit = {
    val (ok, detail) =
      try body
      catch { case e: Throwable => (false, s"threw: $e") }
    if (!ok) failed += 1
    attempted += 1
    checks += Run.Check(name, ok, detail)
  }

  def metric(name: String, value: Double, unit: String): Unit =
    e2e(name) = value -> unit

  def layer(name: String, value: Double, unit: String): Unit =
    layers(name) = value -> unit

  /** Restarts Spark with `cores` local cores (same shuffle partitions). */
  def restart(cores: Int): Unit = {
    Layers.report(this)
    trace.foreach(_.close())
    trace = None
    spark.stop()
    spark = Run.session(cores, s"${args.work}/spark-local",
      partitions = Run.Cores)
  }
}

object Run {
  /** Spark runs as `local[k]` with k = min(4, nproc). */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  /** A timed op: wall seconds and the CPU seconds the process used, JIT
    * compilation left out. CPU time leaves out the time the machine's
    * hypervisor holds the virtual CPUs (steal), which on a shared machine
    * moves wall time between runs far more than the work moves; so a change
    * that only loses parallelism shows in wall time, not here. */
  final case class Op(name: String, wall: Double, cpu: Double)

  final case class Check(name: String, ok: Boolean, detail: String)

  /** Writer of the result and trace files: Jackson (shipped with Spark)
    * with its Scala module, so Scala maps, sequences, options and case
    * classes serialise as they are. */
  val json: ObjectMapper =
    new ObjectMapper().registerModule(DefaultScalaModule)

  /** Thread names (as the kernel truncates them) of the JIT compilers,
    * whose CPU time follows compilation order, not the work. */
  private val JitThreads = Seq("C1 CompilerThre", "C2 CompilerThre")

  /** CPU clock ticks (utime + stime, USER_HZ = 100 on Linux) used so far
    * by each thread of this process except the JIT compilers: the driver,
    * Spark's task threads, the rest of Spark and the GC workers. */
  def cpuSnapshot(): Map[String, Long] = {
    val tasks = new java.io.File("/proc/self/task").list()
    tasks.flatMap { tid =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"/proc/self/task/$tid/stat")))
        // the name sits in parentheses and may hold spaces
        val name = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        if (JitThreads.exists(name.startsWith)) None
        else Some(tid -> (f(11).toLong + f(12).toLong))
      } catch { case _: java.io.IOException => None } // the thread ended
    }.toMap
  }

  /** CPU seconds the process used since `from` (a thread started since
    * counts whole; one that ended since is lost, a small undercount: Spark
    * keeps its task threads alive between tasks). */
  def cpuSince(from: Map[String, Long]): Double =
    cpuSnapshot().map { case (id, t) => t - from.getOrElse(id, 0L) }.sum /
      100.0

  def session(cores: Int, localDir: String,
      partitions: Int = 0): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions",
        (if (partitions > 0) partitions else cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.defaultSizeInBytes", (128L << 20).toString)
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Bytes and regular files under `dir` (0, 0 when absent). */
  def diskUsage(dir: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) return (0L, 0L)
    val st = java.nio.file.Files.walk(p)
    try {
      var bytes = 0L
      var files = 0L
      st.forEach { f =>
        if (java.nio.file.Files.isRegularFile(f)) {
          bytes += java.nio.file.Files.size(f); files += 1
        }
      }
      (bytes, files)
    } finally st.close()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }
}
