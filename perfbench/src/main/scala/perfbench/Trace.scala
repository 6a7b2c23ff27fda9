package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span recorder for the traced run.
  *
  * Spans nest workload -> op -> Spark job. The harness opens workload and
  * op spans around its own calls into the engine's public functions; job
  * spans come from a [[SparkListener]] and are attached to the op that was
  * open on the driver thread when the job was submitted (via a job-local
  * property, so attribution is exact, not by time overlap). Everything
  * stays in memory until [[writeJsonl]] at the end of the run.
  */
final class Trace(val sc: SparkContext, val runId: String) {
  import Trace._

  val spans = ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 0L
  val listener = new Listener
  sc.addSparkListener(listener)

  /** Runs `body` inside a span named `name` under the innermost open span. */
  def span[T](name: String, kind: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val s = Span(nextId, stack.headOption.map(_.id), name, kind,
      System.currentTimeMillis(), System.nanoTime())
    nextId += 1
    spans += s
    stack.push(s)
    sc.setLocalProperty(SpanProp, s.id.toString)
    bookkeepingNs += System.nanoTime() - t0
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack.pop()
      sc.setLocalProperty(SpanProp,
        stack.headOption.map(_.id.toString).orNull)
      bookkeepingNs += System.nanoTime() - s.endNs
    }
  }

  /** Driver-thread time spent opening and closing spans. */
  var bookkeepingNs = 0L

  /** Tracing cost: span bookkeeping plus listener callback time, seconds. */
  def overheadS: Double = (bookkeepingNs + listener.callbackNs) / 1e9

  /** Waits until the listener bus has delivered every event posted so
    * far. */
  def flush(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def close(): Unit = { flush(); sc.removeSparkListener(listener) }

  /** Op spans and their Spark jobs, with the self-time decomposition. */
  def opReports: Seq[OpReport] = {
    val jobsBySpan = listener.jobs.values.groupBy(_.span)
    spans.toSeq.filter(_.kind == "op").map { s =>
      val jobs = jobsBySpan.getOrElse(Some(s.id), Nil).toSeq
        .sortBy(_.startMs)
      val cover = coverageMs(jobs.map(j => (j.startMs, j.endMs)))
      OpReport(s, jobs, s.wallS, cover / 1000.0)
    }
  }

  def writeJsonl(path: String): Unit = {
    val jobsBySpan = listener.jobs.values.groupBy(_.span)
    val ops = opReports.map(r => r.span.id -> r).toMap
    // spans still open (the workload span, when a run restarts Spark)
    // end now
    val nowNs = System.nanoTime()
    val nowMs = System.currentTimeMillis()
    stack.foreach { s => s.endNs = nowNs; s.endMs = nowMs }
    val json = Run.json
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach { s =>
        val line = mutable.LinkedHashMap[String, Any]("run_id" -> runId,
          "id" -> s.id, "parent" -> s.parent.getOrElse(-1L),
          "name" -> s.name, "kind" -> s.kind, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs, "wall_s" -> s.wallS)
        ops.get(s.id).foreach { r =>
          line ++= Seq("child_s" -> r.childS, "self_s" -> r.selfS,
            "jobs" -> r.jobs.size)
        }
        w.println(json.writeValueAsString(line))
        jobsBySpan.getOrElse(Some(s.id), Nil).toSeq.sortBy(_.jobId)
          .foreach { j =>
            w.println(json.writeValueAsString(mutable.LinkedHashMap(
              "run_id" -> runId, "id" -> s"job-${j.jobId}",
              "parent" -> s.id, "name" -> s"spark.job ${j.jobId}",
              "kind" -> "job", "start_ms" -> j.startMs, "end_ms" -> j.endMs,
              "wall_s" -> (j.endMs - j.startMs) / 1000.0,
              "stages" -> j.stageIds.size)))
          }
      }
    } finally w.close()
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Long, parent: Option[Long], name: String,
      kind: String, startMs: Long, startNs: Long) {
    var endNs: Long = startNs
    var endMs: Long = startMs
    def wallS: Double = (endNs - startNs) / 1e9
  }

  /** @param layer engine layer of the SQL execution that ran the job */
  final case class Job(jobId: Int, span: Option[Long], startMs: Long,
      stageIds: Seq[Int], layer: String) {
    var endMs: Long = startMs
  }

  final class Stage(val stageId: Int, val layer: String) {
    var wallS = 0.0
    var taskS = 0.0
    var cpuS = 0.0
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var resultBytes = 0L
    var spill = 0L
    var tasks = 0
    var failedTasks = 0
    val taskTimes = ArrayBuffer.empty[Double]
  }

  final case class OpReport(span: Span, jobs: Seq[Job], wallS: Double,
      childS: Double) {
    def selfS: Double = wallS - childS
  }

  /** Total length of the union of [start, end) intervals, in ms. */
  def coverageMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(t => t._2 > t._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Engine layer of a stage: the class of the first `graft.` frame of the
    * stage's call site, e.g. `graft.algo.Leiden$.run(...)` -> `Leiden`.
    * `graft.util` helpers (the `.ckpt` wrapper) are skipped so their jobs
    * go to the layer that called them. */
  def layerOf(details: String): String =
    details.linesIterator.map(_.trim)
      .find(f => f.startsWith("graft.") && !f.startsWith("graft.util."))
      .map { f =>
        val cls = f.takeWhile(_ != '(').split('.').dropRight(1).lastOption
          .getOrElse("other")
        cls.takeWhile(_ != '$')
      }.getOrElse("other")

  final class Listener extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stages = mutable.LinkedHashMap.empty[Int, Stage]
    /** SQL execution id -> layer of the action's call site. Adaptive query
      * stages run their jobs from a thread pool, so their own call sites
      * name no engine frame; the execution's call site does. */
    private val execLayer = mutable.HashMap.empty[Long, String]
    @volatile var callbackNs = 0L
    private def timed(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      callbackNs += System.nanoTime() - t0
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized(timed {
        val span = Option(e.properties).flatMap(p =>
          Option(p.getProperty(SpanProp))).map(_.toLong)
        val exec = Option(e.properties).flatMap(p => Option(
          p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        jobs(e.jobId) = Job(e.jobId, span, e.time, e.stageIds,
          exec.flatMap(execLayer.get).getOrElse("other"))
      })

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        synchronized(timed(execLayer(s.executionId) = layerOf(s.details)))
      case _ =>
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized(timed(jobs.get(e.jobId).foreach(_.endMs = e.time)))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      synchronized(timed {
        val st = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId, ""))
        st.tasks += 1
        if (!e.taskInfo.successful) st.failedTasks += 1
        st.taskTimes += e.taskInfo.duration / 1000.0
      })

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized(timed {
        val info = e.stageInfo
        val st = new Stage(info.stageId, layerOf(info.details))
        stages.get(info.stageId).foreach { p =>
          st.tasks = p.tasks; st.failedTasks = p.failedTasks
          st.taskTimes ++= p.taskTimes
        }
        for (s <- info.submissionTime; c <- info.completionTime)
          st.wallS = (c - s) / 1000.0
        val m = info.taskMetrics
        if (m != null) {
          st.taskS = m.executorRunTime / 1000.0
          st.cpuS = m.executorCpuTime / 1e9
          st.shuffleRead = m.shuffleReadMetrics.totalBytesRead
          st.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
          st.resultBytes = m.resultSize
          st.spill = m.memoryBytesSpilled + m.diskBytesSpilled
        }
        stages(info.stageId) = st
      })

    /** Stages of the given jobs. */
    def stagesOf(js: Iterable[Job]): Seq[Stage] = synchronized {
      js.toSeq.flatMap(_.stageIds).distinct.flatMap(stages.get)
    }
  }
}
