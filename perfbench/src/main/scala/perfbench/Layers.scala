package perfbench

/** Per-layer metrics of a traced run that come from Spark itself: the
  * listener's jobs, stages and tasks under the run's op spans, stage time
  * by engine layer, driver self time and GC. Also checks the span tree and
  * writes it as JSONL. */
object Layers {

  /** Engine classes that get their own `spark.job_s.<name>` metric; stages
    * whose first engine frame is elsewhere go to `other`. */
  val SparkLayers = Seq("Leiden", "LocalLeiden", "Incremental",
    "IncAggregation", "Quality", "Engine", "Checkpointer", "EdgeOps",
    "Ingest", "CodeTableSynth", "PageRank", "ConnectedComponents",
    "LabelPropagation", "TriangleCount", "Queries", "Dedup", "TextOps",
    "Ann", "Multimodal", "other")

  /** Tolerance of the self-time check: an op's job coverage comes from
    * millisecond clocks read around its nanosecond wall time. */
  val TimeSlackS = 0.002

  /** `PageRank.run` -> `PageRank`; `query q_x` -> `Queries`. */
  def opLayer(op: String): String =
    if (op.startsWith("query ")) "Queries" else op.takeWhile(_ != '.')

  def report(r: Run): Unit = r.trace.foreach { t =>
    t.flush()
    val l = t.listener
    val reps = t.opReports
    val jobs = reps.flatMap(_.jobs)
    val stages = l.stagesOf(jobs)
    def total(f: Trace.Stage => Double) = stages.map(f).sum
    r.layer("spark.jobs", jobs.size, "count")
    r.layer("spark.stages", stages.size, "count")
    r.layer("spark.tasks", total(_.tasks), "count")
    r.layer("spark.task_s", total(_.taskS), "s")
    r.layer("spark.task_cpu_s", total(_.cpuS), "s")
    r.layer("spark.shuffle_read_bytes", total(_.shuffleRead.toDouble), "bytes")
    r.layer("spark.shuffle_write_bytes", total(_.shuffleWrite.toDouble),
      "bytes")
    r.layer("spark.result_bytes", total(_.resultBytes.toDouble), "bytes")
    r.layer("spark.spill_bytes", total(_.spill.toDouble), "bytes")
    r.layer("spark.failed_tasks", total(_.failedTasks), "count")

    // supersteps: the workload names the ops that run them and counts them
    if (r.supersteps > 0) {
      val ssJobs = reps.filter(x => r.superstepOp(x.span.name))
        .flatMap(_.jobs)
      r.layer("spark.jobs_per_superstep", ssJobs.size.toDouble / r.supersteps,
        "count")
      r.layer("spark.shuffle_bytes_per_superstep",
        l.stagesOf(ssJobs).map(_.shuffleWrite).sum.toDouble / r.supersteps,
        "bytes")
      // per job: max / median task time of its largest stage
      val skews = ssJobs.flatMap { j =>
        val st = l.stagesOf(Seq(j)).filter(_.taskTimes.size >= 2)
        if (st.isEmpty) None
        else {
          val ts = st.maxBy(_.taskTimes.sum).taskTimes.toSeq
          val med = Run.median(ts)
          if (med > 0) Some(ts.max / med) else None
        }
      }
      if (skews.nonEmpty) r.layer("spark.task_skew", Run.median(skews),
        "ratio")
    }

    // stage time by layer: the stage's own call site, else the call site
    // of its SQL execution, else the op that ran it (a harness action on
    // a DataFrame an engine function returned)
    val byLayer = reps.flatMap { x =>
      x.jobs.flatMap(j => l.stagesOf(Seq(j)).map { st =>
        val layer = Seq(st.layer, j.layer, opLayer(x.span.name))
          .find(_ != "other").getOrElse("other")
        (if (SparkLayers.contains(layer)) layer else "other", st)
      })
    }.distinctBy(_._2.stageId).groupMap(_._1)(_._2.wallS)
    SparkLayers.foreach { n =>
      r.layer(s"spark.job_s.$n", byLayer.getOrElse(n, Nil).sum, "s")
    }
    val compress = reps.filter(_.span.name == "EdgeOps.compress")
    if (compress.nonEmpty)
      r.layer("graph.compress_shuffle_bytes",
        l.stagesOf(compress.flatMap(_.jobs)).map(_.shuffleWrite).sum
          .toDouble / compress.size, "bytes")
    r.layer("driver.s", reps.map(_.selfS).sum, "s")
    r.layer("driver.gc_s", Run.gcSeconds() - r.gc0, "s")
    r.layer("trace.overhead_s", t.overheadS, "s")
    for (m <- Seq("run_cpu_s", "dist_cpu_s"); v <- r.e2e.get(m))
      r.layer(s"trace.$m", v._1, "s")

    r.check("trace.span_tree") {
      // every job sits inside the op it is attributed to, and an op's jobs
      // cover no more than its wall time (self time >= 0); job and span
      // times have millisecond resolution, op wall times nanosecond
      val stray = reps.flatMap(x => x.jobs.filter(j =>
        j.startMs < x.span.startMs - 1 || j.endMs > x.span.endMs + 1))
      val over = reps.filter(x => x.childS > x.wallS + TimeSlackS)
      (stray.isEmpty && over.isEmpty && jobs.nonEmpty,
        s"${jobs.size} jobs under ${reps.size} ops; ${stray.size} outside " +
          s"their op; ${over.size} ops with negative self time")
    }
    t.writeJsonl(r.args.traceOut)
  }
}
