package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.algo.{Incremental, Quality}
import graft.source.CodeTableSynth

/** Incremental benchmark runner — the analog of the reference's
  * run_incremental (/root/reference/src/benchmark/
  * hit_leiden_incremental.rs:7-103): paper_split the edge set
  * (initial 80%, then cumulative batches), per batch run the warm-start
  * HIT update vs a cold full recompute (the "ST baseline"), record
  * wall-clock, speedup and quality delta. Emits one JSON line.
  *
  * Note the reference's own bench re-runs from identity state each batch
  * (SURVEY.md section 3.2); ours exercises true warm-start, which is the
  * engine's actual contract.
  */
object IncBench {

  /** One measured batch: warm HIT update vs cold full recompute. */
  final case class BatchRow(batch: Int, warmSec: Double, coldSec: Double,
      speedup: Double, qWarm: Double, qCold: Double)

  final case class Summary(initialSec: Double, edges: Long, batchSize: Int,
      rounds: Int, rows: Seq[BatchRow]) {
    def avgSpeedup: Double =
      if (rows.isEmpty) 0.0 else rows.map(_.speedup).sum / rows.size
    /** Compact per-run JSON fragment (no surrounding key). */
    def json: String = {
      val batchJson = rows.map { r =>
        s"""{"batch":${r.batch},"warm_sec":${r.warmSec},""" +
          s""""cold_sec":${r.coldSec},"speedup":${r.speedup},""" +
          s""""q_warm":${r.qWarm},"q_cold":${r.qCold}}"""
      }.mkString("[", ",", "]")
      s"""{"initial_sec":$initialSec,"edges":$edges,""" +
        s""""batch_size":$batchSize,"rounds":$rounds,""" +
        s""""avg_speedup":$avgSpeedup,"batches":$batchJson}"""
    }
  }

  /** Run the warm-vs-cold incremental bench on a deterministic SBM graph.
    * Callable both from the standalone main and from `graft.Bench` (which
    * folds the summary into the gate artifact). */
  def runBench(spark: SparkSession, n: Long, batchSize: Int, rounds: Int,
      doCold: Boolean): Summary = {
    val edges = CodeTableSynth.sbmEdges(spark, n, nBlocks = 32,
      degIntra = 6, degInter = 1).localCheckpoint(true)
    val (init, batches) = Incremental.paperSplit(edges, 0.8, batchSize,
      rounds)

    def secs[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val (state0, tInit) = secs(Incremental.initial(init))
    var state = state0
    var cumulative = init
    val rows = batches.zipWithIndex.map { case (b, i) =>
      cumulative = cumulative.unionAll(b).localCheckpoint(true)
      val (next, tWarm) = secs {
        val s = Incremental.update(state, b)
        s.assign.count(); s
      }
      state = next
      val cold =
        if (doCold) Some(secs {
          val s = Incremental.initial(cumulative); s.assign.count(); s
        }) else None
      val tCold = cold.fold(0.0)(_._2)
      val qWarm = Quality.modularity(state.canon,
        state.assign.select(col("v"), col("community")))
      val qCold = cold.fold(0.0) { case (s, _) => Quality.modularity(s.canon,
        s.assign.select(col("v"), col("community"))) }
      BatchRow(i, tWarm, tCold, if (doCold) tCold / tWarm else 0.0,
        qWarm, qCold)
    }
    Summary(tInit, edges.count(), batchSize, rounds, rows)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val n = sys.env.getOrElse("SPARK_GRAFT_INC_N", "50000").toLong
    val batchSize = sys.env.getOrElse("SPARK_GRAFT_INC_BATCH", "1000").toInt
    val rounds = sys.env.getOrElse("SPARK_GRAFT_INC_ROUNDS", "5").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.defaultSizeInBytes", (128L << 20).toString)
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-spark"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_INC_COLD=0 skips the cold-recompute baseline (fast
    // iteration on the warm path; speedup reads 0)
    val doCold = !sys.env.get("SPARK_GRAFT_INC_COLD").contains("0")
    val s = runBench(spark, n, batchSize, rounds, doCold)
    println(s"""{"metric":"incremental",""" + s.json.drop(1))
    spark.stop()
  }
}
