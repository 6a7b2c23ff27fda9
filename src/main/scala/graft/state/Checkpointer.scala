package graft.state

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Ckpt.DFCkpt
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.util.Try

/** Durable per-iteration Parquet checkpoints with lineage + metrics
  * (north rule: "resumable from per-iteration Parquet checkpoints carrying
  * per-partition lineage and metrics"). Layout under a run directory:
  *
  *   <root>/<runId>/iter=<k>/assignment/   (parquet, partitioned writer)
  *   <root>/<runId>/iter=<k>/metrics/      (parquet: IterMetric rows)
  *   <root>/<runId>/iter=<k>/MANIFEST.json (atomic: tmp + rename)
  *   <root>/<runId>/LATEST                 (atomic pointer to last iter)
  *
  * The manifest embeds the iteration number, row count, frontier size and
  * quality so a resume is reproducible (SURVEY.md section 7.4: atomic,
  * _SUCCESS-gated writes; Spark writes _SUCCESS, the manifest rename is the
  * commit point).
  */
final class Checkpointer(root: String, runId: String) {

  private def iterDir(iter: Int) = s"$root/$runId/iter=$iter"

  /** `assignmentData = false` skips the per-iteration assignment parquet
    * (durable-assign mode: the bucketed store holds the table; the
    * manifest/LATEST rename here is still the batch's commit point). */
  def write(iter: Int, assignment: DataFrame,
      metrics: Seq[graft.run.IterMetric], frontier: Long,
      quality: Double, edgeRows: Long = -1L,
      assignmentData: Boolean = true): Unit = {
    val spark = assignment.sparkSession
    import spark.implicits._
    val dir = iterDir(iter)
    if (assignmentData)
      assignment.write.mode("overwrite").parquet(s"$dir/assignment")
    // per-partition lineage: which checkpoint produced each row
    metrics.toDF().withColumn("run_id", lit(runId))
      .withColumn("iter", lit(iter))
      .write.mode("overwrite").parquet(s"$dir/metrics")
    val rows = assignment.rows
    val manifest =
      s"""{"run_id":"$runId","iter":$iter,"rows":$rows,""" +
        s""""edge_rows":$edgeRows,"frontier":$frontier,"quality":$quality}"""
    atomicWrite(s"$dir/MANIFEST.json", manifest)
    atomicWrite(s"$root/$runId/LATEST", iter.toString)
  }

  /** Latest committed iteration, if any (manifest presence = committed). */
  def latest(): Option[Int] =
    Try(Files.readString(Paths.get(s"$root/$runId/LATEST")).trim.toInt)
      .toOption
      .filter(i => Files.exists(Paths.get(s"${iterDir(i)}/MANIFEST.json")))

  def readAssignment(spark: SparkSession, iter: Int): DataFrame =
    spark.read.parquet(s"${iterDir(iter)}/assignment")

  def readManifest(iter: Int): String =
    Files.readString(Paths.get(s"${iterDir(iter)}/MANIFEST.json"))

  private def atomicWrite(path: String, content: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val tmp = Paths.get(path + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
