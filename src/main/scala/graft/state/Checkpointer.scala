package graft.state

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
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
  * The engine writes the rest of a batch's state beside them, before the
  * manifest: edges/, upper/, super/ and upperAssign/.
  *
  * The manifest embeds the iteration number, row count, frontier size and
  * quality so a resume is reproducible (SURVEY.md section 7.4: atomic,
  * _SUCCESS-gated writes; Spark writes _SUCCESS, the manifest rename is the
  * commit point). The engine adds 2m (`m2`), the fresh-id watermark
  * (`max_id`) and the row count of the level-1 supergraph it committed
  * (`super_rows`) when it holds them, so a resume reads them instead of
  * re-deriving them with scans.
  */
final class Checkpointer(root: String, runId: String) {

  private def iterDir(iter: Int) = s"$root/$runId/iter=$iter"

  /** `assignmentData = false` skips the per-iteration assignment parquet
    * (durable-assign mode: the bucketed store holds the table; the
    * manifest/LATEST rename here is still the batch's commit point). */
  def write(iter: Int, assignment: DataFrame,
      metrics: Seq[graft.run.IterMetric], frontier: Long,
      quality: Double, edgeRows: Long = -1L,
      assignmentData: Boolean = true, m2: Option[Double] = None,
      maxId: Option[Long] = None, superRows: Option[Long] = None): Unit = {
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
        s""""edge_rows":$edgeRows,"frontier":$frontier,"quality":$quality""" +
        m2.fold("")(m => s""","m2":$m""") +
        maxId.fold("")(m => s""","max_id":$m""") +
        superRows.fold("")(n => s""","super_rows":$n""") + "}"
    atomicWrite(s"$dir/MANIFEST.json", manifest)
    atomicWrite(s"$root/$runId/LATEST", iter.toString)
  }

  /** Latest committed iteration, if any (manifest presence = committed). */
  def latest(): Option[Int] =
    Try(Files.readString(Paths.get(s"$root/$runId/LATEST")).trim.toInt)
      .toOption
      .filter(i => Files.exists(Paths.get(s"${iterDir(i)}/MANIFEST.json")))

  def readAssignment(spark: SparkSession, iter: Int): DataFrame =
    spark.read.schema(Checkpointer.AssignSchema)
      .parquet(s"${iterDir(iter)}/assignment")

  def readManifest(iter: Int): String =
    Files.readString(Paths.get(s"${iterDir(iter)}/MANIFEST.json"))

  /** The committed facts of iteration `iter` a resume needs. */
  def manifest(iter: Int): Checkpointer.Manifest = {
    val j = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(readManifest(iter))
    Checkpointer.Manifest(j.get("rows").asLong,
      Option(j.get("m2")).map(_.asDouble),
      Option(j.get("max_id")).map(_.asLong),
      Option(j.get("super_rows")).map(_.asLong))
  }

  private def atomicWrite(path: String, content: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val tmp = Paths.get(path + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}

object Checkpointer {
  /** Schema of an assignment table: reading a checkpoint with it skips
    * parquet's schema-inference job. */
  val AssignSchema: StructType = StructType(Seq(StructField("v", LongType),
    StructField("community", LongType), StructField("subcomm", LongType)))

  /** @param rows assignment row count
    * @param m2 2 x total edge weight, absent in manifests that predate it
    * @param maxId fresh-id watermark, absent when the committing run did
    *   not hold it (or the manifest predates it)
    * @param superRows row count of the committed level-1 supergraph,
    *   absent when the iteration committed none */
  final case class Manifest(rows: Long, m2: Option[Double],
      maxId: Option[Long], superRows: Option[Long])
}
