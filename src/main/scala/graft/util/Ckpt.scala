package graft.util

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.GraftStatsReset
import org.apache.spark.sql.functions.{count, lit}

/** Eager localCheckpoint that also RESETS plan statistics and COUNTS the
  * rows it writes.
  *
  * Why the reset: Spark's `localCheckpoint` truncates lineage but preserves the
  * parent plan's computed `Statistics` on the resulting LogicalRDD
  * (SPARK-34810 behavior). Catalyst's size-only join estimate is a
  * *product* of child sizes, so in an iterative algorithm (superstep k's
  * assignment is built by joining superstep k-1's checkpointed outputs)
  * the preserved sizeInBytes compounds multiplicatively per sweep —
  * after ~10 sweeps the BigInt has millions of digits and the optimizer
  * spends minutes inside BigInteger.multiply during stats estimation
  * (observed: AdaptiveSparkPlanExec.reOptimize -> JoinSelection ->
  * canBroadcastBySize pinning the driver at 100% CPU).
  *
  * Dropping originStats makes the checkpointed leaf fall back to
  * spark.sql.defaultSizeInBytes, keeping every per-sweep plan's stats
  * O(number of joins) digits. Join-strategy quality is unaffected in
  * practice: AQE re-plans joins from *runtime* shuffle sizes anyway.
  *
  * The counted checkpoint: the checkpoint action carries a
  * `Dataset.observe` row count (plus any aggregates [[observed]] is given),
  * so the count, emptiness test or scalar sum a caller needs of the
  * table comes out of the job that writes it instead of one more job
  * (each Spark job costs tens of ms of fixed latency on small tables —
  * what a warm batch is made of). The metrics are read synchronously
  * from the action's own `queryExecution.observedMetrics`: its
  * accumulators are merged on the driver before the job returns. An async
  * `Observation` would instead wait for the listener bus to deliver the
  * execution-end event, wall time on every checkpoint. The count is kept
  * for the returned frame only (a weak-keyed map, so it dies with the
  * frame); [[DFCkpt.rows]] of any other frame — a `select` or `where` on
  * a checkpoint included — runs `count()`, unless the caller recorded a
  * count it already knows ([[withRows]], [[local]]).
  */
object Ckpt {
  /** Suffix syntax: `df.ckpt` — reads like localCheckpoint at call sites. */
  implicit class DFCkpt(private val df: DataFrame) extends AnyVal {
    def ckpt: DataFrame = Ckpt(df)

    /** Row count: the checkpoint's observed count when `df` is a frame
      * [[Ckpt]] returned, else `count()`. */
    def rows: Long = known(df).getOrElse(df.count())
  }

  /** The observed row count of a frame [[Ckpt]] returned; no job. */
  def known(df: DataFrame): Option[Long] =
    Option(counted.get(df)).map(_.longValue)

  private val counted = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, java.lang.Long]())

  /** Records a row count the caller already knows for `df` (a committed
    * manifest's count, a sum of known counts) and returns `df`. */
  def withRows(df: DataFrame, n: Long): DataFrame = {
    counted.put(df, n)
    df
  }

  /** A driver-side id set as a counted local relation in column `v`. */
  def local(spark: SparkSession, ids: Array[Long]): DataFrame = {
    import spark.implicits._
    withRows(ids.toSeq.toDF("v"), ids.length.toLong)
  }

  /** Observation names are unique per call: two checkpoints of one source
    * never share one. */
  private val seq = new AtomicLong()

  def apply(df: DataFrame): DataFrame = observed(df)._1

  /** Checkpoints `df` and evaluates the named aggregates over its rows in
    * the same job. Returns the checkpoint (counted, see [[DFCkpt.rows]])
    * and a row holding each aggregate under its name; a sum over no rows
    * is null, as in `agg`. Partial aggregates merge in task-completion
    * order: a double sum is exact for integer-valued weights, and may
    * differ from `agg` in the last ulp otherwise. */
  def observed(df: DataFrame, aggs: (String, Column)*): (DataFrame, Row) = {
    val name = s"graft_ckpt_${seq.incrementAndGet()}"
    val obs = df.observe(name, count(lit(1)).as("_rows"),
      aggs.map { case (n, c) => c.as(n) }: _*)
    val cp = GraftStatsReset.dropOriginStats(obs.localCheckpoint(true))
    val r = obs.queryExecution.observedMetrics(name)
    counted.put(cp, r.getLong(0))
    (cp, r)
  }
}
