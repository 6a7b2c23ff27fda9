package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField,
  StructType}

/** An undirected, optionally weighted edge. Mirrors the reference's
  * `GraphInput` edge tuples (/root/reference/src/core/types.rs:125-139):
  * missing weight means 1.0; a signed weight encodes a delta
  * (insert alpha > 0, delete alpha < 0,
  * /root/reference/src/core/algorithm/hit_leiden.rs:167-180).
  */
case class Edge(src: Long, dst: Long, weight: Double)

/** Core edge-table operators. All functions are pure DataFrame -> DataFrame
  * transformations so Catalyst plans (and fuses) them; nothing here touches
  * the driver except scalar reductions that are genuinely scalar
  * (total weight).
  *
  * Conventions (all chosen to match the reference CSR semantics,
  * /root/reference/src/core/graph/in_memory.rs:13-61):
  *  - a *canonical* edge table stores each undirected edge once with
  *    src <= dst (self-loops allowed, stored once);
  *  - an *adjacency* table stores both directions of every edge
  *    (self-loops twice), so `groupBy(src)` sees the full neighborhood
  *    and degree(v) = sum of adjacency weights at v (self-loop counts 2w);
  *  - total weight m = sum of adjacency weights / 2 (self-loop counts w).
  */
object EdgeOps {

  val SRC = "src"
  val DST = "dst"
  val W = "weight"

  /** Schema of a canonical edge table as the engine writes it: reading a
    * checkpoint with it skips parquet's schema-inference job. */
  val Schema: StructType = StructType(Seq(StructField(SRC, LongType),
    StructField(DST, LongType), StructField(W, DoubleType)))

  /** Canonicalize to src <= dst and merge parallel edges by summing weights,
    * dropping near-zero results. This is exactly the reference's
    * `Compress` step (/root/reference/src/core/algorithm/hit_leiden.rs:533-546):
    * group by normalized (min,max) pair, sum, drop |w| <= eps.
    * One shuffle on the canonical pair.
    */
  def compress(edges: DataFrame, eps: Double = 1e-9): DataFrame =
    edges
      .select(
        least(col(SRC), col(DST)).as(SRC),
        greatest(col(SRC), col(DST)).as(DST),
        coalesce(col(W), lit(1.0)).as(W))
      .groupBy(SRC, DST)
      .agg(sum(W).as(W))
      .where(abs(col(W)) > eps)

  /** Merge a small canonical signed delta into a large canonical edge
    * table WITHOUT shuffling the large side: the delta's key set is
    * broadcast, untouched rows pass through a map-side anti join, and
    * only the touched rows (delta-sized) go through a compress shuffle.
    * This is the per-batch graph maintenance that keeps warm updates
    * O(|delta|), not O(|E|) — the durable petabyte-scale form (a
    * bucket-pruned merge into a hash-partitioned table, touching only
    * the delta's partitions) is [[BucketedEdges.mergeDelta]].
    * Both inputs must be canonical (src <= dst, parallel edges merged),
    * so the delta's keys are distinct as they stand.
    */
  def mergeDelta(canon: DataFrame, deltaCanon: DataFrame,
      eps: Double = 1e-9): DataFrame = {
    val keys = broadcast(deltaCanon.select(col(SRC), col(DST)))
    val untouched = canon.join(keys, Seq(SRC, DST), "left_anti")
    val touched = canon.join(keys, Seq(SRC, DST), "left_semi")
    untouched.unionAll(compress(touched.unionAll(deltaCanon), eps))
  }

  /** The unweighted simple graph: each undirected pair once as
    * (src < dst), self-loops dropped. */
  def simple(edges: DataFrame): DataFrame =
    edges.select(least(col(SRC), col(DST)).as(SRC),
        greatest(col(SRC), col(DST)).as(DST))
      .where(col(SRC) =!= col(DST))
      .distinct()

  /** Both directions of every edge; self-loops are emitted twice, matching
    * the reference CSR builder which scatters (u,v) and (v,u)
    * unconditionally (/root/reference/src/core/graph/in_memory.rs:36-48).
    */
  def symmetrize(canonical: DataFrame): DataFrame =
    canonical.select(col(SRC), col(DST), col(W))
      .unionAll(canonical.select(col(DST).as(SRC), col(SRC).as(DST), col(W)))

  /** Weighted degree per vertex from an adjacency (symmetrized) table:
    * d(v) = sum of incident weights (self-loop contributes 2w), matching
    * /root/reference/src/core/algorithm/hit_leiden.rs:188-195.
    * Returns (v, deg). Vertices with no edges do not appear.
    */
  def degrees(adj: DataFrame): DataFrame =
    adj.groupBy(col(SRC).as("v")).agg(sum(W).as("deg"))

  /** Unweighted degree (neighbor multiplicity) per vertex. */
  def degreeCounts(adj: DataFrame): DataFrame =
    adj.groupBy(col(SRC).as("v")).agg(count(lit(1)).as("deg"))

  /** Total graph weight m = sum over canonical edges (self-loop counts once),
    * equal to the reference's cached_total_weight = sum(adjacency)/2
    * (/root/reference/src/core/graph/in_memory.rs:45).
    */
  def totalWeight(canonical: DataFrame): Double = {
    val r = canonical.agg(sum(W)).collect()(0)
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** All distinct vertex ids appearing in an edge table, as column "v". */
  def vertices(edges: DataFrame): DataFrame =
    edges.select(col(SRC).as("v"))
      .unionAll(edges.select(col(DST).as("v")))
      .distinct()

  /** Split hot (high-degree) vertices into `salt` sub-keys before a
    * per-vertex aggregation, so a hub's neighbor list is aggregated by
    * many tasks instead of one. The caller aggregates by (src, salt, ...)
    * first, then re-aggregates by (src, ...): two shuffles, but the first
    * is balanced. AQE only rebalances sort-merge-join skew, not hot-key
    * hash aggregation, so this is explicit (SURVEY.md section 4).
    * Adds a deterministic "salt" column derived from dst.
    */
  def salted(adj: DataFrame, salt: Int): DataFrame =
    adj.withColumn("salt", pmod(xxhash64(col(DST)), lit(salt)))

  /** Repartition an adjacency table by src so every superstep's
    * gather groupBy(src, ...) reuses the partitioning. */
  def partitionBySrc(adj: DataFrame, numPartitions: Int): DataFrame =
    adj.repartition(numPartitions, col(SRC))

  /** Schema-checked reader: (src LONG, dst LONG, weight DOUBLE). */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(
      col(SRC).cast("long"), col(DST).cast("long"),
      coalesce(col(W), lit(1.0)).cast("double").as(W))
}
