package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (Test/fork := true). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      // localCheckpoint leaves have no stats; the Long.MaxValue default
      // makes Catalyst's multiplicative join-size estimates blow up into
      // huge BigInts on iterative plans
      .config("spark.sql.defaultSizeInBytes", (128L << 20).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Edge DataFrame from (src, dst, weight) triples. */
  def edges(ts: (Long, Long, Double)*): DataFrame = {
    val s = spark
    import s.implicits._
    ts.toDF("src", "dst", "weight")
  }

  /** `f`'s value and the number of Spark jobs it started. The listener
    * bus is asynchronous: a tagged sentinel job runs after `f`, and its
    * start event marks the point where every job of `f` was counted. */
  def withJobs[T](f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.sentinel") ==
          "1")) seen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      sc.setLocalProperty("graft.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.sentinel", null)
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** `f` under a driver byte budget of `bytes` (the
    * `graft.bcast.budgetBytes` hook): every byte-gated driver path
    * ([[graft.util.Bcast]]) refuses what does not fit it. */
  def withByteBudget[T](bytes: Long)(f: => T): T =
    try {
      sys.props("graft.bcast.budgetBytes") = bytes.toString
      f
    } finally sys.props -= "graft.bcast.budgetBytes"

  /** (v -> value) map from a two-column DataFrame. */
  def toMapLL(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  def toMapLD(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Canonicalize a community assignment: relabel each community to its
    * minimum member id, so structurally identical partitions compare equal
    * (SURVEY.md section 7.4).
    */
  def canonicalPartition(assign: Map[Long, Long]): Map[Long, Long] = {
    val minOf = assign.groupBy(_._2).map { case (c, kv) => c -> kv.keys.min }
    assign.map { case (v, c) => v -> minOf(c) }
  }
}
