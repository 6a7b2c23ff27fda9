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

  /** `f`'s value and the number of Spark jobs it started. */
  def withJobs[T](f: => T): (T, Int) = {
    val (out, bySite) = withJobsBySite(f)
    (out, bySite.values.sum)
  }

  /** `f`'s value and its Spark jobs by engine call site: `Class.method`
    * of the first `graft.` frame outside `graft.util` (whose `.ckpt`
    * wrapper files its jobs under its caller); "other" when no engine
    * frame shows. A lambda is filed under its enclosing method
    * (`$anonfun$refinement$3` gives `Leiden.refinement`), a local def
    * under its own name (scalac's `gatherNew$1` gives
    * `Leiden.gatherNew`). A job of a SQL execution is filed under the
    * execution's call site: adaptive query stages and broadcasts run
    * their jobs from Spark's thread pools, whose own stacks name no
    * engine frame. The listener bus is asynchronous: a tagged sentinel
    * job runs after `f`, and its start event marks the point where every
    * job of `f` was seen. */
  def withJobsBySite[T](f: => T): (T, Map[String, Int]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val jobs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String])
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execSite.put(s.executionId, SparkSpecBase.siteOf(s.details))
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("graft.sentinel") == "1"))
          seen.countDown()
        else jobs.add(props
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execSite.get(id.toLong)))
          .getOrElse(SparkSpecBase.siteOf(
            e.stageInfos.headOption.fold("")(_.details))))
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      sc.setLocalProperty("graft.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.sentinel", null)
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      val sites = jobs.toArray(Array.empty[String])
      (out, sites.groupBy(identity).view.mapValues(_.length).toMap)
    } finally sc.removeSparkListener(listener)
  }

  /** `f` under a driver byte budget of `bytes` (the
    * `graft.bcast.budgetBytes` hook): every byte-gated driver path
    * ([[graft.util.Bcast]]) refuses what does not fit it. The enclosing
    * budget, or its absence, is restored afterwards, so a nested call
    * leaves the outer budget in force. */
  def withByteBudget[T](bytes: Long)(f: => T): T = {
    val outer = sys.props.get("graft.bcast.budgetBytes")
    sys.props("graft.bcast.budgetBytes") = bytes.toString
    try f
    finally outer match {
      case Some(b) => sys.props("graft.bcast.budgetBytes") = b
      case None => sys.props -= "graft.bcast.budgetBytes"
    }
  }

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

object SparkSpecBase {
  /** The engine call site of a Spark call-site stack (see
    * [[SparkSpecBase.withJobsBySite]]): a frame such as
    * `graft.algo.Leiden$.$anonfun$refinement$3(Leiden.scala:1)` gives
    * `Leiden.refinement`. The frames of a local lazy val are filed under
    * the method that reads it, the next `graft.` frame: its initializer
    * (`superM$lzycompute$1`), the accessor that calls it (`superM$1`) and,
    * for a lazy pattern such as `lazy val (superM, superW) = ...`,
    * scalac's synthetic `x$5` that holds the matched tuple. */
  def siteOf(stack: String): String = {
    val frames = stack.linesIterator.map(_.trim)
      .filter(f => f.startsWith("graft.") && !f.startsWith("graft.util."))
      .map { f =>
        val qualified = f.takeWhile(_ != '(')
        val cls = qualified.substring(0, qualified.lastIndexOf('.'))
          .split('.').last.takeWhile(_ != '$')
        val method = qualified.substring(qualified.lastIndexOf('.') + 1)
          .stripPrefix("$anonfun$")
        (cls, method)
      }
    // the name whose initializer the previous frame ran: its accessor
    // is the next frame
    var initialized: Option[String] = None
    frames.find { case (_, method) =>
      val name = method.takeWhile(_ != '$')
      val init = method.contains("$lzycompute$")
      val lazyVal = init || initialized.contains(name) ||
        method.matches("x\\$\\d+(\\$.*)?")
      initialized = Option.when(init)(name)
      !lazyVal
    }.map { case (cls, method) => s"$cls.${method.takeWhile(_ != '$')}" }
      .getOrElse("other")
  }
}
