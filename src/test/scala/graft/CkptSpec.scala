package graft

import org.apache.spark.sql.functions._
import graft.util.Ckpt
import graft.util.Ckpt.DFCkpt

/** The counted checkpoint: `rows` and `observed` read what the
  * checkpoint's own job computed, and fall back to `count()` off it. */
class CkptSpec extends SparkSpecBase {

  test("rows == count() for checkpointed frames, the empty one included") {
    val full = spark.range(0, 1000).toDF("v").where(col("v") % 3 =!= 0).ckpt
    val empty = spark.range(0, 1000).toDF("v").where(col("v") < 0).ckpt
    assert(full.rows == full.count() && full.rows == 666L)
    assert(empty.rows == 0L && empty.count() == 0L)
  }

  test("empty sources the optimizer folds still report their metrics") {
    val s = spark
    import s.implicits._
    val local = Seq.empty[(Long, Double)].toDF("v", "w")
    for (df <- Seq(local, local.groupBy("v").agg(sum("w").as("w")),
        spark.range(10).select(col("id").as("v"), lit(1.0).as("w")).limit(0),
        spark.range(10).select(col("id").as("v"), lit(1.0).as("w"))
          .where(lit(false)))) {
      val (cp, r) = Ckpt.observed(df, "s" -> sum("w"))
      assert(cp.rows == 0L && r.isNullAt(r.fieldIndex("s")))
    }
  }

  test("rows of a frame derived from a checkpoint falls back to count()") {
    val base = spark.range(0, 100).toDF("v").ckpt
    val sel = base.select((col("v") * 2).as("w"))
    val filtered = base.where(col("v") < 10)
    assert(sel.rows == 100L)
    assert(filtered.rows == 10L)
    // the base keeps its observed count
    assert(base.rows == 100L)
  }

  test("observed sums == a separate agg; a sum over no rows is null") {
    val df = spark.range(0, 500).select(col("id").as("v"),
      (col("id") % 7).cast("double").as("w"))
    val (cp, r) = Ckpt.observed(df, "s" -> sum("w"), "mx" -> max("v"))
    val want = df.agg(sum("w"), max("v")).collect()(0)
    assert(r.getAs[Double]("s") == want.getDouble(0))
    assert(r.getAs[Long]("mx") == want.getLong(1))
    assert(cp.rows == 500L)
    val (e, re) = Ckpt.observed(df.where(col("v") < 0), "s" -> sum("w"))
    assert(re.isNullAt(re.fieldIndex("s")))
    assert(e.rows == 0L)
  }

  test("checkpointing one source twice in a session: no name clash") {
    val src = spark.range(0, 50).toDF("v")
    val a = src.ckpt
    val b = src.ckpt
    val (c, rc) = Ckpt.observed(src, "s" -> sum("v"))
    // a plan over two checkpoints of the same source, checkpointed again
    val both = a.join(b, "v").ckpt
    assert(a.rows == 50L && b.rows == 50L && both.rows == 50L)
    assert(c.rows == 50L && rc.getAs[Long]("s") == 1225L)
  }
}
