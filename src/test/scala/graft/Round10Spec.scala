package graft

import org.apache.spark.GraftTestConf
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

import graft.pipeline.{Bpe, Graphs, Groups, Loop, Similarity}

/** Loop-primitive pins: every iterative operator (the graph loops,
  * Groups.ccLabels, Bpe training, the RQ codebook refinement) materializes
  * its generations through [[Loop.materialize]] and frees the superseded
  * ones with [[Loop.free]] — constant-size per-round plans instead of an
  * unrolled lineage (37k–86k plan lines before), and no generation left
  * resident to query end. These tests pin what the oracle can't see: the
  * bare single-leaf plan and its one-step free, no block-store leak beyond
  * the result-referenced frames, and a bounded plan for a representative
  * loop's result.
  */
class Round10Spec extends SparkSpec {
  import spark.implicits._

  // a directed graph with both directions present (the kcore/lpa contract)
  private def symEdges = {
    val raw = (0 until 300).map(i => (i.toLong % 30, (i * 7L + 1) % 30))
      .filter { case (a, b) => a != b }
    (raw ++ raw.map(_.swap)).toDF("src", "dst")
  }

  test("Loop.materialize is one bare LogicalRDD; Loop.free unpersists it") {
    val src = symEdges.groupBy("src").agg(count(lit(1)).as("deg"))
    val m = Loop.materialize(src)
    val lr = m.queryExecution.analyzed match {
      case lr: LogicalRDD => lr
      case p => fail(s"materialized plan is not a single LogicalRDD:\n${p.treeString}")
    }
    // no carried statistics: the size estimate is the session default
    assert(lr.stats.sizeInBytes == BigInt(SQLConf.get.defaultSizeInBytes))
    // fresh attribute ids, so self-joins against the source never collide
    assert(lr.output.map(_.exprId).intersect(
      src.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    assert(lr.rdd.getStorageLevel != StorageLevel.NONE)
    assert(m.count() == src.count())
    // the checkpointed RDD sits directly under the LogicalRDD: freeing
    // takes one step, no dependency walk
    Loop.free(m)
    assert(lr.rdd.getStorageLevel == StorageLevel.NONE)
  }

  test("iterative loops free superseded generations (no block-store leak)") {
    val sc = spark.sparkContext
    val seeds = Seq(1L, 2L).toDF("node")

    // RDDs that gained blocks during `run` and still hold them; the paused
    // cleaner keeps a GC from hiding one (GraftTestConf)
    def leakOf(label: String, allowed: Int)(run: => Long): Unit = {
      val leaked = GraftTestConf.withCleanerPaused(sc) {
        val before = GraftTestConf.rddsWithBlocks(sc)
        assert(run > 0, s"$label produced no rows")
        (GraftTestConf.rddsWithBlocks(sc) -- before).size
      }
      assert(leaked <= allowed,
        s"$label leaked $leaked persisted frames (allowed $allowed) — " +
          "superseded loop generations are no longer freed?")
    }
    // allowed = the result-referenced checkpoints that legitimately stay
    // resident until the caller drops the frame (final acc / final a+h /
    // final e / final labels / every frontier level)
    leakOf("katz", 1)(Graphs.katz(symEdges, iters = 3, k = 10).count())
    leakOf("hits", 2)(Graphs.hits(symEdges, iters = 2, k = 10).count())
    leakOf("kcorePeel", 1)(Graphs.kcorePeel(symEdges, k = 2, rounds = 3).count())
    leakOf("labelPropagation", 1)(
      Graphs.labelPropagation(symEdges, rounds = 3).count())
    leakOf("sssp", 1)(
      Graphs.sssp(symEdges.withColumn("w", lit(1L)), seeds, rounds = 3).count())
    // frontier loops keep one checkpoint per level (the result unions all
    // of them) plus the seed level; maxHop = 3 ⇒ ≤ 4
    leakOf("bfs", 4)(Graphs.bfs(symEdges, seeds, maxHop = 3).count())
    leakOf("bfsPerSource", 4)(
      Graphs.bfsPerSource(symEdges, seeds, maxHop = 3).count())
    // brandes keeps one delta per backward level (+ the deepest seed delta)
    leakOf("brandesBetweenness", 4)(
      Graphs.brandesBetweenness(symEdges, seeds, maxHop = 3, k = 10).count())
    leakOf("hashWalks", 5)(Graphs.hashWalks(symEdges, seeds, steps = 4).count())
    val k6 = (for (a <- 0L until 6L; b <- a + 1 until 6L) yield (a, b)).toDF("src", "dst")
    leakOf("trussPeel", 1)(Graphs.trussPeel(k6, k = 3, rounds = 3).count())
    // the final labels / the final SCC union
    val verts = (0L until 30L).toDF("id")
    leakOf("ccLabels", 1)(
      Groups.ccLabels(verts, symEdges, smallEdgeLimit = 0L).count())
    leakOf("sccLabels", 1)(Graphs.sccLabels(verts, symEdges).count())
    // the merge list is a local frame: no symbol generation stays
    val docs = Seq("low lower lowest newer newest", "wider widest low new")
      .toDF("text")
    leakOf("bpeMerges", 0)(Bpe.bpeMerges(docs, "text", numMerges = 4).count())
    // the cached base and two assignments, plus the two final codebooks
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(64)(j => ((i % 5) * 3 + j % 7 + i * 0.01).toFloat))
    }.toDF("vec_id", "embedding")
    leakOf("rqTopK", 5)(Similarity.rqTopK(vecs, "vec_id", "embedding",
      Array.tabulate(64)(j => (j % 7).toDouble), k = 5).count())
  }

  test("loop results read from constant-size plans (lineage truncated)") {
    // the returned frame's analyzed plan must be a readout over
    // checkpointed RDDs, not the unrolled per-round join tree: its string
    // form stays small at any round count and contains no parquet scan
    val k5 = Graphs.katz(symEdges, iters = 5, k = 10)
    val planLines = k5.queryExecution.optimizedPlan.treeString.linesIterator.size
    assert(planLines < 60,
      s"katz(iters=5) result plan is $planLines lines — lineage unrolled again?")
    assert(k5.count() == 10)
  }
}
