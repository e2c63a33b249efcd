package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Iterate.fixpoint]]'s stopping rules, and the job counts of the loops
  * built on it. Each job bound is the count the hand-rolled loop it
  * replaced ran on the same input. */
class IterateSpec extends SparkSpec {
  import spark.implicits._

  /** `fixpoint` over one long column `x` with signature sum(x), counting
    * the steps it asks for. */
  private def run(init: Seq[Long], maxRounds: Int)(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : (Iterate.Loop, Int) = {
    var steps = 0
    val loop = Iterate.fixpoint(init.toDF("x"), maxRounds, sum(col("x")).as("s")) { df =>
      steps += 1
      df.select(f(col("x")).as("x"))
    }
    (loop, steps)
  }

  test("fixpoint stops on the first repeated signature, the detecting round counted") {
    // 8 → 5 → 2 → 0 → 0: the fourth step repeats the third's signature
    val (loop, steps) = run(Seq(8L), maxRounds = 10)(x => greatest(x - 3L, lit(0L)))
    assert(loop.converged && loop.rounds == 4 && steps == 4)
    assert(loop.table.as[Long].collect().toSeq == Seq(0L))
  }

  test("fixpoint on an empty table runs no step") {
    val (loop, steps) = run(Nil, maxRounds = 10)(_ + 1L)
    assert(loop.converged && loop.rounds == 0 && steps == 0)
    assert(loop.table.isEmpty)
  }

  test("fixpoint: a step that always changes stops unconverged after maxRounds") {
    val (loop, steps) = run(Seq(1L, 2L), maxRounds = 3)(_ + 1L)
    assert(!loop.converged && loop.rounds == 3 && steps == 3)
    assert(loop.table.as[Long].collect().sorted.toSeq == Seq(4L, 5L))
  }

  private def jobs(tag: String)(body: => Unit): Int = jobsInGroup(tag) {
    spark.sparkContext.setJobGroup(tag, tag)
    try body finally spark.sparkContext.clearJobGroup()
  }

  private def atMost(bounds: (String, Int, Int)*): Unit = {
    info(bounds.map { case (k, n, b) => s"$k: $n jobs (bound $b)" }.mkString(", "))
    val over = bounds.filter { case (_, n, bound) => n > bound }
    assert(over.isEmpty, over.map { case (k, n, b) => s"$k: $n jobs > $b" }.mkString(", "))
  }

  test("job counts: connected components on a chain, a star and no pairs") {
    val chain = (100L until 163L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val star = (1 to 5000).map(i => (0L, i.toLong)).toDF("doc_a", "doc_b")
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val longChain = (0L until 127L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    atMost(
      ("cc chain", jobs("cc-chain")(Dedup.connectedComponents(chain).collect()), 12),
      ("cc star", jobs("cc-star")(Dedup.connectedComponents(star).collect()), 7),
      // the empty table stops the loop itself: no separate isEmpty job
      ("cc empty", jobs("cc-empty")(Dedup.connectedComponents(empty).collect()), 3),
      ("contraction 128-chain", jobs("cc-contraction")(
        Dedup.connectedComponentsContraction(longChain, maxIter = 12).collect()), 13))
  }

  test("job counts: k-core and hub distances on the fixture, label propagation on a pair graph") {
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L))
      .toDF("doc_a", "doc_b")
    Graph.partKCore(spark, sfDir, k = 65L).collect() // the fixture's first read lists its files
    atMost(
      ("k-core", jobs("kcore")(Graph.partKCore(spark, sfDir, k = 65L).collect()), 25),
      ("hub distances", jobs("hub")(Graph.partHubDistances(spark, sfDir).collect()), 20),
      ("label propagation", jobs("lpa")(Graph.labelPropagation(pairs).collect()), 12))
  }
}
