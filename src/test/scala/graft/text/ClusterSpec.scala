package graft.text

import graft.SparkSpec

class ClusterSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents labels chains, merges, and singletons") {
    // components: {1,2,3,4} (chain), {10,11} , {20} (singleton)
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L))
      .toDF("src", "dst")
    val out = Cluster.connectedComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("connectedComponents refuses a 25-node path at maxIter = 20 and " +
    "labels it whole at maxIter = 30") {
    // min-label propagation moves one hop per iteration: node 24 gets
    // label 0 in round 24, and round 25 confirms the fixpoint
    val vertices = (0L until 25L).toDF("id")
    val edges = (0L until 24L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      Cluster.connectedComponents(vertices, edges, maxIter = 20)
    }
    assert(e.getMessage.contains("maxIter=20"))
    val out = Cluster.connectedComponents(vertices, edges, maxIter = 30)
      .as[(Long, Long)].collect().toMap
    assert(out == (0L until 25L).map(_ -> 0L).toMap)
  }

  test("dedupClusters marks exactly one canonical doc per component") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),  // dup of 1
      (3L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val out = Cluster.dedupClusters(docs, "text", "doc_id", n = 3,
        minJaccard = 0.5)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out == Set((1L, 1L, true), (2L, 1L, false), (3L, 3L, true)))
  }
}
