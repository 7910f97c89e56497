package graft.text

import scala.collection.mutable

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

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

  test("connectedComponents refuses at maxIter when partitioned rounds " +
    "have not converged, and labels a 25-node path whole") {
    val vertices = (0L until 25L).toDF("id")
    val edges = (0L until 24L).map(i => (i, i + 1)).toDF("src", "dst")
    val whole = (0L until 25L).map(_ -> 0L).toMap
    // edgesPerPartition = 2: the path never fits one task, so it is
    // contracted per hash partition and then needs star rounds.
    val e = intercept[IllegalStateException] {
      Cluster.connectedComponents(vertices, edges, maxIter = 2,
        edgesPerPartition = 2)
    }
    assert(e.getMessage.contains("maxIter=2"))
    assert(Cluster.connectedComponents(vertices, edges, maxIter = 30,
      edgesPerPartition = 2).as[(Long, Long)].collect().toMap == whole)
    // At the default size the path is one union-find in one task: no
    // round, so any maxIter labels it.
    assert(Cluster.connectedComponents(vertices, edges, maxIter = 20)
      .as[(Long, Long)].collect().toMap == whole)
  }

  /** Min id per component, by breadth-first search on the driver, for
    * every vertex and every edge endpoint.
    */
  private def reference(vertices: Seq[Long],
                        edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    val label = mutable.Map[Long, Long]()
    for (s <- vertices ++ edges.flatMap { case (a, b) => Seq(a, b) }
         if !label.contains(s)) {
      val seen = mutable.LinkedHashSet(s)
      val queue = mutable.Queue(s)
      while (queue.nonEmpty)
        adj.getOrElse(queue.dequeue(), Nil).foreach { v =>
          if (seen.add(v)) queue.enqueue(v)
        }
      val m = seen.min
      seen.foreach(label(_) = m)
    }
    label.toMap
  }

  /** Cliques, a 200-node path, self-loops (one on a node outside the
    * vertex list), duplicate and reversed edges and isolated vertices,
    * over shuffled ids that include negatives and the Long extremes.
    */
  private def randomGraph(seed: Long): (Seq[Long], Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((Seq(Long.MinValue, Long.MaxValue, -1L, 0L) ++
      Seq.fill(400)(rnd.nextLong())).distinct).iterator
    val path = Seq.fill(200)(ids.next())
    val cliques = Seq.fill(6)(Seq.fill(2 + rnd.nextInt(5))(ids.next()))
    val loners = Seq.fill(3)(ids.next())
    val isolated = Seq.fill(5)(ids.next())
    val base = path.zip(path.tail) ++ cliques.flatMap(c =>
      for (a <- c; b <- c if a < b) yield (a, b)) ++
      loners.map(v => (v, v)) ++ Seq(cliques.head.head -> cliques.head.head)
    val edges = rnd.shuffle((base ++ Seq.fill(20)(base(rnd.nextInt(base.size))))
      .map { case (a, b) => if (rnd.nextBoolean()) (b, a) else (a, b) })
    val vertices = path ++ cliques.flatten ++ loners.tail ++ isolated
    (vertices, edges)
  }

  test("connectedComponents equals a driver-side BFS on seeded random " +
    "graphs, in one task and over partitioned rounds") {
    for (seed <- Seq(11L, 12L); epp <- Seq(1000000L, 2L)) {
      val (vs, es) = randomGraph(seed)
      val out = Cluster.connectedComponents(vs.toDF("id"),
          es.toDF("src", "dst"), maxIter = 40, edgesPerPartition = epp)
        .as[(Long, Long)].collect()
      assert(out.length == out.map(_._1).distinct.length, s"seed $seed")
      assert(out.toMap == reference(vs, es), s"seed $seed epp $epp")
    }
    for (epp <- Seq(1000000L, 2L)) {
      val out = Cluster.connectedComponents(Seq(3L, -7L).toDF("id"),
          Seq.empty[(Long, Long)].toDF("src", "dst"),
          edgesPerPartition = epp)
        .as[(Long, Long)].collect().toSet
      assert(out == Set(3L -> 3L, -7L -> -7L))
    }
  }

  test("connectedComponents keeps LongType and IntegerType ids and " +
    "refuses other id types") {
    def schemaOf(v: org.apache.spark.sql.DataFrame,
                 e: org.apache.spark.sql.DataFrame) =
      Cluster.connectedComponents(v, e).schema.map(f => f.name -> f.dataType)
    assert(schemaOf(Seq(1L, 2L).toDF("id"), Seq((1L, 2L)).toDF("src", "dst"))
      == Seq("id" -> LongType, "component" -> LongType))
    val ints = Cluster.connectedComponents(Seq(1, 2, 5).toDF("id"),
      Seq((2, 1)).toDF("src", "dst"))
    assert(ints.schema.map(f => f.name -> f.dataType) ==
      Seq("id" -> IntegerType, "component" -> IntegerType))
    assert(ints.as[(Int, Int)].collect().toSet == Set(1 -> 1, 2 -> 1, 5 -> 5))
    val e = intercept[IllegalArgumentException] {
      schemaOf(Seq("a").toDF("id"), Seq(("a", "b")).toDF("src", "dst"))
    }
    assert(e.getMessage.contains(StringType.sql))
  }

  test("connectedComponents leaves no cached blocks behind") {
    val vertices = (0L until 30L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 4L), (7L, 7L)).toDF("src", "dst")
    for (epp <- Seq(1000000L, 2L)) {
      spark.catalog.clearCache()
      Cluster.connectedComponents(vertices, edges, edgesPerPartition = epp)
        .collect()
      assert(spark.sharedState.cacheManager.isEmpty, s"epp $epp")
    }
  }

  private val dupDocs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "alpha beta gamma delta epsilon zeta"),  // dup of 1
    (3L, "one two three four five six seven"))

  test("dedupClusters marks exactly one canonical doc per component") {
    val out = Cluster.dedupClusters(dupDocs.toDF("doc_id", "text"), "text",
        "doc_id", n = 3, minJaccard = 0.5)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(out == Set((1L, 1L, true), (2L, 1L, false), (3L, 3L, true)))
  }

  test("dedupClusters leaves its edge list uncached") {
    val docs = dupDocs.toDF("doc_id", "text")
    Cluster.dedupClusters(docs, "text", "doc_id", n = 3, minJaccard = 0.5,
      maxPairs = 1000000L).collect()
    val edges = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5,
        maxPairs = 1000000L)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    assert(spark.sharedState.cacheManager.lookupCachedData(
      edges.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty)
  }
}
