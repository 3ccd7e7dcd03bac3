package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame

/** k-core peeling on planted graphs with hand-known cores: a 4-clique
  * (3-core), a triangle (2-core), a chain (1-core), and a hub-and-spoke
  * star — the case plain degree thresholds get wrong. */
class KCoreSpec extends SparkTestBase {
  import spark.implicits._

  private def edges(pairs: (Long, Long)*): DataFrame =
    pairs.toDF("src", "dst")

  // 4-clique on 1-4; triangle on 10-12; chain 20-21-22-23;
  // star: hub 30 with spokes 31-35
  private val graph = edges(
    (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
    (10L, 11L), (10L, 12L), (11L, 12L),
    (20L, 21L), (21L, 22L), (22L, 23L),
    (30L, 31L), (30L, 32L), (30L, 33L), (30L, 34L), (30L, 35L))

  private def coreIds(df: DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  test("2-core keeps the clique and triangle, peels chain and star") {
    val core = KCore.kcore(graph, k = 2)
    assert(coreIds(core) === Set(1L, 2L, 3L, 4L, 10L, 11L, 12L))
    // in-core degrees: clique nodes 3, triangle nodes 2
    val degs = core.as[(Long, Long)].collect().toMap
    assert((1L to 4L).forall(degs(_) === 3L))
    assert((10L to 12L).forall(degs(_) === 2L))
  }

  test("3-core keeps only the 4-clique; 4-core is empty") {
    assert(coreIds(KCore.kcore(graph, k = 3)) === Set(1L, 2L, 3L, 4L))
    assert(KCore.kcore(graph, k = 4).isEmpty)
  }

  test("the hub's degree-5 does not put it in any 2-core") {
    // the star is the degree-threshold counterexample: hub degree 5,
    // but after spokes (degree 1) peel, the hub has degree 0
    assert(!coreIds(KCore.kcore(graph, k = 2)).contains(30L))
  }

  test("fixed-round peel equals the convergent peel once rounds cover the depth") {
    val conv = KCore.kcore(graph, k = 2).as[(Long, Long)].collect().toSet
    val fixed = KCore.kcoreRounds(graph, k = 2, rounds = 6)
      .as[(Long, Long)].collect().toSet
    assert(fixed === conv)
  }

  test("self-loops and duplicate edges never count toward degree") {
    // node 50's only support is a self-loop + a duplicated edge to 51:
    // cleaned degree 1 → no 2-core anywhere
    val g = edges((50L, 50L), (50L, 51L), (50L, 51L), (51L, 50L))
    assert(KCore.kcore(g, k = 2).isEmpty)
  }

  test("maxIter underrun fails loudly by default, warns when downgraded") {
    // a 12-chain peels 2 layers per round for k=2 → needs 6 rounds;
    // maxIter=2 cannot reach the (empty) fixpoint
    val chain = edges((0L until 11L).map(i => (i, i + 1)): _*)
    intercept[IllegalStateException] {
      KCore.kcore(chain, k = 2, maxIter = 2)
    }
    // downgraded: returns the partial peel without throwing
    KCore.kcore(chain, k = 2, maxIter = 2, failOnMaxIter = false)
  }
}
