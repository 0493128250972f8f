package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.Components

/** Property test: the `Components` plan node vs a driver-side
  * union-find over random graphs — chains, stars, cliques, and sparse
  * random edges, fixed seeds (deterministic).
  */
class ComponentsPropSpec extends SparkSpec {
  import spark.implicits._

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-id representative per component
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) =>
      val rep = ns.min
      ns.map(_ -> rep)
    }
  }

  private val graphGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(10, 120)       // node id space
    m <- Gen.choose(5, 200)        // edges
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0, n.toLong)
      b <- Gen.choose(0, n.toLong)
    } yield (a, b))
  } yield edges.filter(e => e._1 != e._2)

  test("connected components equal union-find on random graphs") {
    var seed = Seed(4242L)
    (1 to 6).foreach { caseNo =>
      val (edges, next) = graphGen.apply(Gen.Parameters.default, seed)
        .map(e => (e, seed.next)).getOrElse(fail("gen"))
      seed = next
      if (edges.nonEmpty) {
        val got = Components.connected(edges.toDF("a", "b"), "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = unionFind(edges)
        assert(got == want, s"case $caseNo (${edges.size} edges)")
      }
    }
  }

  test("adversarial shapes: long chain and two touching cliques") {
    // a 60-node chain: one component whose diameter is the whole chain
    val chain = (0L until 59L).map(i => (i, i + 1))
    val gotChain = Components.connected(chain.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotChain.values.toSet == Set(0L))
    assert(gotChain.size == 60)
    // two 10-cliques sharing node 100
    val c1 = for (i <- 100L to 109L; j <- (i + 1) to 109L) yield (i, j)
    val c2 = for (i <- 109L to 118L; j <- (i + 1) to 118L) yield (i, j)
    val got = Components.connected((c1 ++ c2).toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(100L))
  }
}
