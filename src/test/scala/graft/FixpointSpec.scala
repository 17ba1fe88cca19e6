package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.jobsOf
import graft.core.Fixpoint
import graft.graph.Graph

/** The one convergence loop: its round guard raises (and cannot be
  * compiled out), the k-core peel keeps its 30-peel bound, and every
  * operator built on the loop starts no more Spark jobs than before.
  */
class FixpointSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf

  test("converge returns the no-change round's state; one changing round past the guard throws") {
    // counts down to 0, changing once per round: `from` changing rounds
    def countdown(from: Int) = Fixpoint.converge("countdown", 5)(from) { n =>
      (math.max(n - 1, 0), n > 0)
    }
    assert(countdown(5) == 0)
    val e = intercept[IllegalStateException](countdown(6))
    assert(e.getMessage == "countdown did not converge in 5 rounds")
    // the returned state is the last one the step produced, not the input
    assert(Fixpoint.converge("tag", 1)("start")(s => (s + "!", false)) == "start!")
  }

  /** A k=2 peel of an n-node path strips both ends per peel: n/2 peels. */
  private def pathCore(n: Long) = {
    import spark.implicits._
    val und = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val sym = und.union(und.select($"b".as("a"), $"a".as("b")))
    Graph.kcoreOnEdges(sym, (1L to n).toDF("vec_id"), 2)
  }

  test("k-core guard: a 60-node path peels in exactly 30 rounds, a 62-node path raises") {
    import spark.implicits._
    val core = pathCore(60).as[(Long, Long)].collect()
    assert(core.length == 60 && core.forall(_._2 == 0L), "a path has no 2-core")
    val e = intercept[IllegalStateException](pathCore(62))
    assert(e.getMessage.contains("k-core"), e.getMessage)
  }

  test("fixpoint operators start no more Spark jobs than their measured budgets") {
    import spark.implicits._
    def key(k: String) = () => SparkEntry.queries(k)(spark, sf).collect().length
    def sym(pairs: (Long, Long)*) = {
      val und = pairs.toDF("a", "b")
      und.union(und.select($"b".as("a"), $"a".as("b")))
    }
    // budgets measured on this shared session before the loops moved
    // onto Fixpoint.converge; a budget may only go down
    val budgets = Seq[(String, () => Int, Int)](
      ("graph_components", key("graph_components"), 20),
      ("graph_kcore", key("graph_kcore"), 61),
      ("graph_coreness", key("graph_coreness"), 113),
      ("dedup_components", key("dedup_components"), 57),
      ("dedup_keep_one", key("dedup_keep_one"), 63),
      ("mm_phash_clusters", key("mm_phash_clusters"), 10),
      ("kcoreOnEdges clique", () => Graph.kcoreOnEdges(
        sym((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
            (5L, 1L), (5L, 2L), (5L, 6L), (6L, 3L)),
        (1L to 7L).toDF("vec_id"), 3).collect().length, 19),
      ("corenessOnEdges tiers", () => Graph.corenessOnEdges(
        sym((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
            (5L, 1L), (6L, 7L), (9L, 10L), (10L, 11L), (9L, 11L)),
        (1L to 11L).toDF("vec_id")).collect().length, 35),
      ("starComponents chain", () => graft.dedup.Dedup.starComponents(
        Seq((2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L), (6L, 5L), (7L, 6L),
            (9L, 8L)).toDF("u", "v")).collect().length, 54))
    for ((name, op, budget) <- budgets) {
      val (_, jobs) = jobsOf(op())
      info(s"$name: ${jobs.size} jobs (budget $budget)")
      assert(jobs.size <= budget, s"$name started ${jobs.size} Spark jobs (budget $budget)")
    }
  }
}
