package graft

import graft.ext.Graph

/** The graph kernels over an id that does not fit an int.
  * `triangleCounts` and `linkPredict` pack an id pair into one long
  * (hi·2³² | lo) only when every id is nonnegative and below 2³¹, and
  * key on the two long ids otherwise; `linkPredictApprox` keeps long
  * neighbor arrays for every input. A graph with one id ≥ 2³¹ must give
  * the rows of the same graph with that id relabelled below 2³¹ and
  * mapped back. */
class GraphWideIdSpec extends SparkSpec {
  import spark.implicits._

  // 2³² + 5 truncates to the int 5, a node of the same graph — so a
  // kernel that packed an id pair into one long or narrowed ids to
  // int would merge the two nodes and change the rows
  private val Wide = (1L << 32) + 5L
  // its narrow stand-in: the largest id of each graph, as Wide is, so
  // u < v orientation and every ORDER BY tie-break are unchanged
  private val Narrow = 100L

  private def widen(id: Long) = if (id == Narrow) Wide else id

  private def graphs(es: Seq[(Long, Long)]) =
    (es.toDF("u", "v"),
     es.map { case (u, v) => (widen(u), widen(v)) }.toDF("u", "v"))

  // K4 on {1, 2, 5, 100}, triangle {2, 3, 100}, pendant 3-4
  private val triangleEdges = Seq((1L, 2L), (1L, 5L), (1L, 100L),
    (2L, 5L), (2L, 100L), (5L, 100L), (2L, 3L), (3L, 100L), (3L, 4L))

  // K(3,3) between {1, 5, 100} and {2, 3, 4}: every non-adjacent pair
  // shares its whole neighborhood, so the minhash screen finds each
  // one for any id labels — approx equals exact, cn = 3
  private val bipartiteEdges =
    for (a <- Seq(1L, 5L, 100L); b <- Seq(2L, 3L, 4L))
      yield (math.min(a, b), math.max(a, b))
  private val openPairs = Seq((1L, 5L), (1L, 100L), (2L, 3L), (2L, 4L),
    (3L, 4L), (5L, 100L)).map { case (u, v) => (u, v, 3L, 3L, 3L, 1000000L) }

  test("triangleCounts: a wide id counts the same as its relabelled " +
    "graph") {
    val (narrow, wide) = graphs(triangleEdges)
    def run(df: org.apache.spark.sql.DataFrame) =
      Graph.triangleCounts(df).as[(Long, Long)].collect().toMap
    val want = Map(1L -> 3L, 2L -> 4L, 5L -> 3L, 100L -> 4L, 3L -> 1L)
    assert(run(narrow) == want)
    assert(run(wide) == want.map { case (n, t) => widen(n) -> t })
  }

  test("linkPredict: a wide id ranks the same as its relabelled graph") {
    val (narrow, wide) = graphs(bipartiteEdges)
    def run(df: org.apache.spark.sql.DataFrame) =
      Graph.linkPredict(df, minCn = 2, k = 10)
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(run(narrow) == openPairs)
    assert(run(wide) ==
      openPairs.map(r => r.copy(_1 = widen(r._1), _2 = widen(r._2))))
  }

  test("linkPredictApprox: a wide id ranks the same as its relabelled " +
    "graph") {
    val (narrow, wide) = graphs(bipartiteEdges)
    def run(df: org.apache.spark.sql.DataFrame) =
      Graph.linkPredictApprox(df, k = 10)
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(run(narrow) == openPairs)
    assert(run(wide) ==
      openPairs.map(r => r.copy(_1 = widen(r._1), _2 = widen(r._2))))
  }
}
