package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.Ledger

/** Alternating-star connected components vs a driver-side union-find
  * reference, including the path-graph shape that defeats naive min-label
  * propagation (round count = diameter) but must converge for the star
  * rounds well inside `maxIter`.
  */
class DupGraphSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("dupgraph-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Reference: plain union-find over the same edges. */
  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    DupGraph.components(edges.toDF("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("two cliques bridged by a chain resolve to one component each") {
    val clique1 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val clique2 = for (a <- 10L to 13L; b <- (a + 1) to 13L) yield (a, b)
    val chain = Seq((3L, 20L), (20L, 21L), (21L, 10L)) // bridges the two
    val isolatedPair = Seq((100L, 101L))
    val edges = clique1 ++ clique2 ++ chain ++ isolatedPair
    val got = run(edges)
    assert(got == reference(edges))
    assert(got(13L) == 0L) // transitive across the bridge
    assert(got(101L) == 100L)
  }

  /** Labels of `edges`, and whether a star round ran: read from a ledger
    * region around the whole call, where a round shows as the
    * large-star aggregate by u or the small-star aggregate by v, each an
    * exchange of (key, min) partial rows.
    */
  private def runTraced(edges: Seq[(Long, Long)]): (Map[Long, Long], Boolean) = {
    var got = Map.empty[Long, Long]
    val region = new Ledger(spark).region("components") { got = run(edges) }
    val outputs = region.allActions.flatMap(Ledger.exchanges).map(_.output)
    (got, outputs.exists(o => o == Seq("u", "min") || o == Seq("v", "min")))
  }

  test("a star forest is labelled with no star round") {
    // disjoint twins plus one star rooted at its minimum
    val twins = Seq((10L, 11L), (21L, 20L), (30L, 31L))
    val star = Seq((1L, 2L), (1L, 3L), (4L, 1L), (1L, 5L))
    val (got, round) = runTraced(twins ++ star)
    assert(got == reference(twins ++ star))
    assert(!round, "a star round ran on a star forest")
  }

  test("two roots, or a root that is also a leaf, force a star round") {
    val twins = Seq((10L, 11L), (20L, 21L))
    for (shape <- Seq(
        Seq((1L, 5L), (2L, 5L)),    // 5 hangs off two roots
        Seq((1L, 2L), (2L, 3L)))) { // 2 is 1's leaf and 3's root
      val (got, round) = runTraced(twins ++ shape)
      assert(got == reference(twins ++ shape), s"shape=$shape")
      assert(round, s"no star round ran on $shape")
    }
  }

  test("200-node path graph: components correct, star rounds converge") {
    // diameter 199 — min-label propagation would need ~200 rounds and
    // components(maxIter = 30) would throw; the star algorithm must not
    val edges = (0L until 199L).map(i => (i, i + 1))
    val got = run(edges)
    assert(got.size == 200)
    assert(got.values.forall(_ == 0L))
  }

  test("randomized graphs match union-find") {
    val rnd = new scala.util.Random(0xd1e7)
    for (_ <- 1 to 5) {
      val n = 60
      val edges = Seq.fill(80)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val got = run(edges)
      assert(got == reference(edges), s"edges=$edges")
    }
  }

  test("self-pairs, duplicate and reversed edges are harmless") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (2L, 5L))
    val got = run(edges)
    // 3's only edge is a self-loop: dropped, so 3 is absent (singleton)
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 1L))
  }

  test("empty pair graph: no components, dropNearDups keeps everything") {
    import spark.implicits._
    val noPairs = Seq.empty[(Long, Long)].toDF("id1", "id2")
    assert(DupGraph.components(noPairs).collect().isEmpty)
    val docs = (0L to 4L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val kept = DupGraph.dropNearDups(docs, noPairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == (0L to 4L))
  }

  test("non-numeric pair ids fail fast instead of silently keeping dups") {
    import spark.implicits._
    val pairs = Seq(("docA", "docB")).toDF("id1", "id2")
    val ex = intercept[Exception] {
      DupGraph.components(pairs).collect()
    }
    assert(ex.getMessage != null)
  }

  test("dropNearDups keeps cluster minima and all singleton docs") {
    import spark.implicits._
    val docs = (0L to 9L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 4L), (7L, 8L)).toDF("id1", "id2")
    val kept = DupGraph.dropNearDups(docs, pairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // clusters {1,2,4} -> keep 1; {7,8} -> keep 7; rest are singletons
    assert(kept.toSeq == Seq(0L, 1L, 3L, 5L, 6L, 7L, 9L))
  }

  /** Plain-Scala twin of the integer power iteration — the exact same
    * fixed-point formula, evaluated driver-side.
    */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int,
      scale: Long, d: Int): Map[Long, Long] = {
    val sym = edges.flatMap { case (u, v) => Seq((u, v), (v, u)) }
      .filter { case (u, v) => u != v }.distinct
    val deg = sym.groupBy(_._1).map { case (k, vs) => k -> vs.size.toLong }
    val n = deg.size.toLong
    var r = deg.keys.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val contrib = sym.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => r(u) / deg(u) }.sum
      }
      r = deg.keys.map(id =>
        id -> (((100 - d) * (scale / n)) / 100 +
          (d * contrib.getOrElse(id, 0L)) / 100)).toMap
    }
    r
  }

  test("pageRank matches the integer reference on a lollipop graph") {
    import spark.implicits._
    // triangle {1,2,3} with a tail 3-4-5: asymmetric degrees, so ranks
    // genuinely differ per node
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val got = DupGraph.pageRank(edges.toDF("id1", "id2"), iterations = 4)
      .as[(Long, Long)].collect().toMap
    val want = refPageRank(edges, iters = 4, scale = 1000000000000L, d = 85)
    assert(got == want)
    // the junction node 3 (deg 3) outranks everyone; total mass stays
    // within truncation of the initial scale
    assert(got(3L) == got.values.max)
    assert(got.values.sum <= 1000000000000L)
    assert(got.values.sum > 900000000000L)
  }

  test("pageRank: duplicate/reversed/self pairs are harmless, star hub wins") {
    import spark.implicits._
    val raw = Seq((10L, 11L), (11L, 10L), (10L, 10L), (10L, 12L),
      (10L, 13L), (10L, 13L))
    val got = DupGraph.pageRank(raw.toDF("id1", "id2"), iterations = 3)
      .as[(Long, Long)].collect().toMap
    val want = refPageRank(raw, iters = 3, scale = 1000000000000L, d = 85)
    assert(got == want)
    assert(got(10L) == got.values.max)
    // leaves are symmetric, so their ranks are identical
    assert(got(11L) == got(12L) && got(12L) == got(13L))
  }
}
