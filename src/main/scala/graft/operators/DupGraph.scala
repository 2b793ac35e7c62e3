package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.util.{Ids, Rounds}

/** Connected components over a near-duplicate pair graph: the step that
  * turns pairwise dedup output (q32/q33/q34/q45 emit PAIRS) into the
  * per-document cluster labels a production pipeline actually needs —
  * "keep one doc per near-dup cluster" requires the transitive closure,
  * not the pairs (A~B, B~C must drop two of {A,B,C} even when A≁C).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14 — public
  * literature), re-expressed on DataFrames:
  *
  *   - large-star, per node u over its full neighborhood Γ(u):
  *     connect every STRICTLY LARGER neighbor to m = min(Γ(u) ∪ {u});
  *   - small-star, per node u over its smaller neighbors Γ⁻(u):
  *     connect every v ∈ Γ⁻(u) ∪ {u}, v ≠ m, to m = min(Γ⁻(u) ∪ {u}).
  *
  * Each round is two shuffle-bounded groupBy/join passes over the edge
  * list; the edge set only ever shrinks toward stars rooted at component
  * minima, converging in O(log²) rounds even on path graphs — unlike
  * naive min-label propagation, whose round count is the graph DIAMETER
  * (a 1e6-doc near-dup chain would need 1e6 rounds; the star algorithm
  * needs ~40). [[graft.util.Rounds]] truncates each round's lineage, so
  * round N doesn't re-analyze N stacked joins.
  *
  * The stop rule reads the star forest directly: one per-node aggregate
  * over the current edges (degree and minimum endpoint) shows whether
  * every node with a smaller neighbour is a leaf with exactly one edge.
  * Then no node has two roots and none is both a root and a leaf: a
  * forest of stars rooted at their minima, the algorithm's exact fixed
  * point. No confirming round runs, and the same table is the label
  * table. A pair graph that is already a star forest (disjoint twins,
  * the common near-dup shape) runs zero star rounds.
  *
  * Scale shape: never collects, never broadcasts the graph; state is the
  * (shrinking) edge list, partitioned by node — 100 TB of docs with a
  * bounded dup rate keeps edges ≪ docs.
  */
object DupGraph {

  /** Canonical undirected edge list (u < v), distinct, self-loops and
    * nulls dropped; ids go through the fail-fast cast — a non-numeric id
    * nulling out would silently KEEP its near-dup cluster (see Ids.longId)
    */
  private def canonicalEdges(pairs: DataFrame, id1Col: String,
      id2Col: String): DataFrame = pairs
    .select(Ids.longId(id1Col).as("a"), Ids.longId(id2Col).as("b"))
    .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
    .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
    .distinct()

  /** (id, component) for every node that appears in `pairs`, where
    * `component` is the minimum id reachable in the undirected graph.
    * Docs with no near-dup pair are absent (each is its own singleton
    * cluster by definition — callers join with a coalesce, see
    * [[dropNearDups]]).
    *
    * Each step checks the current edges with one action over their node
    * table ([[nodeTable]]) and stops at the first star forest; otherwise
    * it runs one large-star + small-star round. `maxIter` bounds the
    * star rounds run: an input that needs more throws. Edges and node
    * table are checkpointed lazily per round; the returned labels are a
    * projection of the final node table, the one block set left resident.
    */
  def components(pairs: DataFrame, id1Col: String = "id1",
      id2Col: String = "id2", maxIter: Int = 30): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    Rounds.run { rounds =>
      val first = rounds.lazily(canonicalEdges(pairs, id1Col, id2Col).as[(Long, Long)])
      rounds.iterate((first, rounds.lazily(nodeTable(first)))) {
        case ((edges, nodes), round) =>
          // the check fills this round's edge and node checkpoints
          if (starForest(nodes)) Left(nodes.select(col("id"), col("component")))
          else {
            require(round < maxIter,
              s"star rounds did not reach a star forest in $maxIter rounds")
            val next = rounds.lazily(smallStar(largeStar(edges)))
            Right((next, rounds.lazily(nodeTable(next))))
          }
      }
    }
  }

  /** (id, deg, component) per node of a canonical edge list (u < v):
    * its edge count and its minimum endpoint min(Γ(id) ∪ {id}), so
    * `component < id` exactly when the node has a smaller neighbour.
    */
  private def nodeTable(edges: Dataset[(Long, Long)]): DataFrame = {
    val e = edges.toDF("u", "v")
    e.select(col("v").as("id"), col("u").as("m"))
      .unionByName(e.select(col("u").as("id"), col("u").as("m")))
      .groupBy("id")
      .agg(count(lit(1)).as("deg"), min("m").as("component"))
  }

  /** Whether a node table is a forest of stars rooted at their minima:
    * every node with a smaller neighbour (a leaf) has no other edge, so
    * no node has two roots and none is both a root and a leaf. That is
    * the large-star/small-star fixed point, and then each node's
    * component is its root. An RDD count, not a Dataset aggregate: one
    * job over every partition, so the call materializes the table's
    * checkpoint without a second job for a global aggregate's exchange.
    */
  private def starForest(nodes: DataFrame): Boolean =
    nodes.where(col("component") < col("id") && col("deg") > 1)
      .rdd.count() == 0L

  /** One large-star pass: every strictly larger neighbor of u hangs off
    * m = min(Γ(u) ∪ {u}). m <= u < v keeps the output canonical.
    * private[graft] so PlanAuditSpec audits THIS plan, not a copy.
    *
    * Deliberately NOT exchange-shared (round-19 A/B, guide §1): an
    * explicit `repartition(u)` serving both the min-agg and the join
    * looks like one exchange saved on paper, but locally AQE broadcasts
    * the small min-neighbor table — the join then shuffles NOTHING and
    * the explicit repartition is a pure extra full-edge exchange
    * (measured: dedup_components_adversarial 9.1 → 11.3 s isolated
    * min). Leaving the plan shuffle-free-by-broadcast when m fits and
    * SMJ-with-own-exchange (AQE skew-splittable) when it does not is
    * the scale-adaptive shape.
    */
  private[graft] def largeStar(e: Dataset[(Long, Long)]): Dataset[(Long, Long)] = {
    val spark = e.sparkSession
    import spark.implicits._
    val df = e.toDF("u", "v")
    val sym = df.unionByName(df.select(col("v").as("u"), col("u").as("v")))
    val m = sym.groupBy("u")
      .agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(m, "u")
      .where(col("v") > col("u"))
      .select(col("m").as("u"), col("v"))
      .distinct()
      .as[(Long, Long)]
  }

  /** One small-star pass: smaller neighbors of v (and v itself) re-hang
    * off m = min(Γ⁻(v) ∪ {v}).
    */
  private[graft] def smallStar(e: Dataset[(Long, Long)]): Dataset[(Long, Long)] = {
    val spark = e.sparkSession
    import spark.implicits._
    val df = e.toDF("u", "v") // u < v: u ∈ Γ⁻(v)
    val m = df.groupBy("v").agg(min("u").as("m")) // m = min(Γ⁻(v)), m < v
    val joined = df.join(m, "v")
    joined.where(col("u") =!= col("m"))
      .select(col("m").as("u"), col("u").as("v"))
      .unionByName(m.select(col("m").as("u"), col("v")))
      .distinct()
      .as[(Long, Long)]
  }

  /** Corpus minus near-duplicates: keeps every doc that is its own
    * cluster minimum (including all docs with no pair at all — absent
    * from `components`, hence kept by the anti-join).
    */
  def dropNearDups(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", id1Col: String = "id1",
      id2Col: String = "id2"): DataFrame =
    dropNearDupsByComponents(docs, components(pairs, id1Col, id2Col), idCol)

  /** Deterministic PageRank over the undirected pair graph, in integer
    * fixed-point arithmetic — a centrality score for documents inside a
    * near-duplicate (or citation/link) graph: "which doc is the HUB of
    * this boilerplate cluster" is a better keeper-selection signal than
    * min-id when clusters are large.
    *
    * Every quantity is a BIGINT multiple of 1/`scale`:
    *
    *   rank₀(v)   = scale ÷ N                       (integer division)
    *   contrib(u) = rank(u) ÷ deg(u)
    *   rankₖ₊₁(v) = ((100−d)·(scale ÷ N)) ÷ 100 + (d·Σ contrib(u)) ÷ 100
    *
    * with d = `dampingPct` (the standard 0.85 as an integer percentage).
    * Because ÷ is integer division and Σ is an integer sum, the result
    * is bit-identical on ANY engine regardless of partitioning or
    * summation order — float PageRank can't be audited that way (its Σ
    * order is engine-private). The truncation loses < N·(1+d)/scale of
    * probability mass per round: at scale = 10¹² that is noise, and
    * determinism is what a 100 TB dedup pipeline needs for reproducible
    * keeper choices.
    *
    * Shape per iteration: one equi-join rank⋈edges (shuffles on node
    * id), one partial-aggregated sum by destination — the classic
    * power-iteration MapReduce shape. The edge list and degree table are
    * checkpointed once for the whole call; the rank vector (|V| rows,
    * 16 B) is checkpointed eagerly after every second iteration (and the
    * last), one [[graft.util.Rounds]] round per two iterations: the
    * checkpoint is the round's only job, so two iterations per round
    * halve the jobs while the plan stays two iterations deep. A fixed
    * `iterations` count (not a convergence test) keeps the oracle
    * expressible as unrolled SQL.
    *
    * Overflow bound: ranks ≤ scale, so `dampingPct·Σcontrib` ≤ 85·scale
    * ≤ 8.5×10¹³ ≪ 2⁶³. Undirected edges mean no dangling nodes (every
    * node with an out-edge has in-edges), so no dangling-mass term.
    */
  def pageRank(pairs: DataFrame, iterations: Int = 4,
      id1Col: String = "id1", id2Col: String = "id2",
      scale: Long = 1000000000000L, dampingPct: Int = 85): DataFrame = {
    require(iterations >= 0 && dampingPct >= 0 && dampingPct <= 100)
    val canon = canonicalEdges(pairs, id1Col, id2Col)
    // partitioned by u ONCE before the checkpoint (guide §2.4): the
    // degree agg, and every iteration's rank join AND degree join, are
    // then co-partitioned with it — localCheckpoint preserves the
    // physical partitioning, so the only per-iteration exchange left is
    // the contribution sum by destination (whose hash(id) output in turn
    // co-partitions the base left-join). Previously each iteration paid
    // exchanges for both join sides plus the agg.
    Rounds.run { rounds =>
      val edges = rounds.shared(canon
        .unionByName(canon.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u")))
      val deg = rounds.shared(edges.groupBy(col("u").as("id"))
        .agg(count(lit(1)).as("deg")))
      val n = deg.agg(count(lit(1)).as("n"))
      val base = deg.select("id").crossJoin(broadcast(n))
      def power(pr: DataFrame): DataFrame = {
        val contrib = edges
          .join(pr.select(col("id").as("u"), col("rank").as("r")), "u")
          .join(deg.select(col("id").as("u"), col("deg")), "u")
          .groupBy(col("v").as("id"))
          .agg(sum(expr("r DIV deg")).as("contrib"))
        base
          .join(contrib, Seq("id"), "left")
          .select(col("id"),
            expr(s"""CAST(((100 - $dampingPct) * ($scale DIV n)) DIV 100
                     + ($dampingPct * COALESCE(contrib, 0)) DIV 100 AS BIGINT)""")
              .as("rank"))
      }
      val pr0 = rounds.eagerly(base
        .select(col("id"), expr(s"CAST($scale DIV n AS BIGINT)").as("rank")))
      rounds.iterate(pr0) { (pr, round) =>
        val left = iterations - 2L * round
        if (left <= 0) Left(pr)
        else Right(rounds.eagerly(if (left == 1) power(pr) else power(power(pr))))
      }
    }
  }

  /** [[dropNearDups]] for pipelines that already ran [[components]] —
    * the pair graph (a Jaccard/MinHash join) and its transitive closure
    * are the expensive steps, and a curation pipeline typically needs
    * BOTH the cluster labels (to materialize) and the deduped corpus;
    * computing the labels once and passing them here avoids re-running
    * the pair join per consumer. The anti-join is the only work left.
    */
  def dropNearDupsByComponents(docs: DataFrame, comps: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val losers = comps
      .where(col("id") =!= col("component"))
      .select(col("id"))
    docs.join(losers, Ids.longId(idCol) === losers("id"), "left_anti")
  }

  /** Keeper-drop that keeps each component's BEST-scoring member (keep
    * the longest / highest-quality copy of a near-dup cluster, not the
    * arbitrary min id); singletons, absent from the component map, are
    * always kept. Keeper per component = argmax(score, ties to the
    * lower id) via one partial-aggregated `max(struct)` — window-free,
    * so a viral cluster ships one candidate per map task, the q31/q116
    * shape. Losers anti-join the corpus exactly like
    * [[dropNearDupsByComponents]].
    */
  def dropNearDupsKeepBest(docs: DataFrame, comps: DataFrame,
      scoreCol: String, idCol: String = "doc_id"): DataFrame = {
    val members = comps.join(
      docs.select(Ids.longId(idCol).as("id"), col(scoreCol).as("__s")),
      Seq("id"))
    val keepers = members.groupBy("component")
      .agg(max(struct(col("__s").as("s"), (-col("id")).as("nid"))).as("b"))
      .select(col("component"), (-col("b.nid")).as("keeper"))
    val losers = members.join(keepers, Seq("component"))
      .where(col("id") =!= col("keeper"))
      .select(col("id"))
    docs.join(losers, Ids.longId(idCol) === losers("id"), "left_anti")
  }

  /** Per-node triangle counts over an undirected simple graph given as
    * canonical edges (`a < b`, distinct) — the local-clustering signal
    * over a co-occurrence or near-dup pair graph (a node whose
    * neighborhood closes many triangles sits in a dense dup community;
    * one that closes none is a chain artifact).
    *
    * Scale shape: the classic degree-ordered wedge join. Every edge is
    * oriented from its lower-(degree, id) endpoint to the higher one, so
    * each node's OUT-degree is O(sqrt(m)) amortized — the wedge fan-out
    * a plain id-orientation would let a low-id hub explode stays
    * bounded; wedges then semi-join their closing edge. Three shuffles
    * (degree agg, wedge join, closing semi-join), no windows, no driver
    * state.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("a").as("v"))
      .unionAll(edges.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val oriented = edges
      .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("src"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("dst"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"),
        col("e2.dst").as("w"))
    val closed = wedges.join(edges,
      least(col("v"), col("w")) === col("a") &&
        greatest(col("v"), col("w")) === col("b"),
      "left_semi")
    closed
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
      .join(deg.select(col("v").as("node"), col("deg").as("degree")),
        Seq("node"), "right")
      .na.fill(0L, Seq("triangles"))
      .select(col("node"), col("degree"), col("triangles"))
  }
}
