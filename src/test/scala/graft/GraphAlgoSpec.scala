package graft

import graft.graph.{LinkGraph, Residency}
import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, PrefixStudy, TriangleCount}

class GraphAlgoSpec extends GraftSuite {
  import spark.implicits._

  private def graphOf(edges: Seq[(Long, Long)], numBlocks: Int = 3): LinkGraph =
    LinkGraph.fromEdgeList(spark, edges.toDF("src", "dst"), numBlocks = numBlocks)

  /** Every operator on the distributed path. */
  private val distributedPlan = Residency(driverBytes = 0L)

  // 3 disjoint triangles + a 2-chain + 1 isolate-ish pair (FIXTURES.md g_islands)
  private val islands: Seq[(Long, Long)] =
    Seq((0L, 1L), (1L, 2L), (2L, 0L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L), (21L, 22L), (22L, 20L),
      (30L, 31L))

  test("connected components: exact min-extId labels on disjoint islands") {
    val g = graphOf(islands)
    val got = ConnectedComponents.run(g)
      .join(g.vertexDict.toDF("id", "v1"), $"vid" === $"v1")
      .join(g.vertexDict.toDF("comp", "v2"), $"label" === $"v2")
      .select($"id", $"comp")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val want = Map(
      0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L)
    assert(got == want)
    g.unpersistAll()
  }

  test("connected components: direction is ignored (undirected semantics)") {
    // chain only in one direction: 5 -> 6 -> 7; all one component
    val g = graphOf(Seq((5L, 6L), (6L, 7L)))
    val labels = ConnectedComponents.run(g).select("label").distinct().count()
    assert(labels == 1)
    g.unpersistAll()
  }

  test("connected components: 3000-vertex chain converges in O(log n) star rounds") {
    // diameter 2999 — the naive min-label loop needs ~3000 supersteps here;
    // star contraction must finish in a handful of rounds or this throws.
    val g = graphOf((0 until 2999).map(i => (i.toLong, (i + 1).toLong)))
    val labels = ConnectedComponents.run(g, maxIterations = 25)
    assert(labels.select("label").distinct().count() == 1L)
    assert(labels.agg(org.apache.spark.sql.functions.max("label")).first().getLong(0) == 0L)
    g.unpersistAll()
  }

  test("connected components match brute-force union-find on a seeded random graph") {
    val rng = new scala.util.Random(11)
    val n = 300
    val edges = Seq.fill(260)((rng.nextInt(n).toLong, rng.nextInt(n).toLong)).distinct
    // driver-side union-find oracle
    val parent = Array.tabulate(n)(identity)
    def find(a: Int): Int = { var x = a; while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }; x }
    edges.foreach { case (a, b) => val (ra, rb) = (find(a.toInt), find(b.toInt)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val wantRoot = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    // canonical = min member per root
    val minOfRoot = wantRoot.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
    val want = wantRoot.map { case (v, r) => v -> minOfRoot(r) }

    val g = graphOf(edges)
    val dict = g.vertexDict.collect().map(m => m.vid -> m.extId).toMap
    val got = ConnectedComponents.run(g)
      .collect()
      .map(r => dict(r.getLong(0)) -> dict(r.getLong(1)))
      .toMap
    // compare only vertices that appear in the edge list (graph drops isolates)
    got.foreach { case (v, lbl) => assert(lbl == want(v), s"vertex $v") }
    g.unpersistAll()
  }

  test("induced prefix subgraph slices G[:k,:k]; prefix study cross-runs the solvers") {
    // prefix 0..19 is a directed 20-cycle; vertices 20..59 hang off it
    val cyc = (0 until 20).map(i => (i.toLong, ((i + 1) % 20).toLong))
    val tail = (20 until 60).map(i => (i.toLong, (i - 20).toLong))
    val g = graphOf(cyc ++ tail)
    assert(g.numVertices == 60)

    val sub = g.inducedPrefix(20)
    assert(sub.numVertices == 20)
    assert(sub.numEdges == 20, "induced prefix must keep exactly the in-prefix edges")
    // the 20-cycle is regular: every formulation gives uniform ranks
    val out = PageRank.run(sub, tolerance = 1e-12, maxIterations = 500)
    out.ranks.collect().flatMap(_.values).foreach(v => assert(math.abs(v - 1.0 / 20) < 1e-9))
    out.free()
    val direct = graft.algo.DirectSolve.solve(
      20, sub.edges.collect().map(e => (e.src.toInt, e.dst.toInt, e.weight)).toSeq)
    direct.foreach(v => assert(math.abs(v - 1.0 / 20) < 1e-9))
    sub.unpersistAll()

    val study = PrefixStudy.run(g, Seq(20L, Long.MaxValue), tolerance = 1e-8)
    assert(study.map(_.prefix).distinct.sorted == Seq(20L, 60L))
    assert(study.count(_.prefix == 20L) == 3, "pr1/pr2/pr3 on the small prefix")
    assert(study.forall(_.converged), study.mkString("; "))
    val full = study.filter(_.prefix == 60L)
    assert(full.forall(_.nodes == 60L) && full.forall(_.edges == g.numEdges))
    g.unpersistAll()
  }

  test("triangle counting: 3 islands of 1 triangle each; chain has none") {
    val g = graphOf(islands)
    assert(TriangleCount.totalTriangles(g) == 3)
    val per = TriangleCount.perVertexTriangles(g)
      .join(g.vertexDict.toDF("id", "v1"), $"vid" === $"v1")
      .select($"id", $"triangles")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(per(0L) == 1 && per(11L) == 1 && per(22L) == 1)
    assert(per(30L) == 0 && per(31L) == 0)
    g.unpersistAll()
  }

  test("triangle counting matches brute force on a seeded random graph") {
    val edges = DenseReference.randomEdges(30, 0.15, seed = 7).map(e => (e._1.toLong, e._2.toLong))
    val g = graphOf(edges)
    // brute force over the undirected simple graph
    val und = edges.flatMap { case (a, b) => Seq((a min b, a max b)) }.filter(e => e._1 != e._2).distinct.toSet
    var brute = 0
    for (a <- 0L until 30L; b <- a + 1 until 30L; c <- b + 1 until 30L)
      if (und(( a, b)) && und((b, c)) && und((a, c))) brute += 1
    assert(TriangleCount.totalTriangles(g) == brute)
    g.unpersistAll()
  }

  test("clustering coefficient: full triangle vertices have coeff 1") {
    val g = graphOf(Seq((0L, 1L), (1L, 2L), (2L, 0L)))
    val cc = TriangleCount.clusteringCoefficients(g).collect()
    assert(cc.forall(_.getAs[Double]("clustering_coeff") == 1.0))
    g.unpersistAll()
  }

  test("LPA: two dense cliques joined by one weak edge separate into two communities") {
    val cliqueA = for (i <- 0L to 4L; j <- 0L to 4L if i < j) yield (i, j)
    val cliqueB = for (i <- 10L to 14L; j <- 10L to 14L if i < j) yield (i, j)
    val g = graphOf(cliqueA ++ cliqueB ++ Seq((4L, 10L)))
    val labels = LabelPropagation.run(g, iterations = 10)
      .join(g.vertexDict.toDF("id", "v1"), $"vid" === $"v1")
      .select($"id", $"label")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val aLabels = (0L to 4L).map(labels).toSet
    val bLabels = (10L to 14L).map(labels).toSet
    assert(aLabels.size == 1 && bLabels.size == 1 && aLabels != bLabels)
    g.unpersistAll()
  }

  test("LPA: zero-weight edges are absent — they cannot tie the w=0 self-vote") {
    // triangle 0-1-2 = stable community (label 0 by round 2); 3's ONLY edge
    // has weight 0 (fromDenseWeighted can carry such weights) — 3 must keep
    // its own label, not adopt 0 via the min-label tie-break against a
    // zero-weight neighbor vote tying the w=0 self-vote
    import graft.model.Edge
    val g = LinkGraph.fromDenseWeighted(
      spark,
      Seq(Edge(0L, 1L, 1.0), Edge(1L, 2L, 1.0), Edge(2L, 0L, 1.0), Edge(0L, 3L, 0.0)).toDS(),
      numVertices = 4L,
      numBlocks = 2)
    val labels = LabelPropagation.run(g, iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(0L) == 0L && labels(1L) == 0L && labels(2L) == 0L)
    assert(labels(3L) == 3L, s"zero-weight neighbor must not relabel an isolated vertex: $labels")
    g.unpersistAll()
  }

  test("LPA is deterministic: same labels on repeated runs") {
    val edges = DenseReference.randomEdges(40, 0.1, seed = 11).map(e => (e._1.toLong, e._2.toLong))
    val g = graphOf(edges)
    def run() = LabelPropagation.run(g, 5).collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    assert(run() == run())
    g.unpersistAll()
  }

  test("CC driver-resident regime matches the star-contraction labels exactly") {
    val edges = DenseReference.randomEdges(120, 0.02, seed = 23).map(e => (e._1.toLong, e._2.toLong))
    val g = graphOf(edges)
    def labelsOf(g: LinkGraph) =
      ConnectedComponents.run(g).collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val resident = labelsOf(g) // default plan: resident at this size
    val distributed = labelsOf(g.withResidency(distributedPlan))
    assert(resident == distributed)
    g.unpersistAll()
  }

  test("triangle driver-resident regime matches the distributed self-join exactly") {
    val edges = DenseReference.randomEdges(120, 0.06, seed = 41).map(e => (e._1.toLong, e._2.toLong))
    val g = graphOf(edges)
    def triOf(g: LinkGraph) = TriangleCount.perVertexTriangles(g)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    def ccOf(g: LinkGraph) = TriangleCount.clusteringCoefficients(g)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    val (triRes, ccRes) = (triOf(g), ccOf(g)) // default plan: resident at this size
    val d = g.withResidency(distributedPlan)
    assert(triRes == triOf(d))
    assert(ccRes == ccOf(d)) // exact incl. the double coeff: identical op sequence
    g.unpersistAll()
  }

  test("driver-resident build finish produces the identical graph") {
    val rng = new scala.util.Random(47)
    // sparse external ids (gaps + duplicates) exercise dictionary compaction
    val edges = Seq.fill(400)((rng.nextInt(5000).toLong * 7, rng.nextInt(5000).toLong * 7))
    def build(r: Residency) = LinkGraph.fromEdgeList(spark, edges.toDF("src", "dst"), residency = r)
    val a = build(Residency.Default) // resident fold (the whole build on the driver)
    val b = build(distributedPlan) // distributed fold AND dictionary: the full cluster build
    assert(a.numVertices == b.numVertices && a.numBlocks == b.numBlocks)
    def dictOf(g: LinkGraph) =
      g.vertexDict.collect().map(m => (m.extId, m.vid)).sortBy(_._1).toSeq
    def edgesOf(g: LinkGraph) =
      g.edges.collect().map(e => (e.src, e.dst, e.weight)).sorted.toSeq
    assert(dictOf(a) == dictOf(b))
    assert(edgesOf(a) == edgesOf(b))
    // ranks bit-identical through the whole downstream pipeline (b's
    // post-build operators re-planned resident, like a's)
    val bResident = b.withResidency(Residency.Default)
    val ra = PageRank.run(a, tolerance = 0.0, maxIterations = 6)
    val rb = PageRank.run(bResident, tolerance = 0.0, maxIterations = 6)
    val va = ra.toVertexDf(a).collect().map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1)
    val vb = rb.toVertexDf(bResident).collect().map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1)
    assert(va.toSeq == vb.toSeq)
    ra.free(); rb.free(); a.unpersistAll(); b.unpersistAll(); bResident.unpersistAll()
  }

  test("driver-assembled adjacency parts match the cluster build bit-for-bit") {
    val edges = DenseReference.randomEdges(150, 0.05, seed = 53).map(e => (e._1.toLong, e._2.toLong))
    def partsOf(g: LinkGraph) = g.adjParts.collect()
      .map(p => (p.blockId, p.partId, p.keys.toSeq, p.offsets.toSeq, p.adj.toSeq, p.wNorm.toSeq))
      .sortBy(t => (t._1, t._2)).toSeq
    def ranksOf(g: LinkGraph) = {
      val out = PageRank.run(g, tolerance = 0.0, maxIterations = 6)
      val v = out.toVertexDf(g).collect().map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1).toSeq
      out.free(); v
    }
    val a = graphOf(edges) // default plan: driver-assembled
    val (pa, va) = (partsOf(a), ranksOf(a))
    // room for the rank vector (n·8 B) but not for the adjacency (e·16 B):
    // cluster-built parts under the same resident-regime kernel
    val b = a.withResidency(Residency(driverBytes = a.numVertices * 8 + 1))
    val (pb, vb) = (partsOf(b), ranksOf(b))
    b.unpersistAll()
    assert(pb == pa) // identical keys/offsets/adjacency AND wNorm doubles
    assert(vb == va)
    a.unpersistAll()
  }

  test("unpersistAll destroys the broadcasts behind driver-assembled adjacency") {
    val g = graphOf(islands)
    g.adjParts.count()
    g.gatherPartsRdd.count()
    val held = g.laidOutBroadcasts.toList
    assert(held.size == 2) // one per orientation
    held.foreach(b => assert(b.value != null))
    g.unpersistAll()
    held.foreach(b => intercept[org.apache.spark.SparkException](b.value))
    assert(g.laidOutBroadcasts.isEmpty)
  }

  test("driver-resident degree table matches the join build exactly") {
    val edges = DenseReference.randomEdges(140, 0.05, seed = 61).map(e => (e._1.toLong, e._2.toLong))
    def rowsAndAgg(g: LinkGraph) = {
      val t = g.degreeTable
      val rows = t.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(_._1).toSeq
      // a DOUBLE aggregation (order-sensitive): identical partition layout ⇒
      // identical partial sums ⇒ exact equality, not just closeness
      val agg = t.agg(
        org.apache.spark.sql.functions.avg(
          t("outDeg") / (t("inDeg") + org.apache.spark.sql.functions.lit(1e-10))))
        .first().getDouble(0)
      (rows, agg)
    }
    val a = graphOf(edges)
    val (ra, aa) = rowsAndAgg(a) // default plan: resident
    // the join build over the SAME dictionary: its partition layout decides
    // the double aggregation's partial sums
    val b = a.withResidency(distributedPlan)
    val (rb, ab) = rowsAndAgg(b)
    b.unpersistAll()
    a.unpersistAll()
    assert(ra == rb)
    assert(aa == ab)
  }

  test("LPA driver-resident regime matches the distributed supersteps exactly") {
    val edges = DenseReference.randomEdges(60, 0.08, seed = 31).map(e => (e._1.toLong, e._2.toLong))
    val g = graphOf(edges)
    def labelsOf(g: LinkGraph) =
      LabelPropagation.run(g, 4).collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val resident = labelsOf(g)
    val distributed = labelsOf(g.withResidency(distributedPlan))
    assert(resident == distributed)
    g.unpersistAll()
  }
}
