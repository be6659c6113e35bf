package graft.graph

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model._

/** A fully prepared link graph: compacted ids, duplicate-folded weighted edges,
  * degree tables, and the partitioned destination-block adjacency used by the
  * superstep kernel.
  *
  * @param vertexDict  (extId, vid) dictionary; vid dense 0..n-1 ascending by extId
  *                    (reference: `enumerate(np.unique(edges))`, pagerank.py:622-627)
  * @param edges       folded edges in vid space; weight = duplicate multiplicity
  *                    (csc_matrix duplicate-summing, pagerank.py:638-640)
  * @param inDegrees   (vid, cIn)  weighted in-degree  = column sums, pagerank.py:170
  * @param outDegrees  (vid, cOut) weighted out-degree = row sums,    pagerank.py:445
  * @param residency   which operators run on the driver (see [[Residency]])
  */
final class LinkGraph(
    val spark: SparkSession,
    val vertexDict: Dataset[VertexMapping],
    val edges: Dataset[Edge],
    val numVertices: Long,
    val numBlocks: Int,
    val blockSize: Long,
    private[graft] val knownNumEdges: Long = -1L,
    val residency: Residency = Residency.Default
) extends Serializable {
  import spark.implicits._

  private[graft] def resident(op: Residency.Op): Boolean = residency.resident(op, numVertices, numEdges)

  /** Bench/restore hooks: a pre-assembled blocked adjacency (e.g. read back
    * from parquet written by a prior process) replaces the fold+sort+assemble
    * build inside [[adjPartsByBlock]] / [[gatherPartsRdd]]. The injected rows
    * must be the SAME AdjPart layout this graph's (numBlocks, blockSize)
    * would produce — [[LinkGraph.fromPrebuiltParts]] is the entry point.
    */
  @volatile private[graft] var prebuiltDstParts: Option[org.apache.spark.rdd.RDD[AdjPart]] = None
  @volatile private[graft] var prebuiltGatherParts: Option[org.apache.spark.rdd.RDD[AdjPart]] = None

  /** Stronger prebuilt hooks: parts that are ALREADY in the build's layout —
    * partition b = block b's parts in (blockId, partId) assembler order, with
    * [[blockPartitioner]]-compatible partitioning for the keyed variant.
    * Skips the restore's partitionBy + sort entirely (the parquet path
    * shuffled every adjacency byte once per leg); the supplier guarantees the
    * layout (see graft.tools.PartIO.readLaidOut).
    */
  @volatile private[graft] var prebuiltDstPartsLaidOut: Option[org.apache.spark.rdd.RDD[(Int, AdjPart)]] = None
  @volatile private[graft] var prebuiltGatherPartsLaidOut: Option[org.apache.spark.rdd.RDD[AdjPart]] = None

  lazy val numEdges: Long = if (knownNumEdges >= 0) knownNumEdges else edges.count()

  /** Folded edges collected ONCE for every driver-resident consumer (CC, LPA,
    * triangle counting, the resident parts assembler) — they each used to pay
    * their own collect of the same cached frame. Lazy: only consumers the
    * residency plan keeps on the driver touch it. A build path that already
    * holds the array (or a [[withResidency]] view) replaces the collect.
    */
  @transient @volatile private var edgesLocalSource: Option[() => Array[Edge]] = None
  lazy val edgesLocal: Array[Edge] =
    edgesLocalSource match { case Some(source) => source(); case None => edges.collect() }

  /** This graph's dictionary, edges and [[edgesLocal]] under another plan:
    * only operators that run after the build (layouts onward) are re-planned.
    */
  private[graft] def withResidency(r: Residency): LinkGraph = {
    val v = new LinkGraph(spark, vertexDict, edges, numVertices, numBlocks, blockSize, numEdges, r)
    v.edgesLocalSource = Some(() => edgesLocal)
    v
  }

  /** True when the blocked adjacency can be ASSEMBLED on the driver: no
    * prebuilt injection, and the residency plan keeps assembly resident.
    * The driver assembly is bit-identical to [[buildParts]] (same wNorm from
    * the same distributed inDegrees cache, same total sort order, same
    * assembler) — see [[assembleLocal]].
    */
  private def residentAssembleOk: Boolean =
    prebuiltDstParts.isEmpty && prebuiltGatherParts.isEmpty &&
      prebuiltDstPartsLaidOut.isEmpty && prebuiltGatherPartsLaidOut.isEmpty &&
      resident(Residency.Op.Assembly)

  /** Driver twin of [[buildParts]]. deg comes from a collect of the SAME
    * distributed inDegrees cache (so wNorm is the identical IEEE division on
    * identical deg values for ANY weights); rows are sorted by (key, other) —
    * blockId = key/blockSize is monotone in key, so this is the identical
    * total order the per-block sortWithinPartitions produces — and fed to the
    * same streaming assembler. Caveat: duplicate (src, dst) rows (possible
    * only through fromDenseWeighted's caller) have an undefined relative
    * order in BOTH paths; every fold-built graph is duplicate-free.
    */
  private def assembleLocal(dstMajor: Boolean): Array[AdjPart] = {
    val degRows = inDegrees.select($"vid", $"deg").as[(Long, Double)].collect()
    val degMap = new java.util.HashMap[Long, java.lang.Double](degRows.length * 2)
    degRows.foreach { case (vid, deg) => degMap.put(vid, deg) }
    val es = edgesLocal
    val m = es.length
    // primitive dual-array sort: (key, other) packed into one long (vids are
    // dense < 2³¹ under the residentAssembleOk gate) with wNorm carried
    // alongside — an object sort of millions of Edge rows cost ~1.5 s per
    // orientation at the 2M-edge repo graph, ~10× this
    val packed = new Array[Long](m)
    val wn = new Array[Double](m)
    var i = 0
    while (i < m) {
      val e = es(i)
      val key = if (dstMajor) e.dst else e.src
      val other = if (dstMajor) e.src else e.dst
      packed(i) = (key << 32) | other
      wn(i) = e.weight / degMap.get(e.dst).doubleValue()
      i += 1
    }
    LinkGraph.dualSort(packed, wn, 0, m - 1)
    val bs = blockSize
    val it = Iterator.range(0, m).map { j =>
      val key = packed(j) >>> 32
      val other = packed(j) & 0xffffffffL
      (key, other, wn(j), (key / bs).toInt)
    }
    new AdjPartAssembler(it, bs, LinkGraph.MaxEdgesPerPart).toArray
  }

  /** Broadcasts behind [[laidOutRdd]]s, destroyed by [[unpersistAll]]. */
  @transient private[graft] val laidOutBroadcasts =
    scala.collection.mutable.ArrayBuffer.empty[Broadcast[Array[Array[AdjPart]]]]

  /** Distribute driver-assembled parts in the build's exact layout: partition
    * b = block b's parts in assembler order (the data rides a broadcast; the
    * establishing shuffle moves numBlocks ints).
    */
  private def laidOutRdd(parts: Array[AdjPart]): org.apache.spark.rdd.RDD[AdjPart] = {
    val nb = numBlocks
    val byBlock = Array.fill(nb)(scala.collection.mutable.ArrayBuffer.empty[AdjPart])
    parts.foreach(p => byBlock(p.blockId) += p)
    val grouped: Array[Array[AdjPart]] = byBlock.map(_.toArray)
    val b = spark.sparkContext.broadcast(grouped)
    laidOutBroadcasts.synchronized { laidOutBroadcasts += b }
    spark.sparkContext
      .parallelize(0 until nb, nb)
      .map(i => (i, i))
      .partitionBy(blockPartitioner)
      .mapPartitions(
        it => it.flatMap { case (i, _) => b.value(i).iterator },
        preservesPartitioning = true)
  }

  /** Src-major parts assembled on the driver when the plan allows (shared by
    * [[gatherPartsLocal]] and [[gatherPartsRdd]]).
    */
  @transient private lazy val gatherAssembled: Option[Array[AdjPart]] =
    if (residentAssembleOk) Some(assembleLocal(dstMajor = false)) else None

  /** Weighted in-degree c[j] (the kernel's normalizer). Vertices absent here have
    * c = 0 and contribute nothing — the reference's zero-guard `where(c!=0,c,1)`
    * (pagerank.py:173-174) exists only to avoid a 0-division on all-zero columns.
    */
  @volatile private var inDegreesBuilt = false
  lazy val inDegrees: DataFrame = {
    val d = edges.groupBy($"dst".as("vid")).agg(sum($"weight").as("deg"))
    d.persist(StorageLevel.MEMORY_AND_DISK); d.count(); inDegreesBuilt = true; d
  }

  lazy val outDegrees: DataFrame =
    edges.groupBy($"src".as("vid")).agg(sum($"weight").as("deg"))

  /** Full per-vertex degree table (zero-filled). Columns: vid, inDeg, outDeg.
    *
    * Driver-resident regime: when the plan keeps the degree table resident AND
    * every weight is a (magnitude-bounded) integer, the degree sums are exact
    * in any order, so one driver pass over [[edgesLocal]] replaces the
    * two-broadcast-join build. Rows are emitted vid-ascending in the SAME
    * even parallelize slices the dictionary uses — the identical partition
    * layout the join build produced (broadcast joins preserve the streamed
    * dict's rows) — so even downstream DOUBLE aggregations (e.g. the
    * imbalance-ratio mean) see the identical per-partition sequences.
    * Fractional weights take the join path: their sums are order-sensitive.
    */
  @volatile private var degreeTableBuilt = false
  lazy val degreeTable: DataFrame = {
    val t =
      if (residentDegreesOk) residentDegreeTable()
      else
        vertexDict
          .join(inDegrees.withColumnRenamed("deg", "inDeg"), Seq("vid"), "left")
          .join(
            outDegrees.withColumnRenamed("deg", "outDeg").withColumnRenamed("vid", "vid"),
            Seq("vid"),
            "left")
          .select(
            $"vid",
            $"extId",
            coalesce($"inDeg", lit(0.0)).as("inDeg"),
            coalesce($"outDeg", lit(0.0)).as("outDeg"))
    t.persist(StorageLevel.MEMORY_AND_DISK)
    degreeTableBuilt = true
    t
  }

  private def residentDegreesOk: Boolean =
    resident(Residency.Op.DegreeTable) &&
      numEdges <= (1L << 21) && // with |w| ≤ 2³¹: Σ|w| ≤ 2⁵² — exact in double
      edgesLocal.forall(e =>
        e.weight == math.rint(e.weight) && math.abs(e.weight) <= (1L << 31).toDouble)

  private def residentDegreeTable(): DataFrame = {
    val n = numVertices.toInt
    val inD = new Array[Double](n)
    val outD = new Array[Double](n)
    edgesLocal.foreach { e =>
      inD(e.dst.toInt) += e.weight
      outD(e.src.toInt) += e.weight
    }
    val ext = new Array[Long](n)
    vertexDict.collect().foreach(m => ext(m.vid.toInt) = m.extId)
    val rows = new Array[(Long, Long, Double, Double)](n)
    var i = 0
    while (i < n) { rows(i) = (i.toLong, ext(i), inD(i), outD(i)); i += 1 }
    val p = math.max(1, spark.sparkContext.defaultParallelism)
    spark
      .createDataset(spark.sparkContext.parallelize(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(rows), p))
      .toDF("vid", "extId", "inDeg", "outDeg")
  }

  /** Blocked adjacency with precomputed wNorm = w / c[dst] (D hoisted out of
    * the loop exactly like pagerank.py:173-174) — the one-time sparse-build
    * analog of pagerank.py:638-640, cached and reused by every superstep.
    * Key column selects the orientation: dst-major (scatter, distributed
    * regime) or src-major (gather, vector-resident regime).
    */
  private def buildParts(keyCol: String, otherCol: String): Dataset[AdjPart] = {
    val bs = blockSize
    val maxEdgesPerPart = LinkGraph.MaxEdgesPerPart
    val withNorm = edges
      .join(inDegrees.withColumnRenamed("vid", "dst"), Seq("dst"))
      .select(
        col(keyCol).as("key"),
        col(otherCol).as("other"),
        ($"weight" / $"deg").as("wNorm"),
        (col(keyCol) / lit(bs)).cast("int").as("blockId"))
    withNorm
      .repartition(numBlocks, $"blockId")
      .sortWithinPartitions($"blockId", $"key", $"other")
      .select($"key", $"other", $"wNorm", $"blockId")
      .as[(Long, Long, Double, Int)]
      .mapPartitions { it =>
        new AdjPartAssembler(it, bs, maxEdgesPerPart)
      }
  }

  /** dst-major (CSC-like) parts: keys = dst slots, adj = srcs. Columnar cache
    * (general-purpose; the distributed superstep uses [[adjPartsByBlock]]).
    */
  @volatile private var adjPartsBuilt = false
  lazy val adjParts: Dataset[AdjPart] = {
    if (residentAssembleOk) {
      // broadcast-backed: every consumption is a flatMap over the broadcast —
      // cheaper than encoding millions of array-rows into a columnar cache
      // that is only ever counted or written once
      val ds = spark.createDataset(laidOutRdd(assembleLocal(dstMajor = true)))
      ds.count()
      ds
    } else {
      val cached = buildParts("dst", "src").persist(StorageLevel.MEMORY_AND_DISK)
      cached.count()
      adjPartsBuilt = true
      cached
    }
  }

  /** Identity partitioner for vertex blocks: blockId b → partition b.
    * (HashPartitioner on non-negative Int keys is the identity mod numBlocks,
    * and blockIds are 0..numBlocks-1.)
    */
  def blockPartitioner: org.apache.spark.HashPartitioner =
    new org.apache.spark.HashPartitioner(numBlocks)

  /** dst-major parts CO-PARTITIONED by blockId: partition b holds exactly the
    * parts of block b, cached DESERIALIZED once. The distributed superstep
    * zipPartitions this against identically-laid-out rank chunks, so the
    * adjacency NEVER moves after this one build-time shuffle — only the
    * O(n)-sized rank/contribution chunks cross the wire each superstep.
    * (Round-1 regression: joining the cached `adjParts` Dataset per superstep
    * erased its partitioning through MapPartitions and the planner broadcast /
    * sort-merged the whole adjacency every iteration.)
    */
  @volatile private var adjPartsByBlockBuilt = false
  lazy val adjPartsByBlock: org.apache.spark.rdd.RDD[(Int, AdjPart)] = {
    val rdd = prebuiltDstPartsLaidOut
      .getOrElse {
        val base = prebuiltDstParts.getOrElse(buildParts("dst", "src").rdd)
        base
          .map(p => (p.blockId, p))
          .partitionBy(blockPartitioner)
          // prebuilt parts arrive in parquet-split order; restore the assembler's
          // (blockId, partId) order so the scatter-add summation order — and hence
          // every contribution slab's VALUES — matches a directly-built graph
          // (ranks then agree to the accumulator-merge-order ulp; see the
          // roundtrip test in ResumeAndSourcesSpec)
          .mapPartitions(
            it => it.toArray.sortBy(t => (t._2.blockId, t._2.partId)).iterator,
            preservesPartitioning = true)
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count()
    adjPartsByBlockBuilt = true
    rdd
  }

  /** Lay a chunk RDD out on [[blockPartitioner]]: partition b = block b's
    * single chunk. All per-superstep transforms are partition-local, so the
    * layout survives the whole loop without further shuffles.
    */
  def toBlockLayout(ds: Dataset[RankChunk]): org.apache.spark.rdd.RDD[RankChunk] =
    ds.rdd.map(c => (c.blockId, c)).partitionBy(blockPartitioner).values

  /** src-major (CSR-like) parts: keys = src slots, adj = dsts — persisted as a
    * DESERIALIZED object RDD: the resident-regime kernel scans it every
    * superstep, and re-inflating 16B/edge arrays from a columnar cache each
    * iteration costs hundreds of MB of allocation + GC per superstep.
    */
  @volatile private var gatherPartsBuilt = false
  lazy val gatherPartsRdd: org.apache.spark.rdd.RDD[AdjPart] = {
    val base = prebuiltGatherPartsLaidOut.getOrElse(prebuiltGatherParts match {
      case None if gatherAssembled.isDefined => laidOutRdd(gatherAssembled.get)
      case Some(pre) =>
        // restore the direct build's layout: partition b = block b's parts in
        // assembler order (parquet splits neither partition nor order them)
        pre.map(p => (p.blockId, p))
          .partitionBy(blockPartitioner)
          .mapPartitions(it => it.toArray.sortBy(t => (t._2.blockId, t._2.partId)).iterator)
          .map(_._2)
      case None => buildParts("src", "dst").rdd
    })
    val rdd = base.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count()
    gatherPartsBuilt = true
    rdd
  }

  /** Src-major parts COLLECTED to the driver once (the driver-local kernel's
    * input, when the plan keeps the local gather resident): collect order equals
    * [[gatherPartsRdd]]'s partition order, so a driver loop that accumulates
    * per-part slices in array order reproduces the cluster path's gx sums
    * bit-for-bit. The parts carry the SAME wNorm values the distributed
    * pipeline computed — only the per-superstep execution moves.
    */
  lazy val gatherPartsLocal: Array[AdjPart] =
    gatherAssembled.getOrElse(gatherPartsRdd.collect())

  def blockOf(vid: Long): Int = (vid / blockSize).toInt

  /** Uniform initial rank chunks x = 1/n (pagerank.py:180). */
  def uniformChunks(): Dataset[RankChunk] = constantChunks(1.0 / numVertices)

  def constantChunks(v: Double): Dataset[RankChunk] = {
    val n = numVertices
    val bs = blockSize
    spark
      .range(numBlocks)
      .as[Long]
      .map { b =>
        val lo = b * bs
        val len = math.min(bs, n - lo).toInt
        RankChunk(b.toInt, lo, Array.fill(len)(v))
      }
  }

  /** Chunked form of an arbitrary per-vertex vector (vid, value); missing vids
    * get `default`.
    */
  def chunksOf(vec: DataFrame, default: Double = 0.0): Dataset[RankChunk] = {
    val n = numVertices
    val bs = blockSize
    val nb = numBlocks
    // ONE shuffle: rows route straight to their block's partition (the
    // HashPartitioner is the identity on blockIds 0..nb-1) and each partition
    // fills its dense chunk directly — empty partitions still emit a default
    // chunk, so no second union+reduce pass over the chunk arrays is needed
    // (the previous groupByKey → union(defaults) → reduceGroups shape paid a
    // second O(n)-byte shuffle and a merge pass per call; this is the fused
    // outer-join flagged in the round-5 review). Values are identical: a slot
    // is `v` when (vid, v) exists, `default` otherwise — the old merge
    // computed v + default − default.
    val rdd = vec
      .select($"vid".cast("long"), $"value".cast("double"))
      .as[(Long, Double)]
      .rdd
      .map { case (vid, v) => ((vid / bs).toInt, (vid, v)) }
      .partitionBy(blockPartitioner)
      .mapPartitionsWithIndex { (blockId, it) =>
        val lo = blockId.toLong * bs
        val len = math.min(bs, n - lo).toInt
        val arr = Array.fill(len)(default)
        it.foreach { case (_, (vid, v)) => arr((vid - lo).toInt) = v }
        Iterator.single(RankChunk(blockId, lo, arr))
      }
    spark.createDataset(rdd)
  }

  /** Explode chunks back to a (vid, value) DataFrame. */
  def chunksToVertexDf(chunks: Dataset[RankChunk]): DataFrame =
    chunks
      .flatMap { c => c.values.iterator.zipWithIndex.map { case (v, i) => (c.loVid + i, v) } }
      .toDF("vid", "value")

  /** Edges of the induced subgraph on an arbitrary vertex subset — a
    * left-semi join on each endpoint, so the (potentially huge) edge table
    * streams once against the membership set and no edge payload is joined
    * in (reference: boolean row/col masking, visualizations.py:110).
    */
  def inducedSubgraphEdges(vids: DataFrame): Dataset[Edge] = {
    val members = vids.select($"vid".cast("long").as("__m"))
    edges
      .join(members, $"src" === $"__m", "left_semi")
      .join(members, $"dst" === $"__m", "left_semi")
      .as[Edge]
  }

  /** Induced prefix subgraph G[:k,:k] in dense vid space — all k vertices
    * kept, isolated ones included, exactly the reference's dense slice
    * (original_pagerank/pagerank.py:185). Because vids are assigned ascending
    * by extId, the prefix is equivalently "the k smallest external ids".
    */
  def inducedPrefix(k: Long): LinkGraph = {
    val kk = math.min(k, numVertices)
    LinkGraph.fromDenseWeighted(
      spark, edges.filter($"src" < kk && $"dst" < kk), kk, residency = residency)
  }

  /** Release every cache this graph MATERIALIZED. Each lazy layout checks its
    * built flag first — unconditionally touching the lazy vals used to FORCE
    * a full build of layouts the caller never used (e.g. a resident-regime
    * run paid for the dst-major columnar build inside its own teardown).
    * Driver-assembled adjacency is released by destroying its broadcasts.
    */
  def unpersistAll(): Unit = {
    laidOutBroadcasts.synchronized {
      laidOutBroadcasts.foreach(_.destroy())
      laidOutBroadcasts.clear()
    }
    if (adjPartsBuilt) adjParts.unpersist()
    if (adjPartsByBlockBuilt) adjPartsByBlock.unpersist(false)
    if (gatherPartsBuilt) gatherPartsRdd.unpersist()
    if (inDegreesBuilt) inDegrees.unpersist()
    if (degreeTableBuilt) degreeTable.unpersist()
    edges.unpersist()
    vertexDict.unpersist()
  }
}

/** Streaming assembler: turns (key, other, wNorm, blockId) rows sorted by
  * (blockId, key, other) into AdjPart rows without materializing a whole
  * partition, splitting parts at maxEdgesPerPart (skew salting).
  */
private final class AdjPartAssembler(
    it: Iterator[(Long, Long, Double, Int)],
    blockSize: Long,
    maxEdgesPerPart: Int
) extends Iterator[AdjPart] {
  private val in = it.buffered
  private val partSeq = scala.collection.mutable.Map.empty[Int, Int]

  override def hasNext: Boolean = in.hasNext

  override def next(): AdjPart = {
    val blockId = in.head._4
    val lo = blockId.toLong * blockSize
    val keys = new scala.collection.mutable.ArrayBuffer[Int]
    val offsets = new scala.collection.mutable.ArrayBuffer[Int]
    val adj = new scala.collection.mutable.ArrayBuffer[Long]
    val wNorm = new scala.collection.mutable.ArrayBuffer[Double]
    var lastKey = -1L
    offsets += 0
    var n = 0
    while (in.hasNext && in.head._4 == blockId && n < maxEdgesPerPart) {
      val (key, other, w, _) = in.next()
      if (key != lastKey) {
        if (lastKey >= 0) offsets += adj.length
        keys += (key - lo).toInt
        lastKey = key
      }
      adj += other
      wNorm += w
      n += 1
    }
    offsets += adj.length
    val seq = partSeq.getOrElse(blockId, 0)
    partSeq(blockId) = seq + 1
    AdjPart(blockId, seq, keys.toArray, offsets.toArray, adj.toArray, wNorm.toArray)
  }
}

object LinkGraph {
  /** Cap on edges per adjacency part — bounds single-task work under skew. */
  val MaxEdgesPerPart: Int = 2 << 20

  /** Default budgets, reported by the benchmark, read by no engine code. */
  val ResidentBuildBytes: Long = Residency.Default.driverBytes
  val ResidentAssembleBytes: Long = Residency.Default.driverBytes
  val ResidentFoldRows: Long = Residency.Default.foldProbeRows

  /** Quicksort `keys` ascending, permuting `vals` alongside (median-of-three
    * pivot, insertion sort below 32). Deterministic for a given input order;
    * ties (duplicate keys) keep an arbitrary relative order, exactly like the
    * cluster sort they replace.
    */
  private[graph] def dualSort(keys: Array[Long], vals: Array[Double], lo0: Int, hi0: Int): Unit = {
    def swap(a: Int, b: Int): Unit = {
      val k = keys(a); keys(a) = keys(b); keys(b) = k
      val v = vals(a); vals(a) = vals(b); vals(b) = v
    }
    def sort(lo: Int, hi: Int): Unit =
      if (hi - lo < 32) {
        var i = lo + 1
        while (i <= hi) {
          val k = keys(i); val v = vals(i)
          var j = i - 1
          while (j >= lo && keys(j) > k) { keys(j + 1) = keys(j); vals(j + 1) = vals(j); j -= 1 }
          keys(j + 1) = k; vals(j + 1) = v
          i += 1
        }
      } else {
        val mid = (lo + hi) >>> 1
        if (keys(mid) < keys(lo)) swap(mid, lo)
        if (keys(hi) < keys(lo)) swap(hi, lo)
        if (keys(hi) < keys(mid)) swap(hi, mid)
        val pivot = keys(mid)
        var i = lo
        var j = hi
        while (i <= j) {
          while (keys(i) < pivot) i += 1
          while (keys(j) > pivot) j -= 1
          if (i <= j) { swap(i, j); i += 1; j -= 1 }
        }
        if (lo < j) sort(lo, j)
        if (i < hi) sort(i, hi)
      }
    if (lo0 < hi0) sort(lo0, hi0)
  }

  /** Edge-budget target per block for the auto block count. */
  private val TargetEdgesPerBlock: Long = 64L * 1024

  /** Auto block count: superstep work is EDGE-dominated, so sizing blocks by
    * vertex count alone starved small-but-dense graphs (the 2000-repo
    * shared-pattern graph has 2.1M folded edges — n/1024 gave it ONE block,
    * i.e. serial supersteps on 32 cores). Blocks now also scale with the
    * folded edge count (cheap: the build holds the folded frame cached),
    * capped at 2× parallelism; at cluster scale this is the knob that keeps
    * per-task gather work bounded regardless of the vertex/edge ratio.
    */
  private def autoBlocks(spark: SparkSession, n: Long, edges: Long): Int =
    math.max(1, math.min(
      spark.sparkContext.defaultParallelism * 2L,
      math.max(math.max(1L, n / 1024L), edges / TargetEdgesPerBlock)).toInt)

  /** Vertex-id sizing policy (SURVEY §1.3): the shared-patterns project
    * compacts ids to 0..n−1 over the OBSERVED vertices (pagerank.py:622-627);
    * the original solver project sizes the graph dense by the MAX id,
    * n = max(id)+1, so unreferenced ids below the max exist as isolated
    * vertices and receive teleport-only mass
    * (original_pagerank/pagerank.py:161).
    */
  sealed trait IdMode
  object IdMode {
    case object Compacted extends IdMode
    case object DenseByMax extends IdMode
  }

  /** Fold duplicates, build the dictionary, remap to dense vids, and block the
    * adjacency. `rawEdges` must have long columns `src`, `dst` (external ids);
    * duplicates are summed, weight columns beyond (src,dst) are ignored —
    * exactly load_graph (pagerank.py:617-640). `idMode` selects compacted
    * (default, reference shared-patterns behavior) or dense-by-max vertex
    * numbering (the original solver's `n = max(id)+1`; ids must be ≥ 0 and
    * vid = extId, no remap join at all).
    */
  def fromEdgeList(
      spark: SparkSession,
      rawEdges: DataFrame,
      numBlocks: Int = 0,
      idMode: IdMode = IdMode.Compacted,
      residency: Residency = Residency.Default
  ): LinkGraph = {
    import spark.implicits._
    if (idMode == IdMode.Compacted && residency.foldProbeRows > 0) {
      // Resident-fold probe (guide §1.2 step 1): ONE incremental limit-collect
      // of the raw pairs replaces the fold aggregation, the dictionary
      // distinct, and the two remap joins — three whole plan shapes whose
      // cold Catalyst/Janino time dominated the contract-scale build. Under
      // the cap the collect is the COMPLETE pair multiset (set-complete
      // regardless of which partitions filled the limit first; fold counts
      // are order-insensitive integers). Over the cap, CollectLimit stops
      // after a handful of partitions (executeTake grows 1, 2, 4, … tasks),
      // so a 100 TB caller pays one cheap probe and takes the distributed
      // pipeline unchanged.
      val cap = math.min(residency.foldProbeRows, Int.MaxValue.toLong - 2).toInt
      val probe = rawEdges
        .select($"src".cast("long"), $"dst".cast("long"))
        .limit(cap + 1)
        .as[(Long, Long)]
        .collect()
      if (residency.foldResident(probe.length)) return residentFromPairs(spark, probe, numBlocks, residency)
    }
    fromFoldedEdgeList(
      spark,
      rawEdges
        .select($"src".cast("long"), $"dst".cast("long"))
        .groupBy($"src", $"dst")
        .agg(count(lit(1)).cast("double").as("weight")),
      numBlocks,
      idMode,
      residency)
  }

  /** Driver fold + dictionary + remap of a collected raw pair multiset —
    * value-identical to the distributed build: fold weights are duplicate
    * counts (exact integers, order-insensitive), vids are the ascending
    * sort rank of the distinct external ids, and the remapped edges are
    * parallelized back in a deterministic (src, dst) vid-sorted order.
    */
  private def residentFromPairs(
      spark: SparkSession,
      pairs: Array[(Long, Long)],
      numBlocks: Int,
      residency: Residency
  ): LinkGraph = {
    import spark.implicits._
    val counts = new java.util.HashMap[(Long, Long), Array[Long]](pairs.length * 2)
    pairs.foreach { p =>
      val c = counts.get(p)
      if (c == null) counts.put(p, Array(1L)) else c(0) += 1
    }
    val m = counts.size()
    // dictionary: ascending distinct external ids
    val idSet = new java.util.HashSet[java.lang.Long](m * 2)
    pairs.foreach { case (s, d) => idSet.add(s); idSet.add(d); () }
    val ids = new Array[Long](idSet.size())
    var i = 0
    val idIt = idSet.iterator()
    while (idIt.hasNext) { ids(i) = idIt.next().longValue(); i += 1 }
    java.util.Arrays.sort(ids)
    val n = ids.length
    val vidOf = new java.util.HashMap[Long, Long](n * 2)
    val mappings = new Array[VertexMapping](n)
    i = 0
    while (i < n) {
      vidOf.put(ids(i), i.toLong)
      mappings(i) = VertexMapping(ids(i), i.toLong)
      i += 1
    }
    // remap + deterministic (src, dst) vid order via the primitive dual sort
    val packed = new Array[Long](m)
    val w = new Array[Double](m)
    i = 0
    val entryIt = counts.entrySet().iterator()
    while (entryIt.hasNext) {
      val e = entryIt.next()
      val sv = vidOf.get(e.getKey._1)
      val dv = vidOf.get(e.getKey._2)
      packed(i) = (sv << 32) | dv // vids dense < 2³¹
      w(i) = e.getValue()(0).toDouble
      i += 1
    }
    dualSort(packed, w, 0, m - 1)
    val remapped = new Array[Edge](m)
    i = 0
    while (i < m) {
      remapped(i) = Edge(packed(i) >>> 32, packed(i) & 0xffffffffL, w(i))
      i += 1
    }
    val p = math.max(1, spark.sparkContext.defaultParallelism)
    val dict = spark.createDataset(spark.sparkContext.parallelize(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(mappings), p))
    dict.persist(StorageLevel.MEMORY_AND_DISK)
    dict.count()
    val edges = spark.createDataset(spark.sparkContext.parallelize(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(remapped), p))
      .persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    val blocks = if (numBlocks > 0) numBlocks else autoBlocks(spark, n, m)
    val bs = (n + blocks - 1) / math.max(blocks, 1)
    val g = new LinkGraph(spark, dict, edges, n, blocks, math.max(bs, 1), m, residency)
    g.edgesLocalSource = Some(() => remapped) // the resident consumers' copy, no collect
    g
  }

  /** [[fromEdgeList]] for a caller that already folded duplicates into
    * (src, dst, weight) — e.g. a symmetric pair generator that folds each
    * unordered pair once and mirrors it, halving the fold shuffle (see
    * [[graft.sources.RepoFiles.linkGraph]]). The weight column must carry
    * the duplicate multiplicities the internal fold would have produced.
    */
  def fromFoldedEdgeList(
      spark: SparkSession,
      foldedEdges: DataFrame,
      numBlocks: Int = 0,
      idMode: IdMode = IdMode.Compacted,
      residency: Residency = Residency.Default
  ): LinkGraph = {
    import spark.implicits._

    // The folded frame is consumed several times during the build (the
    // dictionary reads src and dst incidence separately; the remap reads it
    // again) — without this scoped cache, every consumer re-executed the
    // ENTIRE upstream plan (e.g. the orders⋈lineitem fold, or the repo-token
    // self-join) 3-4×. Released in the finally once the graph's own edge
    // cache is materialized.
    val folded = foldedEdges
      .select($"src".cast("long"), $"dst".cast("long"), $"weight".cast("double"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    try idMode match {
      case IdMode.DenseByMax =>
        val bounds = folded
          .agg(max(greatest($"src", $"dst")).as("mx"), min(least($"src", $"dst")).as("mn"))
          .first()
        require(!bounds.isNullAt(0), "dense-by-max graph needs at least one edge")
        require(bounds.getLong(1) >= 0L, "dense-by-max ids must be non-negative")
        val n = bounds.getLong(0) + 1
        val blocks = if (numBlocks > 0) numBlocks else autoBlocks(spark, n, folded.count())
        val g = fromDenseWeighted(spark, folded.as[Edge], n, blocks, residency)
        g.numEdges // materialize the graph's edge cache through `folded`
        g

      case IdMode.Compacted =>
        val foldedCount = folded.count() // materializes the scoped cache once
        val (dict, n) =
          // n ≤ 2·|E|: the dictionary's vertex count before it exists
          if (residency.resident(Residency.Op.Dictionary, 2 * foldedCount, foldedCount)) {
            // Driver-resident dictionary (guide §1.2 step 1: remove passes):
            // one partial-aggregated distinct job collects the ≤ 2·|E| ids
            // (the exchange carries only per-partition-distinct rows, never
            // the 2|E| incidence frame the global-sort path sorts), the sort
            // rank is assigned on the driver, and the n-row dictionary is
            // parallelized back. Pure id plumbing — no floating-point
            // arithmetic, so vid assignment (ascending-extId rank) and every
            // downstream value are identical to buildDictionary's.
            val idsArr = folded
              .select($"src")
              .union(folded.select($"dst"))
              .distinct()
              .as[Long]
              .collect()
            java.util.Arrays.sort(idsArr)
            val mappings = new Array[VertexMapping](idsArr.length)
            var i = 0
            while (i < idsArr.length) {
              mappings(i) = VertexMapping(idsArr(i), i.toLong); i += 1
            }
            val p = math.max(1, spark.sparkContext.defaultParallelism)
            val d = spark.createDataset(spark.sparkContext.parallelize(
              scala.collection.immutable.ArraySeq.unsafeWrapArray(mappings), p))
            d.persist(StorageLevel.MEMORY_AND_DISK)
            d.count()
            (d, idsArr.length.toLong)
          } else {
            val d = buildDictionary(spark, folded)
            (d, d.count()) // already persisted by buildDictionary
          }

        val srcDict = dict.toDF("extId", "vid")
        val remapped = folded
          .join(srcDict.withColumnRenamed("extId", "src").withColumnRenamed("vid", "srcVid"), Seq("src"))
          .join(srcDict.withColumnRenamed("extId", "dst").withColumnRenamed("vid", "dstVid"), Seq("dst"))
          .select($"srcVid".as("src"), $"dstVid".as("dst"), $"weight")
          .as[Edge]

        val blocks = if (numBlocks > 0) numBlocks else autoBlocks(spark, n, foldedCount)
        val bs = (n + blocks - 1) / math.max(blocks, 1)

        val edges = remapped.persist(StorageLevel.MEMORY_AND_DISK)
        // inner joins on a complete dictionary keep every folded row
        val g = new LinkGraph(spark, dict, edges, n, blocks, math.max(bs, 1), foldedCount, residency)
        edges.count() // materialize the edge cache while `folded` is still held
        g
    } finally folded.unpersist(false)
  }

  /** Same, but edges are already (src, dst, weight) in dense vid space 0..n-1.
    * Edges with weight ≤ 0 are dropped — "no edge" is this engine's semantic
    * for them everywhere (the column-normalized adjacency would divide by a
    * zero column sum, and LPA's weight-0 self-vote requires every surviving
    * neighbor vote to be strictly positive). fromEdgeList weights are fold
    * multiplicities ≥ 1, so only this entry point can see them.
    */
  def fromDenseWeighted(
      spark: SparkSession,
      edges: Dataset[Edge],
      numVertices: Long,
      numBlocks: Int = 0,
      residency: Residency = Residency.Default
  ): LinkGraph = {
    import spark.implicits._
    val dict = spark.range(numVertices).select($"id".as("extId"), $"id".as("vid")).as[VertexMapping]
    val positive = edges.filter(col("weight") > 0).as[Edge] // column filter: stays codegen'd
      .persist(StorageLevel.MEMORY_AND_DISK)
    // auto path routes through the same edge-aware autoBlocks as fromEdgeList:
    // the old vertex-only n/1024 fallback gave a small-but-dense graph (e.g. a
    // dense induced prefix subgraph) ONE block = serial supersteps. The count
    // materializes the persisted edge cache `numEdges` would count anyway —
    // and is passed through so numEdges never re-counts.
    val cnt = if (numBlocks > 0) -1L else positive.count()
    val blocks = if (numBlocks > 0) numBlocks else autoBlocks(spark, numVertices, cnt)
    val bs = (numVertices + blocks - 1) / math.max(blocks, 1)
    new LinkGraph(spark, dict, positive, numVertices, blocks, math.max(bs, 1), cnt, residency)
  }

  /** Graph whose blocked adjacency was PRE-ASSEMBLED by a prior process and
    * persisted (e.g. Dataset[AdjPart] parquet written by the bench prep, or a
    * checkpoint restore): vertex ids dense 0..n-1, geometry (numBlocks /
    * blockSize) must match what produced the parts. Skips the fold + sort +
    * assemble build entirely — the injected rows only pay the one co-location
    * shuffle inside adjPartsByBlock. The edge frame is intentionally absent
    * (callers of degree/edge analytics need a fully built graph); the folded
    * edge count is passed in so throughput accounting still works.
    */
  def fromPrebuiltParts(
      spark: SparkSession,
      numVertices: Long,
      numBlocks: Int,
      numEdges: Long,
      dstParts: Option[Dataset[AdjPart]] = None,
      gatherParts: Option[Dataset[AdjPart]] = None,
      residency: Residency = Residency.Default
  ): LinkGraph = {
    import spark.implicits._
    require(numBlocks > 0, "fromPrebuiltParts needs the geometry the parts were built with")
    val dict = spark.range(numVertices).select($"id".as("extId"), $"id".as("vid")).as[VertexMapping]
    val bs = (numVertices + numBlocks - 1) / numBlocks
    val g = new LinkGraph(spark, dict, spark.emptyDataset[Edge], numVertices, numBlocks,
      math.max(bs, 1), numEdges, residency)
    g.prebuiltDstParts = dstParts.map(_.rdd)
    g.prebuiltGatherParts = gatherParts.map(_.rdd)
    g
  }

  /** Deterministic compacted vertex dictionary: dense vids 0..n-1 in ascending
    * extId order — the distributed analog of `enumerate(np.unique(edges))`
    * (pagerank.py:622-627). Two-phase global-sort indexing: range-partition +
    * sort, count per partition, then offset per-partition row_numbers. Ids
    * depend only on the global sort order, so the assignment is deterministic
    * at any parallelism (SURVEY.md §7.3.5).
    */
  def buildDictionary(spark: SparkSession, folded: DataFrame): Dataset[VertexMapping] = {
    import spark.implicits._
    val ids = folded
      .select($"src".as("extId"))
      .union(folded.select($"dst".as("extId")))
    val p = math.max(1, spark.sparkContext.defaultParallelism)
    // Global-sort indexing via zipWithIndex: range-partition + sort gives the
    // ascending-extId order; zipWithIndex assigns the global 0-based index in
    // partition order (= range order), which IS the vid. Identical assignment
    // to the previous per-partition-count + offset-broadcast + row_number
    // pipeline (vid depends only on the global sort order, so it stays
    // deterministic at any parallelism and any sampled range boundaries), but
    // in ONE extra job over the sorted frame instead of a counts collect plus
    // a pid-partitioned window shuffle plus a broadcast join. Dedup happens
    // AFTER the range sort as an adjacent-equal skip (range partitioning puts
    // equal ids in one partition, sorted adjacent), replacing the previous
    // hash-distinct's extra full exchange of the 2|E| incidence frame with a
    // streaming pass (guide §2.4); set semantics are unchanged.
    val sorted = ids
      .repartitionByRange(p, $"extId")
      .sortWithinPartitions($"extId")
      .select($"extId".cast("long"))
      .as[Long]
      .mapPartitions { it =>
        new Iterator[Long] {
          private var has = false
          private var cur = 0L
          advance()
          private def advance(): Unit = {
            while (it.hasNext) {
              val v = it.next()
              if (!has || v != cur) { has = true; cur = v; return }
            }
            has = false
          }
          override def hasNext: Boolean = has
          override def next(): Long = { val v = cur; advance(); v }
        }
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dict = spark.createDataset(
      sorted.rdd.zipWithIndex.map { case (extId, vid) => VertexMapping(extId, vid) })
    // materialize the dictionary BEFORE releasing the sorted scratch cache —
    // round 3 left `sorted` persisted for the session (an n-row residue per
    // graph build)
    dict.persist(StorageLevel.MEMORY_AND_DISK)
    dict.count()
    sorted.unpersist(false)
    dict
  }
}
