package graft.tools

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, File, FileInputStream, FileOutputStream}

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD

import graft.model.AdjPart

/** Per-block binary persistence for prebuilt adjacency parts.
  *
  * KernelPrep's parquet Dataset[AdjPart] restore cost the leg a full
  * partitionBy shuffle of every adjacency byte plus nested-array parquet
  * decode — 16 of a 32 s fork at the 80M-edge bench shape (round-6 phase
  * probe). Parts are pure primitive arrays, and the writer already holds them
  * in the exact partition layout the reader needs (partition b = block b's
  * parts in assembler order), so the fix is one flat file per block written
  * at prep time and read back into an RDD whose partitioner is established by
  * shuffling 64 ints instead of 1.3 GB (guide §2.4: remove the shuffle
  * outright). Restore is bit-identical: same parts, same order, same layout.
  *
  * Format per file: [numParts][per part: blockId partId lens + raw arrays].
  * The writer emits one file per partition, empty ones included, so a
  * missing file is a damaged directory and the restore fails on it.
  */
object PartIO {

  def writeBlockFiles(rdd: RDD[AdjPart], dir: String): Unit = {
    new File(dir).mkdirs()
    rdd
      .mapPartitionsWithIndex { (i, it) =>
        val parts = it.toArray
        parts.foreach { p =>
          require(p.wNorm.length == p.adj.length,
            s"part (${p.blockId}, ${p.partId}): ${p.wNorm.length} weights for ${p.adj.length} edges")
        }
        val f = new File(dir, f"block-$i%05d")
        val out = new DataOutputStream(
          new BufferedOutputStream(new FileOutputStream(f), 1 << 20))
        var count = 0
        out.writeInt(parts.length)
        parts.foreach { p =>
          out.writeInt(p.blockId); out.writeInt(p.partId)
          out.writeInt(p.keys.length); out.writeInt(p.offsets.length)
          out.writeInt(p.adj.length)
          var j = 0
          while (j < p.keys.length) { out.writeInt(p.keys(j)); j += 1 }
          j = 0
          while (j < p.offsets.length) { out.writeInt(p.offsets(j)); j += 1 }
          j = 0
          while (j < p.adj.length) { out.writeLong(p.adj(j)); j += 1 }
          j = 0
          while (j < p.wNorm.length) { out.writeDouble(p.wNorm(j)); j += 1 }
          count += 1
        }
        out.close()
        Iterator.single(count)
      }
      .count()
    ()
  }

  private def readBlockFile(dir: String, block: Int): Array[AdjPart] = {
    val f = new File(dir, f"block-$block%05d")
    if (!f.isFile)
      throw new java.io.FileNotFoundException(s"missing adjacency block file ${f.getPath}")
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(f), 1 << 20))
    try {
      val nParts = in.readInt()
      Array.fill(nParts) {
        val blockId = in.readInt()
        val partId = in.readInt()
        val nKeys = in.readInt()
        val nOff = in.readInt()
        val nAdj = in.readInt()
        val keys = new Array[Int](nKeys)
        var j = 0
        while (j < nKeys) { keys(j) = in.readInt(); j += 1 }
        val offsets = new Array[Int](nOff)
        j = 0
        while (j < nOff) { offsets(j) = in.readInt(); j += 1 }
        val adj = new Array[Long](nAdj)
        j = 0
        while (j < nAdj) { adj(j) = in.readLong(); j += 1 }
        val wNorm = new Array[Double](nAdj)
        j = 0
        while (j < nAdj) { wNorm(j) = in.readDouble(); j += 1 }
        AdjPart(blockId, partId, keys, offsets, adj, wNorm)
      }
    } finally in.close()
  }

  /** RDD with partition b = block b's parts in file (= assembler) order and
    * the graph's identity block partitioner — the layout gatherPartsRdd /
    * adjPartsByBlock would otherwise rebuild with a full shuffle + sort.
    */
  def readLaidOut(sc: SparkContext, dir: String, numBlocks: Int): RDD[(Int, AdjPart)] =
    sc.parallelize(0 until numBlocks, numBlocks)
      .map(b => (b, b))
      .partitionBy(new org.apache.spark.HashPartitioner(numBlocks))
      .mapPartitions(
        it => it.flatMap { case (b, _) => readBlockFile(dir, b).iterator.map(p => (b, p)) },
        preservesPartitioning = true)
}
