package graft.graph

/** A graph's residency plan: for each operator, whether it runs on the driver
  * (resident) or on the distributed path that scales to cluster-size graphs.
  * Both paths produce the same values. One rule decides: resident when
  * `units × bytesPerUnit < driverBytes` and `n ≤ Int.MaxValue` (driver arrays
  * are Int-indexed). The fold probe alone keeps an inclusive cap,
  * `rawRows ≤ driverBytes / 32`. `Residency(driverBytes = 0)` sends every
  * operator to the distributed path.
  *
  * @param driverBytes budget for any one driver-resident operator
  * @param slabBytes   per-task memory for the distributed superstep's
  *                    contribution slabs; past it partial slabs flush to the
  *                    shuffle (executor peak ≈ concurrentTasks × this)
  */
final case class Residency(driverBytes: Long = 64L << 20, slabBytes: Long = 256L << 20) {
  require(driverBytes >= 0L && slabBytes > 0L, s"invalid residency plan $this")

  /** Per-vertex operators never evaluate `numEdges`. */
  def resident(op: Residency.Op, numVertices: Long, numEdges: => Long): Boolean =
    numVertices <= Int.MaxValue.toLong &&
      (if (op.perVertex) numVertices else numEdges) * op.bytesPerUnit < driverBytes

  /** Raw-row cap of [[LinkGraph.fromEdgeList]]'s fold probe; 0 skips it. */
  def foldProbeRows: Long = driverBytes / 32
  def foldResident(rawRows: Long): Boolean = rawRows <= foldProbeRows
}

object Residency {
  val Default: Residency = Residency()

  /** A resident operator's driver bytes per edge (or per vertex). */
  sealed abstract class Op(val bytesPerUnit: Long, val perVertex: Boolean = false)
  object Op {
    case object Dictionary extends Op(16)
    case object Assembly extends Op(16)
    case object DegreeTable extends Op(16)
    case object LocalGather extends Op(16)
    case object Components extends Op(16)
    case object Triangles extends Op(16)
    /** ≤ 2|E| undirected entries at 24 B each. */
    case object LabelPropagation extends Op(48)
    case object RankVector extends Op(8, perVertex = true)
    /** CC / LPA label frame broadcast-hinted in the distributed joins. */
    case object LabelBroadcast extends Op(16, perVertex = true)
  }
}
