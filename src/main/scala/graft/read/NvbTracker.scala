package graft.read

import java.util.{TreeMap, TreeSet}
import java.lang.{Long => JLong}

import org.apache.spark.sql.catalyst.InternalRow

import graft.model.CellType

/** NEW_VERSION_BEHAVIOR's delete and version tracker
  * (NewVersionBehaviorTracker.java) for ONE row's cells, walked in
  * (family, family-scope markers first, qualifier, ts DESC, type code
  * DESC, seq DESC) order by [[Resolve.latestNvb]]'s pass.
  *
  * Under the default behavior a delete marker masks every older-ts put
  * regardless of WRITE order; here masking is sequence-aware: a marker
  * only affects cells written BEFORE it (lower mvcc/seq), so re-putting
  * data at an old timestamp after a delete makes it visible again,
  * version counting runs over mvcc-delimited segments in which DELETED
  * versions still consume slots, and a put with the ts of the column's
  * previous put is masked outright (tracker :164-187 prepare, :200-226
  * add, :233-268 isDeleted, :307-336 checkVersions).
  *
  * A family's markers build its map of mvcc segments (delFamMap); each
  * column starts from a deep copy of it (prepare() :165-172) and adds
  * its own markers, and each Put is decided on arrival. State is one
  * family's markers and one column's segments. A marker of a null row
  * or family masks nothing (the relational form's equi-join semantics);
  * a cell of an unknown type is ignored.
  */
private[read] final class NvbTracker(ix: NvbTracker.Ix, keyed: Boolean, maxVersions: Int,
    resultMaxVersions: Int, oldestTs: Long, minVersions: Int) {
  import NvbTracker._

  private val families, columns = new Resolve.LastColumn
  private var famMap = segments()
  private var colMap = famMap
  private var count = 0
  private var havePut = false
  private var lastPutTs, lastPutSeq = 0L

  /** The row's visible Puts, in pass order. */
  def run(rs: Iterator[InternalRow]): Iterator[InternalRow] = rs.filter(visible)

  private def visible(r: InternalRow): Boolean = {
    if (families.step(r, ix.family, ix.qualifier) == 2) famMap = segments()
    val ts = r.getLong(ix.ts)
    val seq = r.getLong(ix.seq)
    val marker = keyed && !r.isNullAt(ix.family)
    Resolve.cellType(r.getUTF8String(ix.tpe)) match {
      case CellType.DeleteFamily =>
        if (marker) famMap.put(seq, new Node(ts, seq)); false
      case CellType.DeleteFamilyVersion =>
        if (marker) famMap.ceilingEntry(seq).getValue.addVersionDelete(ts, seq); false
      case CellType.DeleteColumn => column(r); colMap.put(seq, new Node(ts, seq)); false
      case CellType.Delete =>
        column(r); colMap.ceilingEntry(seq).getValue.addVersionDelete(ts, seq); false
      case CellType.Put => column(r); put(ts, seq)
      case _ => false
    }
  }

  /** Opens a column at the first of its cells: the family's segments
    * deep-copied, and the version count and duplicate rule reset. */
  private def column(r: InternalRow): Unit =
    if (columns.step(r, ix.family, ix.qualifier) >= 1) {
      colMap = new TreeMap[JLong, Node]()
      val it = famMap.entrySet().iterator()
      while (it.hasNext) { val e = it.next(); colMap.put(e.getKey, e.getValue.deepCopy) }
      count = 0
      havePut = false
    }

  private def put(ts: Long, seq: Long): Boolean = {
    // duplicate (ts, type) of the previously scanned put: masked, and
    // bounds segment counting (tracker prepare() :173-178)
    val dupMvcc = if (havePut && lastPutTs == ts) lastPutSeq else Long.MaxValue
    // a duplicate leaves the tracker untouched (prepare() returns
    // early, :173-178) — with 3+ same-ts puts every later one
    // bounds its counting segment by the FIRST-scanned put's mvcc
    if (dupMvcc == Long.MaxValue) {
      havePut = true; lastPutTs = ts; lastPutSeq = seq
    }
    // tracker isDeleted() :233-268
    var verdict = 0 // 0 not-deleted, 1 version-masked, 2 version-deleted, 3 column-deleted
    val tail = colMap.tailMap(seq).entrySet().iterator()
    while (verdict == 0 && tail.hasNext) {
      val node = tail.next().getValue
      var deleteMvcc = Long.MaxValue
      val dels = node.deletes.get(ts)
      if (dels != null) {
        val t = dels.tailSet(seq)
        if (!t.isEmpty) deleteMvcc = t.first()
      }
      val segs = node.counting
        .subMap(seq, true, math.min(dupMvcc, deleteMvcc), true)
        .entrySet().iterator()
      while (verdict == 0 && segs.hasNext) {
        val seg = segs.next()
        if (seg.getValue.size() >= maxVersions) verdict = 1
        else seg.getValue.add(seq)
      }
      if (verdict == 0) {
        if (deleteMvcc < Long.MaxValue) verdict = 2
        else if (ts <= node.ts) verdict = 3
      }
    }
    if (verdict == 0 && dupMvcc < Long.MaxValue) verdict = 1
    // tracker checkVersions() :307-336
    verdict == 0 && {
      count += 1
      if (ts < oldestTs) count <= minVersions else count <= resultMaxVersions
    }
  }
}

private[read] object NvbTracker {

  /** Field positions the tracker reads. */
  final case class Ix(family: Int, qualifier: Int, ts: Int, tpe: Int, seq: Int)

  /** KeyValue.Type codes (hbase-common/.../KeyValue.java Type enum): the
    * scan order within a coordinate sorts the larger code first. */
  val codes: Seq[(String, Int)] = Seq(CellType.Put -> 4, CellType.Delete -> 8,
    CellType.DeleteFamilyVersion -> 10, CellType.DeleteColumn -> 12, CellType.DeleteFamily -> 14)

  /** A family's or column's segments by mvcc, with the sentinel node at
    * MAX mvcc. */
  private def segments(): TreeMap[JLong, Node] = {
    val m = new TreeMap[JLong, Node]()
    m.put(Long.MaxValue, new Node(Long.MinValue, Long.MaxValue))
    m
  }

  /** One mvcc-delimited deletion node (DeleteVersionsNode,
    * NewVersionBehaviorTracker.java:107-156): `deletes` holds version-
    * delete mvccs per ts; `counting` holds, per delete-node segment,
    * the mvccs of puts counted inside it. */
  private final class Node(val ts: Long, val mvcc: Long) {
    val deletes = new java.util.HashMap[Long, TreeSet[JLong]]()
    val counting = new TreeMap[JLong, TreeSet[JLong]]()
    counting.put(Long.MaxValue, new TreeSet[JLong]())

    def addVersionDelete(dts: Long, dseq: Long): Unit = {
      var s = deletes.get(dts)
      if (s == null) { s = new TreeSet[JLong](); deletes.put(dts, s) }
      s.add(dseq)
      // puts already counted below this delete's mvcc seed the new
      // segment (tracker :137-143)
      val next = counting.ceilingEntry(dseq).getValue
      counting.put(dseq, new TreeSet[JLong](next.headSet(dseq)))
    }

    def deepCopy: Node = {
      val n = new Node(ts, mvcc)
      val it = deletes.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        n.deletes.put(e.getKey, new TreeSet[JLong](e.getValue))
      }
      n.counting.clear()
      val ct = counting.entrySet().iterator()
      while (ct.hasNext) {
        val e = ct.next()
        n.counting.put(e.getKey, new TreeSet[JLong](e.getValue))
      }
      n
    }
  }
}
