package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{shim => colshim}
import org.apache.spark.sql.types._

import graft.model.CellType

/** The collect/join/explode form of [[graft.read.Resolve.latestNvb]],
  * kept as the equivalence oracle for the NEW_VERSION_BEHAVIOR pass:
  * each column's cells and each family's family-scope markers are
  * collected into arrays, left-joined on (row, family), run through the
  * `nvb_visible` array kernel below and exploded back out. Same
  * signature and output as the engine's; built from plain operators
  * plus one kernel that sorts each array itself.
  */
object NvbReference {

  def latestNvb(
      cells: DataFrame,
      maxVersions: Int = 1,
      resultMaxVersions: Int = Int.MaxValue,
      ttlCutoff: Option[Long] = None,
      minVersions: Int = 0,
      seqCol: String = "seq"
  ): DataFrame = {
    val tcode = CellType.all.map(t => (t, NvbKernel.typeCode(t)))
      .foldLeft(lit(-1)) { case (acc, (t, c)) =>
        when(col("type") === t, lit(c)).otherwise(acc)
      }
    val famScope = col("type").isin(CellType.DeleteFamily, CellType.DeleteFamilyVersion)
    val colCells = cells.filter(!famScope)
      .groupBy("row", "family", "qualifier")
      .agg(collect_list(struct(col("ts"), col(seqCol).as("seq"), tcode.as("tcode"),
        col("value"))).as("__cs"))
    val famCells = cells.filter(famScope)
      .groupBy("row", "family")
      .agg(collect_list(struct(col("ts"), col(seqCol).as("seq"), tcode.as("tcode")))
        .as("__fs"))
    colCells
      .join(famCells, Seq("row", "family"), "left")
      .select(col("row"), col("family"), col("qualifier"),
        explode(NvbFunctions.nvb_visible(col("__cs"), col("__fs"), maxVersions,
          resultMaxVersions, ttlCutoff.getOrElse(Long.MinValue), minVersions)).as("__v"))
      .select(col("row"), col("family"), col("qualifier"),
        col("__v.ts").as("ts"), lit(CellType.Put).as("type"),
        col("__v.value").as("value"), col("__v.seq").as(seqCol))
  }

  /** NEW_VERSION_BEHAVIOR read resolution — the mvcc-sensitive version/
    * delete tracker (ColumnFamilyDescriptorBuilder.java:197,
    * NewVersionBehaviorTracker.java) as a per-column kernel.
    *
    * Under the default behavior a delete marker masks every older-ts put
    * regardless of WRITE order; with NEW_VERSION_BEHAVIOR=true masking is
    * sequence-aware ("SQL-like" semantics): a marker only affects cells
    * written BEFORE it (lower mvcc/seq), so re-putting data at an old
    * timestamp after a delete makes it visible again, version counting
    * runs over mvcc-delimited segments in which DELETED versions still
    * consume slots, and a put with a duplicate (ts, type) of the
    * previously scanned put is masked outright
    * (NewVersionBehaviorTracker.java:164-187 prepare, :200-226 add,
    * :233-268 isDeleted, :307-336 checkVersions).
    *
    * Spark realization: one aggregate groups each column's cells (and
    * each family's family-scope markers) into arrays; this kernel then
    * runs the tracker ONCE PER COLUMN, map-side — per-column state is
    * bounded by that column's version count exactly like the server's
    * per-StoreScanner tracker, and the only exchange in the whole
    * resolve is the one shuffle onto the column coordinate (which the
    * bucketed store layout already satisfies).
    *
    * `nvb_visible(colCells, famMarkers, maxVersions, resultMaxVersions,
    * oldestTs, minVersions)` takes
    *   colCells:   array<struct<ts, seq, tcode, value>> — the column's
    *               puts, version deletes and column deletes
    *   famMarkers: array<struct<ts, seq, tcode>> — the row+family's
    *               DeleteFamily / DeleteFamilyVersion markers
    * and returns the VISIBLE versions as array<struct<ts, seq, value>>,
    * newest first.
    */
  case class NvbVisible(left: Expression, right: Expression,
      maxVersions: Int, resultMaxVersions: Int,
      oldestTs: Long, minVersions: Int) extends BinaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

    override def dataType: DataType = NvbKernel.outType
    override def prettyName: String = "nvb_visible"
    override def nullable: Boolean = false

    override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
      case (ArrayType(_: StructType, _), ArrayType(_: StructType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"nvb_visible needs (array<struct>, array<struct>), got $l / $r")
    }

    // family markers may be absent (left join): treat null as empty.
    // CodegenFallback (not a fused kernel like minhash_sigs/lsh_buckets):
    // this evaluates once per COLUMN GROUP over a small array, so the
    // interpreted call is off every per-cell hot path by construction.
    override def eval(input: InternalRow): Any = {
      val cs = left.eval(input)
      if (cs == null) return new GenericArrayData(Array.empty[Any])
      val fs = right.eval(input)
      NvbKernel.visible(cs.asInstanceOf[ArrayData],
        if (fs == null) null else fs.asInstanceOf[ArrayData],
        maxVersions, resultMaxVersions, oldestTs, minVersions)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): NvbVisible =
      copy(left = newLeft, right = newRight)
  }

  object NvbKernel {

    val outType: DataType = ArrayType(StructType(Seq(
      StructField("ts", LongType, nullable = false),
      StructField("seq", LongType, nullable = false),
      StructField("value", StringType, nullable = true))), containsNull = false)

    /** KeyValue.Type codes (hbase-common/.../KeyValue.java Type enum) —
      * scan order within a coordinate sorts larger code first. */
    final val Put = 4
    final val Delete = 8
    final val DeleteFamilyVersion = 10
    final val DeleteColumn = 12
    final val DeleteFamily = 14

    def typeCode(t: String): Int = t match {
      case "Put"                 => Put
      case "Delete"              => Delete
      case "DeleteFamilyVersion" => DeleteFamilyVersion
      case "DeleteColumn"        => DeleteColumn
      case "DeleteFamily"        => DeleteFamily
      case other                 => sys.error(s"unknown cell type $other")
    }

    /** One mvcc-delimited deletion node (DeleteVersionsNode,
      * NewVersionBehaviorTracker.java:107-156): `deletes` holds version-
      * delete mvccs per ts; `counting` holds, per delete-node segment,
      * the mvccs of puts counted inside it. */
    private final class Node(val ts: Long, val mvcc: Long) {
      val deletes = new java.util.HashMap[Long, java.util.TreeSet[java.lang.Long]]()
      val counting = new java.util.TreeMap[java.lang.Long, java.util.TreeSet[java.lang.Long]]()
      counting.put(Long.MaxValue, new java.util.TreeSet[java.lang.Long]())

      def addVersionDelete(dts: Long, dseq: Long): Unit = {
        var s = deletes.get(dts)
        if (s == null) { s = new java.util.TreeSet[java.lang.Long](); deletes.put(dts, s) }
        s.add(dseq)
        // puts already counted below this delete's mvcc seed the new
        // segment (tracker :137-143)
        val next = counting.ceilingEntry(dseq).getValue
        counting.put(dseq, new java.util.TreeSet[java.lang.Long](next.headSet(dseq)))
      }

      def deepCopy: Node = {
        val n = new Node(ts, mvcc)
        val it = deletes.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          n.deletes.put(e.getKey, new java.util.TreeSet[java.lang.Long](e.getValue))
        }
        n.counting.clear()
        val ct = counting.entrySet().iterator()
        while (ct.hasNext) {
          val e = ct.next()
          n.counting.put(e.getKey, new java.util.TreeSet[java.lang.Long](e.getValue))
        }
        n
      }
    }

    private final case class Cell(ts: Long, seq: Long, tcode: Int, value: Any)

    /** Scan order within one coordinate: ts DESC, type code DESC,
      * seq DESC (CellComparatorImpl: timestamps desc, then type desc;
      * mvcc resolves the remainder). */
    private def scanSort(cells: Array[Cell]): Array[Cell] =
      cells.sortBy(c => (-c.ts, -c.tcode, -c.seq))

    private def readCells(arr: ArrayData, arity: Int): Array[Cell] = {
      val n = arr.numElements()
      val out = new Array[Cell](n)
      var i = 0
      while (i < n) {
        val s = arr.getStruct(i, arity)
        out(i) = Cell(s.getLong(0), s.getLong(1), s.getInt(2),
          if (arity > 3 && !s.isNullAt(3)) s.getUTF8String(3) else null)
        i += 1
      }
      out
    }

    def visible(colCells: ArrayData, famMarkers: ArrayData, maxVersions: Int,
        resultMaxVersions: Int, oldestTs: Long, minVersions: Int): ArrayData = {
      // family-scope tracker (delFamMap): sentinel node at MAX mvcc
      val famMap = new java.util.TreeMap[java.lang.Long, Node]()
      famMap.put(Long.MaxValue, new Node(Long.MinValue, Long.MaxValue))
      if (famMarkers != null) {
        val fms = scanSort(readCells(famMarkers, 3))
        var i = 0
        while (i < fms.length) {
          val m = fms(i)
          m.tcode match {
            case DeleteFamily        => famMap.put(m.seq, new Node(m.ts, m.seq))
            case DeleteFamilyVersion =>
              famMap.ceilingEntry(m.seq).getValue.addVersionDelete(m.ts, m.seq)
            case _ => ()
          }
          i += 1
        }
      }
      // column tracker starts as a deep copy of the family tracker
      // (tracker prepare() :165-172)
      val colMap = new java.util.TreeMap[java.lang.Long, Node]()
      val fit = famMap.entrySet().iterator()
      while (fit.hasNext) { val e = fit.next(); colMap.put(e.getKey, e.getValue.deepCopy) }

      val cells = scanSort(readCells(colCells, 4))
      val out = new java.util.ArrayList[InternalRow]()
      var count = 0
      var lastPutTs = Long.MinValue
      var lastPutSeq = 0L
      var havePut = false
      var i = 0
      while (i < cells.length) {
        val c = cells(i)
        c.tcode match {
          case DeleteColumn => colMap.put(c.seq, new Node(c.ts, c.seq))
          case Delete       => colMap.ceilingEntry(c.seq).getValue.addVersionDelete(c.ts, c.seq)
          case Put =>
            // duplicate (ts, type) of the previously scanned put: masked,
            // and bounds segment counting (tracker prepare() :173-178)
            val dupMvcc = if (havePut && lastPutTs == c.ts) lastPutSeq else Long.MaxValue
            // a duplicate leaves the tracker untouched (prepare() returns
            // early, :173-178) — with 3+ same-ts puts every later one
            // bounds its counting segment by the FIRST-scanned put's mvcc
            if (dupMvcc == Long.MaxValue) {
              havePut = true; lastPutTs = c.ts; lastPutSeq = c.seq
            }
            // tracker isDeleted() :233-268
            var verdict = 0 // 0 not-deleted, 1 version-masked, 2 version-deleted, 3 column-deleted
            val tail = colMap.tailMap(c.seq).entrySet().iterator()
            while (verdict == 0 && tail.hasNext) {
              val node = tail.next().getValue
              var deleteMvcc = Long.MaxValue
              val dels = node.deletes.get(c.ts)
              if (dels != null) {
                val t = dels.tailSet(c.seq)
                if (!t.isEmpty) deleteMvcc = t.first()
              }
              val segs = node.counting
                .subMap(c.seq, true, math.min(dupMvcc, deleteMvcc), true)
                .entrySet().iterator()
              while (verdict == 0 && segs.hasNext) {
                val seg = segs.next()
                if (seg.getValue.size() >= maxVersions) verdict = 1
                else seg.getValue.add(c.seq)
              }
              if (verdict == 0) {
                if (deleteMvcc < Long.MaxValue) verdict = 2
                else if (c.ts <= node.ts) verdict = 3
              }
            }
            if (verdict == 0 && dupMvcc < Long.MaxValue) verdict = 1
            if (verdict == 0) {
              // tracker checkVersions() :307-336
              count += 1
              val include =
                if (c.ts < oldestTs) count <= minVersions
                else count <= resultMaxVersions
              if (include)
                out.add(InternalRow(c.ts, c.seq, c.value))
            }
          case _ => () // family markers never appear in the column array
        }
        i += 1
      }
      val arr = new Array[Any](out.size())
      var j = 0
      while (j < arr.length) { arr(j) = out.get(j); j += 1 }
      new GenericArrayData(arr)
    }
  }

  object NvbFunctions {
    /** See [[NvbVisible]]. */
    def nvb_visible(colCells: Column, famMarkers: Column, maxVersions: Int,
        resultMaxVersions: Int = Int.MaxValue, oldestTs: Long = Long.MinValue,
        minVersions: Int = 0): Column = {
      require(maxVersions > 0 && resultMaxVersions > 0,
        "nvb_visible: maxVersions and resultMaxVersions must be positive")
      colshim.column(NvbVisible(colshim.expression(colCells),
        colshim.expression(famMarkers), maxVersions, resultMaxVersions,
        oldestTs, minVersions))
    }
  }
}
