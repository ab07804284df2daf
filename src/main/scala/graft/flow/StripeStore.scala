package graft.flow

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}

import graft.codec.HFileV3
import graft.codec.HFileV3.HCell

/** Stripe store compaction — the reference's StripeCompactionPolicy
  * (hbase-server/.../compactions/StripeCompactionPolicy.java:50) +
  * StripeStoreFileManager file-level layout + StripeMultiFileWriter
  * split/boundary writers, re-expressed over graft's flat HFile
  * stores.
  *
  * Layout (StripeStoreFileManager.java:71-80): the store is L0 files
  * (no key range — fresh flushes) plus STRIPES, groups of files
  * carrying identical STRIPE_START_KEY / STRIPE_END_KEY FILE_INFO
  * entries; a row-range [start, end) per stripe, contiguous across
  * stripes, OPEN (empty bytes) at both outer edges. Files missing the
  * metadata load as L0, exactly like the reference's unclassified-file
  * handling. graft: `l0-*.hfile` + `stripe-*.hfile` in one directory,
  * stripe membership from FILE_INFO only.
  *
  * Policy (selectCompaction:103-163, strict preference order):
  *  1. no stripes yet → compact L0 into `initialCount` fresh stripes
  *     once `l0MinFiles` accumulate (or all of L0 expired);
  *  2. L0 due → prefer one whole-stripe compaction + ALL of L0
  *     (boundary request — L0 data distributes into existing stripe
  *     ranges) so deletes can drop; else L0 alone into the boundaries;
  *  3. a run of fully-TTL-expired stripes merges (1-stripe runs pull
  *     in their right neighbor — metadata lives in files, so a lone
  *     expired stripe can't just vanish);
  *  4. otherwise the single best stripe compacts internally via the
  *     Exploring policy (most files retired, then least IO), SPLITTING
  *     into ~`splitPartCount` new stripes when the rewrite crosses
  *     `sizeToSplit` (estimateTargetKvs:427 — the multiplier grows
  *     until parts are under the target part size).
  *
  * Why at 100 TB: stripes are sub-region ranges, so compaction IO per
  * pass is bounded by a stripe, row-range reads prune whole files by
  * stripe metadata, and there is NEVER a whole-store major compaction
  * (shouldPerformMajorCompaction is constantly false — :173).
  *
  * Scale shape: selection is a driver-side scan of one store's file
  * ladder; boundary rewrites shuffle the selected cells ONCE keyed by
  * target stripe with one writer per range; split rewrites stream one
  * stripe's run through a single switching writer (the reference's
  * compactor is equally single-threaded per store) — cross-store
  * parallelism is the fleet story, as in the reference. References /
  * coprocessor pre-selection are not modeled: graft handles split
  * artifacts at the snapshot layer (q87), never in live stores.
  */
object StripeStore {

  val StripeStartKey = "STRIPE_START_KEY"
  val StripeEndKey = "STRIPE_END_KEY"

  /** OPEN_KEY (StripeStoreFileManager.java:79) — empty bytes. */
  val OpenKey: Array[Byte] = Array.emptyByteArray

  /** StripeStoreConfig.java:91-121 defaults (flush-to-L0 layout:
    * minFiles floor 4); `exploringMaxCompactSize` doubles as the
    * reference's comConf maxCompactSize consulted by the per-stripe
    * Exploring policy and the L0 size gates. */
  final case class SKnobs(
      l0MinFiles: Int = 4,
      minFiles: Int = 4,
      maxFiles: Int = 10,
      sizeToSplit: Long = Long.MaxValue,
      splitPartCount: Double = 2.0,
      initialCount: Int = 1,
      ttlMillis: Long = Long.MaxValue,
      ratio: Double = 1.2,
      maxCompactSize: Long = Long.MaxValue) {
    def splitPartSize: Long = (sizeToSplit / splitPartCount).toLong
    private[flow] def stripeKnobs(minLocal: Int, maxLocal: Int): Compactions.Knobs =
      Compactions.Knobs(minFiles = minLocal, maxFiles = maxLocal,
        ratio = ratio, minCompactSize = 0L, maxCompactSize = maxCompactSize)
  }

  /** One store file as the pure policy sees it. */
  final case class SFile(size: Long, kvCount: Long, maxTs: Long)

  /** A selected compaction. `files` are (level, index) — level -1 is
    * L0, otherwise the stripe index; indices are age-ordered within
    * their level. */
  sealed trait StripeReq { def files: Seq[(Int, Int)] }

  /** Compact into the EXISTING stripe boundaries (one output per
    * stripe range) — the L0-distribution shape. */
  final case class BoundaryReq(files: Seq[(Int, Int)]) extends StripeReq

  /** Rewrite a contiguous stripe range [fromStripe, toStripe] (or the
    * whole open range when -1) into `targetCount` fresh stripes
    * switching every `targetKvs` cells at row boundaries.
    * `majorRange`: the rewrite may drop deletes/expired content. */
  final case class SplitReq(files: Seq[(Int, Int)], fromStripe: Int,
      toStripe: Int, targetCount: Int, targetKvs: Long,
      majorRange: Boolean) extends StripeReq

  // ------------------------------------------------------------------
  // Pure policy (StripeCompactionPolicy.java)
  // ------------------------------------------------------------------

  /** selectCompaction:103-163, pure over (L0 ladder, stripe ladders).
    * Returns None when the store needs nothing. */
  def selectStripeCompaction(l0: IndexedSeq[SFile],
      stripes: IndexedSeq[IndexedSeq[SFile]], k: SKnobs,
      now: Long): Option[StripeReq] = {
    if (l0.isEmpty && stripes.isEmpty) return None
    val shouldCompactL0 =
      k.l0MinFiles <= l0.size || allFilesExpired(l0, k, now)
    if (stripes.isEmpty) {
      if (!shouldCompactL0) return None
      return Some(selectL0Only(l0, stripes, k))
    }
    val canDropDeletesNoL0 = l0.isEmpty
    if (shouldCompactL0) {
      if (!canDropDeletesNoL0) {
        val r = selectSingleStripe(l0, stripes, k,
          includeL0 = !shouldSelectL0Files(l0, k),
          canDropDeletesWithoutL0 = canDropDeletesNoL0)
        if (r.isDefined) return r
      }
      return Some(selectL0Only(l0, stripes, k))
    }
    selectExpiredMerge(stripes, k, now, canDropDeletesNoL0)
      .orElse(selectSingleStripe(l0, stripes, k, includeL0 = false,
        canDropDeletesWithoutL0 = canDropDeletesNoL0))
  }

  /** needsCompactions:165 (minus the references clause). */
  def needsCompactions(l0: IndexedSeq[SFile],
      stripes: IndexedSeq[IndexedSeq[SFile]], k: SKnobs, now: Long): Boolean =
    l0.size >= k.l0MinFiles ||
      stripes.exists(_.size >= k.minFiles) ||
      hasExpiredStripes(stripes, k, now) ||
      allFilesExpired(l0, k, now)

  /** needsSingleStripeCompaction:186 — any stripe at or past the
    * per-stripe minimum file count. */
  def needsSingleStripeCompaction(stripes: IndexedSeq[IndexedSeq[SFile]],
      k: SKnobs): Boolean =
    stripes.exists(_.size >= k.minFiles)

  /** hasExpiredStripes:371 — a stripe where every file is expired OR
    * empty (the HBASE-21504 empty-file carve-out: an empty file never
    * BLOCKS reclaim — StripeCompactionPolicy.allFilesExpired keeps a
    * file only when maxTs >= cutoff && entries != 0). */
  def hasExpiredStripes(stripes: IndexedSeq[IndexedSeq[SFile]], k: SKnobs,
      now: Long): Boolean =
    stripes.exists(allFilesExpired(_, k, now))

  private def allFilesExpired(files: IndexedSeq[SFile], k: SKnobs,
      now: Long): Boolean = {
    if (files.isEmpty || k.ttlMillis == Long.MaxValue) return false
    val cutoff = now - k.ttlMillis
    files.forall(f => f.maxTs < cutoff || f.kvCount == 0)
  }

  /** StripeStoreFileManager.getCompactionPressure:1056-1087: 2.0 past
    * the store-wide blocking count (a loud "this store is blocked"
    * hint); else the max per-stripe file count normalized against the
    * blocking count split across stripes — an L0 presence counts as
    * one extra file per stripe (L0 data moves into stripes quickly) —
    * clamped to 1.0 (an unevenly split stripe may exceed its share
    * without the store actually blocking). */
  def compactionPressure(l0Count: Int, stripeCounts: Seq[Int],
      blockingFiles: Int = 16, minFiles: Int = 4): Double = {
    if (l0Count + stripeCounts.sum > blockingFiles) return 2.0
    if (stripeCounts.isEmpty) return 0.0
    val perStripe = blockingFiles / stripeCounts.size
    val delta = if (l0Count == 0) 0 else 1
    var max = 0.0
    stripeCounts.foreach { c =>
      val norm = (c + delta - minFiles).toDouble / (perStripe - minFiles)
      if (norm >= 1.0) return 1.0
      if (norm > max) max = norm
    }
    max
  }

  private def shouldSelectL0Files(l0: IndexedSeq[SFile], k: SKnobs): Boolean =
    l0.size > k.maxFiles || l0.map(_.size).sum > k.maxCompactSize

  /** selectSimpleCompaction:272 — the per-stripe Exploring policy with
    * an all-or-none floor, plus the forceCompact fallback
    * (ExploringCompactionPolicy.selectCompactFiles:130 — first files
    * up to maxFiles, stopping once past maxCompactSize). Returns
    * indices into `sfs`. */
  private def selectSimple(sfs: IndexedSeq[SFile], k: SKnobs,
      allFilesOnly: Boolean, forceCompact: Boolean): Seq[Int] = {
    val minLocal = math.max(if (allFilesOnly) sfs.size else 0, k.minFiles)
    val maxLocal = math.max(k.maxFiles, minLocal)
    val sel = Compactions.exploringSelect(sfs.map(_.size),
      k.stripeKnobs(minLocal, maxLocal))
    if (sel.nonEmpty || !forceCompact || sfs.isEmpty) sel
    else {
      var acc = 0L
      var end = 0
      val lim = math.min(sfs.size, maxLocal)
      while (end < lim) {
        acc += sfs(end).size
        if (acc >= k.maxCompactSize) return 0 to end
        end += 1
      }
      sfs.indices
    }
  }

  /** selectSingleStripeCompaction:195. */
  private[graft] def selectSingleStripe(l0: IndexedSeq[SFile],
      stripes: IndexedSeq[IndexedSeq[SFile]], k: SKnobs,
      includeL0: Boolean, canDropDeletesWithoutL0: Boolean): Option[StripeReq] = {
    var bqIndex = -1
    var bqSelection: Seq[Int] = Nil
    var bqTotalSize = -1L
    stripes.indices.foreach { i =>
      val sel = selectSimple(stripes(i), k,
        allFilesOnly = !canDropDeletesWithoutL0 && includeL0,
        forceCompact = false)
      if (sel.nonEmpty) {
        val size = sel.map(stripes(i)(_).size).sum
        if (bqSelection.isEmpty || sel.size > bqSelection.size ||
            (sel.size == bqSelection.size && size < bqTotalSize)) {
          bqSelection = sel; bqIndex = i; bqTotalSize = size
        }
      }
    }
    if (bqSelection.isEmpty) return None
    val hasAllFiles = bqSelection.size == stripes(bqIndex).size
    var targetCount = 1
    var targetKvs = Long.MaxValue
    if (hasAllFiles && bqTotalSize >= k.sizeToSplit) {
      if (includeL0) return None // don't compact-with-L0 what we'd then split
      val est = estimateTargetKvs(bqSelection.map(stripes(bqIndex)(_)),
        k.splitPartCount, k.splitPartSize)
      targetKvs = est._1
      targetCount = est._2
    }
    if (includeL0) {
      // whole stripe (allFilesOnly guaranteed it) + ALL of L0 into the
      // existing boundaries
      Some(BoundaryReq(bqSelection.map((bqIndex, _)) ++
        l0.indices.map((-1, _))))
    } else {
      Some(SplitReq(bqSelection.map((bqIndex, _)), bqIndex, bqIndex,
        targetCount, targetKvs,
        majorRange = hasAllFiles && canDropDeletesWithoutL0))
    }
  }

  /** selectL0OnlyCompaction:293. */
  private def selectL0Only(l0: IndexedSeq[SFile],
      stripes: IndexedSeq[IndexedSeq[SFile]], k: SKnobs): StripeReq = {
    val selected: Seq[Int] =
      if (shouldSelectL0Files(l0, k))
        selectSimple(l0, k, allFilesOnly = false, forceCompact = true)
      else l0.indices
    if (stripes.isEmpty) {
      val (kvs, count) =
        estimateTargetKvs(selected.map(l0(_)), k.initialCount.toDouble,
          k.splitPartSize)
      SplitReq(selected.map((-1, _)), -1, -1, count, kvs,
        majorRange = selected.size == l0.size)
    } else BoundaryReq(selected.map((-1, _)))
  }

  /** selectExpiredMergeCompaction:323 — merge the longest run of
    * fully-expired stripes; a single expired stripe pulls in its right
    * neighbor (metadata lives in files and can't be dropped in place),
    * unless it IS the rightmost. */
  private def selectExpiredMerge(stripes: IndexedSeq[IndexedSeq[SFile]],
      k: SKnobs, now: Long, canDropDeletesNoL0: Boolean): Option[StripeReq] = {
    if (k.ttlMillis == Long.MaxValue) return None
    val cutoff = now - k.ttlMillis
    var start = -1; var bestStart = -1; var length = 0; var bestLength = 0
    stripes.indices.foreach { i =>
      if (stripes(i).forall(_.maxTs < cutoff)) {
        if (start == -1) start = i
        length += 1
      } else {
        if (length > bestLength) { bestStart = start; bestLength = length }
        start = -1; length = 0
      }
    }
    if (length > bestLength) { bestStart = start; bestLength = length }
    if (bestLength == 0) return None
    if (bestLength == 1) {
      if (bestStart == stripes.size - 1) return None
      bestLength += 1
    }
    val endIndex = bestStart + bestLength - 1
    val files = (bestStart to endIndex).flatMap(i =>
      stripes(i).indices.map((i, _)))
    Some(SplitReq(files, bestStart, endIndex, 1, Long.MaxValue,
      majorRange = canDropDeletesNoL0))
  }

  /** estimateTargetKvs:427 — grow the split multiplier until parts fit
    * under the target part size (unless a further increment would
    * overshoot as far as the current one undershoots). */
  private[flow] def estimateTargetKvs(files: Seq[SFile], splitCount0: Double,
      splitPartSize: Long): (Long, Int) = {
    val totalSize = files.map(_.size).sum
    require(splitPartSize > 0 && splitCount0 > 0, "bad split config")
    var splitCount = splitCount0
    var ratio = totalSize / (splitCount * splitPartSize)
    var continue = ratio > 1.0
    while (continue) {
      val newRatio = totalSize / ((splitCount + 1.0) * splitPartSize)
      if ((1.0 / newRatio) >= ratio) continue = false
      else {
        ratio = newRatio
        splitCount += 1.0
        continue = ratio > 1.0
      }
    }
    ((files.map(_.kvCount).sum / splitCount).toLong,
      math.ceil(splitCount).toInt)
  }

  // ------------------------------------------------------------------
  // Physical layout
  // ------------------------------------------------------------------

  final case class FileMeta(path: Path, len: Long, kvCount: Long,
      maxTs: Long, start: Array[Byte], end: Array[Byte]) {
    def sfile: SFile = SFile(len, kvCount, maxTs)
  }

  final case class Layout(l0: IndexedSeq[FileMeta],
      stripes: IndexedSeq[IndexedSeq[FileMeta]]) {
    /** Ascending boundary list: starts of every stripe + final end
      * (OPEN at both outer edges). */
    def boundaries: IndexedSeq[Array[Byte]] =
      if (stripes.isEmpty) IndexedSeq(OpenKey, OpenKey)
      else stripes.map(_.head.start) :+ stripes.last.head.end
  }

  private def cmpKeys(a: Array[Byte], b: Array[Byte], openLow: Boolean): Int = {
    val ao = a.isEmpty
    val bo = b.isEmpty
    if (ao && bo) 0
    else if (ao) { if (openLow) -1 else 1 }
    else if (bo) { if (openLow) 1 else -1 }
    else java.util.Arrays.compareUnsigned(a, b)
  }

  /** Reconstruct the stripe layout from file metadata alone, like
    * StripeStoreFileManager's loader: stripe files grouped by their
    * exact (start, end); groups ordered by start (OPEN first); files
    * missing either key — or groups breaking contiguity — demote to
    * L0. */
  def loadLayout(spark: SparkSession, dir: String): Layout = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def meta(p: Path, len: Long): FileMeta = {
      val (trailer, fi) = HFiles.readMeta(fs, p, len)
      FileMeta(p, len, trailer.entryCount,
        HFileV3.parseTimeRange(fi).map(_._2).getOrElse(Long.MinValue),
        fi.getOrElse(StripeStartKey, null),
        fi.getOrElse(StripeEndKey, null))
    }
    def list(glob: String): Seq[FileMeta] =
      HFiles.listFiles(fs, dir, glob).map { case (p, l) => meta(new Path(p), l) }
    val l0 = scala.collection.mutable.ArrayBuffer.empty[FileMeta]
    l0 ++= list("l0-*.hfile")
    val (classified, unclassified) = list("stripe-*.hfile")
      .partition(f => f.start != null && f.end != null)
    l0 ++= unclassified.map(f => f.copy(start = null, end = null))
    val groups = classified
      .groupBy(f => (new String(f.start, UTF_8), new String(f.end, UTF_8)))
      .values.toIndexedSeq
      .sortWith((a, b) => cmpKeys(a.head.start, b.head.start, openLow = true) < 0)
      .map(_.toIndexedSeq)
    // contiguity check: ends chain into starts, OPEN at the edges
    val contiguous = groups.nonEmpty &&
      groups.head.head.start.isEmpty && groups.last.head.end.isEmpty &&
      groups.sliding(2).forall {
        case Seq(a, b) => java.util.Arrays.equals(a.head.end, b.head.start)
        case _ => true
      }
    if (groups.isEmpty) Layout(l0.toIndexedSeq, IndexedSeq.empty)
    else if (contiguous) Layout(l0.toIndexedSeq, groups)
    else {
      // broken metadata: everything demotes to L0 (the reference's
      // unclassified handling, conservatively applied to the store)
      Layout((l0 ++ groups.flatten).toIndexedSeq, IndexedSeq.empty)
    }
  }

  /** Flush a cell frame as ONE new L0 file (the flush-to-L0 layout). */
  def stripeFlush(cells: org.apache.spark.sql.DataFrame, dir: String): String = {
    val spark = cells.sparkSession
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // allocate max+1, NOT the file count: a subset L0 compaction can
    // retire a non-prefix window, leaving holes in the numbering — a
    // count-based name would collide with a SURVIVING file (rename
    // silently overwrites on RawLocalFileSystem) and break the
    // name-order = age-order ladder the policy relies on
    val existing = Option(fs.globStatus(new Path(dir, "l0-*.hfile")))
      .getOrElse(Array.empty)
      .map(_.getPath.getName.stripPrefix("l0-").stripSuffix(".hfile").toInt)
    val idx = if (existing.isEmpty) 0 else existing.max + 1
    val tmp = graft.Queries.scratchDir(s"stripe_flush_$idx")
    HFiles.export(cells, numRegions = 1, outPath = tmp)
    val name = f"l0-$idx%05d.hfile"
    fs.mkdirs(new Path(dir))
    require(fs.rename(new Path(s"$tmp/part-00000.hfile"),
      new Path(dir, name)), s"could not land flush $name")
    name
  }

  // ------------------------------------------------------------------
  // Physical execution
  // ------------------------------------------------------------------

  /** Run ONE stripe-compaction round: load the layout, select per the
    * policy, execute the request (boundary distribution or switching
    * split writer), commit by delete-inputs + rename-outputs. Returns
    * the executed request (None = store needs nothing). */
  def stripeCompact(spark: SparkSession, dir: String, k: SKnobs,
      now: Long, blockSize: Int = 65536): Option[StripeReq] = {
    // complete any interrupted commit before reading the layout
    Compactions.healStore(spark, dir)
    val layout = loadLayout(spark, dir)
    val req = selectStripeCompaction(layout.l0.map(_.sfile),
      layout.stripes.map(_.map(_.sfile)), k, now)
    req.foreach(execute(spark, dir, layout, _, k, now, blockSize))
    req
  }

  private def fileOf(layout: Layout, ref: (Int, Int)): FileMeta =
    if (ref._1 == -1) layout.l0(ref._2) else layout.stripes(ref._1)(ref._2)

  private def nextStripeIndex(fs: FileSystem, dir: String): Int = {
    val existing = Option(fs.globStatus(new Path(dir, "stripe-*.hfile")))
      .getOrElse(Array.empty)
      .map(_.getPath.getName.stripPrefix("stripe-").stripSuffix(".hfile").toInt)
    if (existing.isEmpty) 0 else existing.max + 1
  }

  private[graft] def execute(spark: SparkSession, dir: String, layout: Layout,
      req: StripeReq, k: SKnobs, now: Long, blockSize: Int): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val inputs = req.files.map(fileOf(layout, _))
    val cells0 = HFiles.importFiles(spark,
      inputs.map(f => (f.path.toString, f.len)))
    val tmpDir = s"$dir/.compact.tmp"
    val tmpPath = new Path(tmpDir)
    if (fs.exists(tmpPath)) fs.delete(tmpPath, true)
    val bconf = ShippedConf.broadcast(spark)
    val tmpB = tmpDir
    val blockB = blockSize

    req match {
      case BoundaryReq(_) =>
        // distribute into the EXISTING stripe ranges: one shuffle
        // keyed by target stripe, one writer per range
        val bounds = layout.boundaries
        val starts = bounds.dropRight(1) // per-stripe start keys
        val wixCol = starts.zipWithIndex.drop(1)
          .foldLeft(lit(0)) { case (acc, (b, i)) =>
            when(col("row") >= lit(new String(b, UTF_8)), lit(i)).otherwise(acc)
          }
        val metaByWix = starts.indices.map { i =>
          (i, new String(starts(i), UTF_8),
            new String(bounds(i + 1), UTF_8))
        }.map(t => t._1 -> ((t._2, t._3))).toMap
        HFiles.writeRuns(
          cells0.withColumn("wix", wixCol)
            .repartition(starts.size, col("wix"))
            .sortWithinPartitions(col("wix"), col("row"), col("family"),
              col("qualifier"), col("ts").desc, HFiles.typeRank.desc)
            .select("row", "family", "qualifier", "ts", "type", "value", "wix"),
          tmpDir, _.getInt(6), (_, wix: Int) => f"w$wix%05d.hfile") {
          (wix, out, run) =>
            val (start, end) = metaByWix(wix)
            HFileV3.write(out, run, blockSize, extraFileInfo = Seq(
              StripeStartKey -> start.getBytes(UTF_8),
              StripeEndKey -> end.getBytes(UTF_8)))
        }

      case SplitReq(_, fromStripe, toStripe, targetCount, targetKvs, majorRange) =>
        val left =
          if (fromStripe == -1) OpenKey
          else layout.stripes(fromStripe).head.start
        val right =
          if (toStripe == -1) OpenKey
          else layout.stripes(toStripe).head.end
        // majorRange may drop content wholesale: TTL-expired cells go
        // (delete-marker semantics stay with Resolve, documented)
        val cells =
          if (majorRange && k.ttlMillis != Long.MaxValue)
            cells0.filter(col("ts") >= lit(now - k.ttlMillis))
          else cells0
        val leftB = left
        val rightB = right
        // the SizeMultiWriter discipline (StripeMultiFileWriter.java):
        // mark the row where targetKvs is crossed; switch writers at
        // the first DIFFERENT row; first boundary = left, last = right;
        // an all-expired merge still writes one empty file to carry
        // the merged range's metadata
        cells.repartitionByRange(1, col("row"))
          .sortWithinPartitions(col("row"), col("family"),
            col("qualifier"), col("ts").desc, HFiles.typeRank.desc)
          .select("row", "family", "qualifier", "ts", "type", "value")
          .foreachPartition { (it: Iterator[Row]) =>
            val fsx = new Path(tmpB).getFileSystem(bconf.value.conf)
            val bufIt = it.buffered
            var fileIdx = 0
            var boundary: Array[Byte] = leftB
            while (bufIt.hasNext) {
              var kvWritten = 0L
              var markedRow: String = null
              var endKey: Array[Byte] = rightB
              val run = new Iterator[HCell] {
                def hasNext: Boolean = bufIt.hasNext && {
                  if (markedRow == null) true
                  else if (bufIt.head.getString(0) == markedRow) true
                  else { endKey = bufIt.head.getString(0).getBytes(UTF_8); false }
                }
                def next(): HCell = {
                  val r = bufIt.next()
                  kvWritten += 1
                  if (markedRow == null && fileIdx < targetCount - 1 &&
                      kvWritten >= targetKvs)
                    markedRow = r.getString(0)
                  HFiles.cellOf(r)
                }
              }
              val sKey = boundary
              val out = fsx.create(new Path(f"$tmpB%s/w$fileIdx%05d.hfile"), true)
              try {
                HFileV3.write(out, run, blockB, extraFileInfo = Seq(
                  StripeStartKey -> sKey,
                  StripeEndKey -> endKey))
                ()
              } finally out.close()
              boundary = endKey
              fileIdx += 1
            }
          }
    }

    // an all-dropped SplitReq (expired merge) may schedule no task at
    // all (an empty frame range-partitions to nothing): preserve the
    // merged range's metadata on an empty file, written driver-side —
    // the reference's preCommitWritersInternal empty-file rule
    req match {
      case BoundaryReq(_) if layout.stripes.nonEmpty =>
        // BoundaryMultiWriter's needEmptyFile rule: an input stripe
        // whose files are ALL consumed and whose range received no
        // cells must still emit an empty metadata-carrying file, or
        // the boundary chain breaks and loadLayout demotes the whole
        // store to L0 on the next pass
        val inputSet = req.files.toSet
        val bounds = layout.boundaries
        layout.stripes.indices.foreach { i =>
          val fullyConsumed =
            layout.stripes(i).indices.forall(j => inputSet.contains((i, j)))
          val outP = new Path(tmpDir, f"w$i%05d.hfile")
          if (fullyConsumed && !fs.exists(outP)) {
            val out = fs.create(outP, true)
            try {
              HFileV3.write(out, Iterator.empty[HCell], blockSize,
                extraFileInfo = Seq(
                  StripeStartKey -> bounds(i),
                  StripeEndKey -> bounds(i + 1)))
              ()
            } finally out.close()
          }
        }
      case SplitReq(_, fromStripe, toStripe, 1, _, _)
          if Option(fs.globStatus(new Path(tmpDir, "w*.hfile")))
            .forall(_.isEmpty) =>
        val left =
          if (fromStripe == -1) OpenKey
          else layout.stripes(fromStripe).head.start
        val right =
          if (toStripe == -1) OpenKey
          else layout.stripes(toStripe).head.end
        val out = fs.create(new Path(s"$tmpDir/w00000.hfile"), true)
        try {
          HFileV3.write(out, Iterator.empty[HCell], blockSize,
            extraFileInfo = Seq(
              StripeStartKey -> left, StripeEndKey -> right))
          ()
        } finally out.close()
      case _ => ()
    }

    // commit crash-safely through the shared protocol: rename staged
    // outputs to their fresh stripe names within tmp, then
    // stage -> intent marker -> retire inputs -> land -> clean
    val written = HFiles.listFiles(fs, tmpDir, "w*.hfile").map(f => new Path(f._1))
    var next = nextStripeIndex(fs, dir)
    val outNames = written.map { p =>
      val n = f"stripe-$next%05d.hfile"
      require(fs.rename(p, new Path(tmpDir, n)), s"could not stage $n")
      next += 1
      n
    }
    Compactions.commitRewrite(fs, dir, outNames.toSeq, inputs.map(_.path))
  }
}
