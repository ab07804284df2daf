package graft.flow

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.codec.HFileV3

/** Region split policies — the reference's RegionSplitPolicy family
  * (hbase-server/.../regionserver/): WHEN a region should split and
  * WHERE, re-expressed over graft's flat HFile stores.
  *
  * WHEN (shouldSplit): size triggers against per-store sizes —
  *  - ConstantSize (ConstantSizeRegionSplitPolicy.java:80): any store
  *    (or the region total with OVERALL_HREGION_FILES) past
  *    `desiredMaxFileSize`.
  *  - IncreasingToUpperBound
  *    (IncreasingToUpperBoundRegionSplitPolicy.java:75,115): the bound
  *    ramps as `initialSize × count³` (count = this server's regions
  *    of the table) up to the max — young tables split eagerly and
  *    spread, old tables settle at the max size.
  *  - Stepping (SteppingSplitPolicy.java:35): one region → 2×flush,
  *    otherwise the max — the modern default's simpler ramp.
  *
  * WHERE (getSplitPoint, RegionSplitPolicy.java:75): the LARGEST
  * store's split point = its largest file's index MID KEY row
  * ([[HFileV3.midKeyRow]] — a 2-3 block read off the data index,
  * never a data scan), then the policy adjustment:
  *  - KeyPrefix (KeyPrefixRegionSplitPolicy.java:80): truncate to
  *    `prefixLength` so rows sharing a prefix can never straddle
  *    daughters.
  *  - DelimitedKeyPrefix (DelimitedKeyPrefixRegionSplitPolicy.java:68):
  *    truncate at the first delimiter occurrence.
  *    (The 3.x RegionSplitRestriction replacements —
  *    KeyPrefixRegionSplitRestriction / DelimitedKeyPrefix… — apply
  *    the IDENTICAL truncations at checkSplit time; these adjusters
  *    are the twins of both generations.)
  *
  * Scale: both halves are metadata-only — sizes from file status,
  * the split row from the index — so deciding splits across a 100 TB
  * table's regions costs a few preads per region, exactly like the
  * reference's region server. Daughter materialization reuses the
  * TOP/BOTTOM half-reader semantics (q87's Reference twin): no cell
  * is rewritten by the split itself.
  */
object SplitPolicies {

  /** Knobs: `desiredMaxFileSize` is POST-jitter (the reference draws
    * ±12% at configure time — graft takes the drawn value as input so
    * decisions stay deterministic); `initialSize` is the reference's
    * 2 × memstore-flush default. */
  final case class SpKnobs(
      desiredMaxFileSize: Long,
      initialSize: Long,
      overallRegionFiles: Boolean = false)

  /** isExceedSize (ConstantSizeRegionSplitPolicy.java:96): any single
    * store past the bound, or the region total with
    * OVERALL_HREGION_FILES. */
  private def isExceed(storeSizes: Seq[Long], bound: Long,
      overall: Boolean): Boolean =
    if (overall) storeSizes.sum > bound
    else storeSizes.exists(_ > bound)

  def constantSizeShouldSplit(storeSizes: Seq[Long], k: SpKnobs): Boolean =
    isExceed(storeSizes, k.desiredMaxFileSize, k.overallRegionFiles)

  /** IncreasingToUpperBound's ramp: count³ × initialSize capped at the
    * max (guarding count 0 / >100 like the Java). */
  def increasingSizeToCheck(tableRegionsCount: Int, k: SpKnobs): Long =
    if (tableRegionsCount == 0 || tableRegionsCount > 100) k.desiredMaxFileSize
    else math.min(k.desiredMaxFileSize,
      k.initialSize * tableRegionsCount * tableRegionsCount * tableRegionsCount)

  def increasingShouldSplit(storeSizes: Seq[Long], tableRegionsCount: Int,
      k: SpKnobs): Boolean =
    isExceed(storeSizes, increasingSizeToCheck(tableRegionsCount, k),
      k.overallRegionFiles)

  def steppingShouldSplit(storeSizes: Seq[Long], tableRegionsCount: Int,
      k: SpKnobs): Boolean =
    isExceed(storeSizes,
      if (tableRegionsCount == 1) k.initialSize else k.desiredMaxFileSize,
      k.overallRegionFiles)

  /** BusyRegionSplitPolicy's time-weighted blocked-request rate
    * (BusyRegionSplitPolicy.java:132-156): the rate over the last
    * aggregation window, blended with the current partial window by
    * time slice; zero until one full window has elapsed. Clock and
    * counters are explicit inputs so the tracker is deterministic
    * (the reference samples wall time and live region counters). */
  final class BusyTracker(startTime: Long, startBlocked: Long,
      startWrites: Long, aggregationWindowMs: Long = 300000L) {
    require(aggregationWindowMs > 0, "aggregation window must be positive")
    private var prevTime = startTime
    private var blockedRate = 0f
    private var blockedCount = startBlocked
    private var writeCount = startWrites
    def updateRate(now: Long, blocked: Long, writes: Long): Float = {
      var agg = (blocked - blockedCount) / (writes - writeCount + 0.00001f)
      if (now - prevTime >= aggregationWindowMs) {
        blockedRate = agg
        prevTime = now
        blockedCount = blocked
        writeCount = writes
      } else if (now - startTime >= aggregationWindowMs) {
        val slice = (now - prevTime) / (aggregationWindowMs + 0.0f)
        agg = (1 - slice) * blockedRate + slice * agg
      } else agg = 0.0f
      agg
    }
  }

  /** BusyRegionSplitPolicy.shouldSplit:102: the Increasing policy's
    * size trigger, OR a region old enough whose blocked-write rate
    * reached the threshold (default 20% over a 5-minute window). */
  def busyShouldSplit(storeSizes: Seq[Long], tableRegionsCount: Int,
      k: SpKnobs, blockedRate: Float, regionAgeMs: Long,
      minAgeMs: Long = 600000L,
      maxBlockedRequests: Float = 0.2f): Boolean =
    increasingShouldSplit(storeSizes, tableRegionsCount, k) ||
      (regionAgeMs >= minAgeMs && blockedRate >= maxBlockedRequests)

  /** DisabledRegionSplitPolicy: never split (the trivial member that
    * completes the RegionSplitPolicy enum). */
  def disabledShouldSplit: Boolean = false

  /** KeyPrefixRegionSplitPolicy.getSplitPoint:80. */
  def keyPrefixAdjust(splitPoint: Array[Byte], prefixLength: Int): Array[Byte] =
    if (prefixLength > 0 && splitPoint != null && splitPoint.nonEmpty)
      java.util.Arrays.copyOf(splitPoint, math.min(prefixLength, splitPoint.length))
    else splitPoint

  /** DelimitedKeyPrefixRegionSplitPolicy.getSplitPoint:68 — truncate
    * at the first delimiter; no delimiter leaves the point whole. */
  def delimitedPrefixAdjust(splitPoint: Array[Byte],
      delimiter: Array[Byte]): Array[Byte] = {
    if (splitPoint == null || delimiter == null || delimiter.isEmpty)
      return splitPoint
    var i = 0
    while (i <= splitPoint.length - delimiter.length) {
      var j = 0
      while (j < delimiter.length && splitPoint(i + j) == delimiter(j)) j += 1
      if (j == delimiter.length)
        return java.util.Arrays.copyOf(splitPoint, math.min(i, splitPoint.length))
      i += 1
    }
    splitPoint
  }

  /** The WHERE half over a flat HFile store dir: the largest file's
    * index mid-key row (RegionSplitPolicy.getSplitPoint picks the
    * largest store; within graft's one-store region that is the
    * largest file). Metadata-only: trailer + root index (+ one leaf)
    * + FILE_INFO preads. */
  def storeSplitPoint(spark: SparkSession, dir: String,
      glob: String = "part-*.hfile"): Option[Array[Byte]] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = HFiles.listFiles(fs, dir, glob)
    if (files.isEmpty) return None
    val (largest, len) = files.maxBy(_._2)
    HFiles.withStoreFile(fs, new Path(largest), len)(HFileV3.midKeyRow(_, len))
  }

  /** Execute a SplitNormalizationPlan over ONE store file inside a
    * flat store: split at the file's index mid key into two files
    * `<base>-bot` / `<base>-top` via half-read rewrites, committed
    * crash-safely (a REGION-level split would use Reference files —
    * q87; a file split within one store rewrites). Returns the two
    * names, or None when the file is mid-key degenerate. */
  def splitStoreFile(spark: SparkSession, dir: String, name: String,
      blockSize: Int = 65536): Option[(String, String)] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Compactions.healStore(fs, dir)
    val st = fs.getFileStatus(new Path(dir, name))
    val mid = HFiles.withStoreFile(fs, st.getPath, st.getLen)(
      HFileV3.midKeyRow(_, st.getLen))
    mid.map { splitRow =>
      val base = name.stripSuffix(".hfile")
      val bot = s"$base-bot.hfile"
      val top = s"$base-top.hfile"
      val tmp = s"$dir/.compact.tmp"
      val tmpPath = new Path(tmp)
      if (fs.exists(tmpPath)) fs.delete(tmpPath, true)
      Seq((bot, false), (top, true)).foreach { case (out, isTop) =>
        val half = HFiles.importFilesFiltered(spark,
          Seq((st.getPath.toString, st.getLen, Some((splitRow, isTop)))))
        val stage = graft.Queries.scratchDir(s"split_$out")
        HFiles.export(half, numRegions = 1, outPath = stage,
          blockSize = blockSize)
        fs.mkdirs(tmpPath)
        require(fs.rename(new Path(s"$stage/part-00000.hfile"),
          new Path(tmp, out)), s"could not stage $out")
      }
      Compactions.commitRewrite(fs, dir, Seq(bot, top), Seq(st.getPath))
      (bot, top)
    }
  }

  /** Materialize the two daughters of a split at `splitRow` as
    * TOP/BOTTOM half-reads over the parent store — the Reference-file
    * semantics (HalfStoreFileReader: BOTTOM = rows strictly below the
    * split row, TOP = the split row and up) with no cell rewritten. */
  def daughters(spark: SparkSession, dir: String, splitRow: Array[Byte],
      glob: String = "part-*.hfile"): (DataFrame, DataFrame) = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = HFiles.listFiles(fs, dir, glob)
    val bottom = HFiles.importFilesFiltered(spark,
      files.map { case (p, l) => (p, l, Some((splitRow, false))) })
    val top = HFiles.importFilesFiltered(spark,
      files.map { case (p, l) => (p, l, Some((splitRow, true))) })
    (bottom, top)
  }
}
