package graft.flow

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.codec.HFileV3

/** Minor (file-selection) compaction — the reference's
  * ExploringCompactionPolicy
  * (hbase-server/.../compactions/ExploringCompactionPolicy.java:55-121
  * `applyCompactionPolicy`, ratio check `filesInRatio`:178, quality
  * tie-break `isBetterSelection`:142) re-expressed as a pure selection
  * over a (name, size) ladder plus a rewrite of ONLY the selected
  * files through the existing HFile machinery.
  *
  * Why it matters at scale: graft's stores accumulate one HFile set
  * per landed epoch (q84 streaming backup, [[MobFiles]] generations,
  * bulk loads). Major compaction (q62) rewrites the WHOLE store —
  * an O(store) maintenance cost per pass. The exploring policy keeps
  * write amplification bounded: it searches every contiguous window of
  * the age-ordered file ladder within [minFiles, maxFiles], keeps
  * windows whose members are mutually size-similar (each file ≤ sum of
  * the others × ratio — skipped for windows under `minCompactSize`,
  * the small-file exemption), and picks the window that retires the
  * most files for the least IO. Untouched files are left byte-for-byte
  * in place.
  *
  * Scale shape: the selection is a driver-side O(n²) scan of the
  * store's FILE ladder (n = files in ONE store, tens at most — the
  * reference runs the same loop per store on the regionserver); the
  * rewrite reads only the selected files and streams through one
  * writer task. Parallelism across a 100 TB table comes from
  * compacting many region stores concurrently, exactly like the
  * reference's per-region compaction threads.
  */
object Compactions {

  /** Knobs mirroring CompactionConfiguration.java:147-163 defaults
    * (min 3 / max 10 files, ratio 1.2; `minCompactSize` is the
    * memstore-flush-size small-file exemption, `maxCompactSize`
    * unbounded). `blockingFiles` is hbase.hstore.blockingStoreFiles
    * (default 16): a ladder at or past it flips selection into the
    * stuck-store escape hatch. `offPeakRatio` is
    * hbase.hstore.compaction.ratio.offpeak (default 5.0), consulted
    * instead of `ratio` when the hour-of-day falls inside the
    * [offPeakStartHour, offPeakEndHour) window (OffPeakHours.java:
    * -1/-1 = disabled, equal hours = disabled, start > end wraps
    * past midnight). */
  final case class Knobs(
      minFiles: Int = 3,
      maxFiles: Int = 10,
      ratio: Double = 1.2,
      minCompactSize: Long = 0L,
      maxCompactSize: Long = Long.MaxValue,
      blockingFiles: Int = 16,
      offPeakRatio: Double = 5.0,
      offPeakStartHour: Int = -1,
      offPeakEndHour: Int = -1,
      // hbase.hstore.compaction.max.size.offpeak — a LARGER window-size
      // cap for the off-peak pass (-1 inherits maxCompactSize, the
      // reference's default wiring)
      offPeakMaxCompactSize: Long = -1L,
      // time zone the off-peak hour window is expressed in. The
      // reference's CurrentHourProvider reads the JVM default zone;
      // graft defaults to UTC deliberately (a fleet of executors must
      // agree on the hour regardless of host zone) — set this to the
      // operator's local zone id to reproduce the reference's behavior
      offPeakZoneId: String = "UTC") {
    def maxCompactSizeFor(isOffPeak: Boolean): Long =
      if (isOffPeak && offPeakMaxCompactSize >= 0) offPeakMaxCompactSize
      else maxCompactSize
    /** OffPeakHoursImpl.isOffPeakHour: half-open window, wrapping when
      * start > end; disabled on -1/-1, out-of-range, or equal hours. */
    def isOffPeakHour(hour: Int): Boolean = {
      val valid = (h: Int) => h >= 0 && h <= 23
      if (!valid(offPeakStartHour) || !valid(offPeakEndHour) ||
          offPeakStartHour == offPeakEndHour) false
      else if (offPeakStartHour < offPeakEndHour)
        offPeakStartHour <= hour && hour < offPeakEndHour
      else offPeakStartHour <= hour || hour < offPeakEndHour
    }
    /** Off-peak at epoch-millis `now`, hour-of-day taken in
      * [[offPeakZoneId]] (CurrentHourProvider uses the JVM default
      * zone; graft pins UTC unless configured — see the knob's note);
      * `now < 0` = unknown, never off-peak. */
    def isOffPeak(now: Long): Boolean =
      now >= 0 && isOffPeakHour(java.time.Instant.ofEpochMilli(now)
        .atZone(java.time.ZoneId.of(offPeakZoneId)).getHour)
  }

  /** ExploringCompactionPolicy.applyCompactionPolicy:55-121, pure.
    * `sizes` is the store's file ladder in AGE order (oldest first —
    * the reference's seqId-ascending candidate order). Returns the
    * selected CONTIGUOUS index range (empty when nothing should
    * compact). `mightBeStuck` is the blocked-store escape hatch (the
    * reference sets it at blocking-file count): selection quality
    * switches to files-retired-per-byte (×1.05 replacement threshold,
    * :149) and, if nothing qualifies, falls back to the smallest
    * window seen. */
  def exploringSelect(sizes: IndexedSeq[Long], knobs: Knobs,
      mightBeStuck: Boolean = false, isOffPeak: Boolean = false): Range = {
    val n = sizes.length
    val prefix = sizes.scanLeft(0L)(_ + _)
    def winSize(s: Int, e: Int): Long = prefix(e + 1) - prefix(s)
    // getCurrentRatio: the off-peak window loosens the size-similarity
    // bar so the nightly pass can retire wider windows in one IO;
    // getMaxCompactSize(mayUseOffpeak) likewise raises the window cap
    val ratio = if (isOffPeak) knobs.offPeakRatio else knobs.ratio
    val maxCompact = knobs.maxCompactSizeFor(isOffPeak)
    // filesInRatio:178 — every member ≤ (sum of the others) × ratio;
    // the LARGEST member is the binding constraint but the loop stays
    // literal for auditability (n is tiny)
    def inRatio(s: Int, e: Int): Boolean = {
      if (e - s + 1 < 2) true
      else {
        val total = winSize(s, e)
        (s to e).forall(i => sizes(i) <= (total - sizes(i)) * ratio)
      }
    }
    var bestStart = -1; var bestEnd = -1; var bestLen = 0; var bestSize = 0L
    var smStart = -1; var smEnd = -1; var smSize = Long.MaxValue
    var start = 0
    while (start < n) {
      var end = start + knobs.minFiles - 1
      while (end < n) {
        val len = end - start + 1
        if (len >= knobs.minFiles && len <= knobs.maxFiles) {
          val size = winSize(start, end)
          // the stuck fallback tracks the smallest window BEFORE the
          // maxCompactSize gate, like the Java (:87)
          if (mightBeStuck && size < smSize) {
            smStart = start; smEnd = end; smSize = size
          }
          if (size <= maxCompact &&
              !(size >= knobs.minCompactSize && !inRatio(start, end))) {
            // isBetterSelection:142 — stuck mode keeps the selection
            // retiring the most files per byte (1.05 hysteresis);
            // normal mode: more files, then less IO
            val better =
              if (mightBeStuck && bestSize > 0 && size > 0)
                (bestLen.toDouble / bestSize) * 1.05 < len.toDouble / size
              else
                len > bestLen || (len == bestLen && size < bestSize)
            if (better) {
              bestStart = start; bestEnd = end; bestLen = len; bestSize = size
            }
          }
        }
        end += 1
      }
      start += 1
    }
    if (bestLen == 0 && mightBeStuck && smStart >= 0) smStart to smEnd
    else if (bestLen == 0) 0 until 0
    else bestStart to bestEnd
  }

  // ------------------------------------------------------------------
  // Date-tiered compaction (HBASE-15181 — DateTieredCompactionPolicy)
  // ------------------------------------------------------------------

  /** Date-tiered knobs (CompactionConfiguration.java:172-183 +
    * ExponentialCompactionWindowFactory.java:127-133 defaults: 6 h base
    * window, 4 windows per tier, incoming-window min 6; max tier /
    * store-file age unbounded). `window` is the per-window selection
    * policy's knobs (default Exploring —
    * DEFAULT_COMPACTION_POLICY_CLASS_FOR_DATE_TIERED_WINDOWS). */
  final case class DtKnobs(
      baseWindowMillis: Long = 6L * 3600000L,
      windowsPerTier: Int = 4,
      maxTierAgeMillis: Long = Long.MaxValue,
      incomingWindowMin: Int = 6,
      maxStoreFileAgeMillis: Long = Long.MaxValue,
      window: Knobs = Knobs(),
      // Heterogeneous-storage windows (HBASE-24289 —
      // CompactionConfiguration's date.tiered.*.window.storage.policy
      // knobs, defaults :183-188): newer windows land on faster media
      storagePolicyEnable: Boolean = false,
      hotWindowAgeMillis: Long = 86400000L,
      hotWindowPolicy: String = "ALL_SSD",
      warmWindowAgeMillis: Long = 604800000L,
      warmWindowPolicy: String = "ONE_SSD",
      coldWindowPolicy: String = "HOT")

  /** DateTieredCompactionPolicy.getWindowStoragePolicy:397-404: a
    * window starting within the hot age is hot, within the warm age
    * warm, else cold. Under Spark the policy string is a storage TIER
    * the deployment routes by (path prefix, lifecycle rule, bucket
    * class) — the reference sets it as an HDFS attribute, which has no
    * local-FS twin; the DECISION function is the compatible surface
    * and [[dateTieredMajorCompact]] records it per output file. */
  def windowStoragePolicy(now: Long, windowStartMillis: Long,
      dt: DtKnobs): String =
    if (windowStartMillis >= now - dt.hotWindowAgeMillis) dt.hotWindowPolicy
    else if (windowStartMillis >= now - dt.warmWindowAgeMillis)
      dt.warmWindowPolicy
    else dt.coldWindowPolicy

  /** getBoundariesStoragePolicyForMajor:386-394 — one policy per major
    * output window. Empty when the feature is off. */
  def boundariesStoragePolicyForMajor(boundaries: Seq[Long], now: Long,
      dt: DtKnobs): Map[Long, String] =
    if (!dt.storagePolicyEnable) Map.empty
    else boundaries.map(b => b -> windowStoragePolicy(now, b, dt)).toMap

  /** getBoundariesStoragePolicyForMinor:370-383 — the selected window's
    * policy, keyed Long.MinValue when the minor is single-output. */
  def boundariesStoragePolicyForMinor(singleOutput: Boolean,
      windowStartMillis: Long, now: Long, dt: DtKnobs): Map[Long, String] =
    if (!dt.storagePolicyEnable) Map.empty
    else if (singleOutput)
      Map(Long.MinValue -> windowStoragePolicy(now, windowStartMillis, dt))
    else Map(windowStartMillis -> windowStoragePolicy(now, windowStartMillis, dt))

  /** One exponential tier window
    * (ExponentialCompactionWindowFactory.Window:43-111): a timestamp t
    * is inside iff floor(t / windowMillis) == divPosition (the
    * negative-ts adjustment in compareToTimestamp makes Java's
    * truncating division behave as floor). Earlier windows grow by
    * `windowsPerTier` at tier boundaries unless the next window would
    * cross the max-tier-age cutoff; overflow semantics (checked
    * multiply clamps, the promotion-check subtraction WRAPS) mirror
    * the Java exactly — the overflow fixture depends on the wrap. */
  final case class DtWindow(windowMillis: Long, divPosition: Long,
      windowsPerTier: Int, maxTierAgeCutoff: Long) {
    def compareToTimestamp(timestamp: Long): Int = {
      var ts = timestamp
      if (ts < 0) {
        ts =
          try math.subtractExact(ts, windowMillis - 1)
          catch { case _: ArithmeticException => Long.MinValue }
      }
      val pos = ts / windowMillis
      if (divPosition == pos) 0 else if (divPosition < pos) -1 else 1
    }
    def startMillis: Long =
      try math.multiplyExact(windowMillis, divPosition)
      catch { case _: ArithmeticException => Long.MinValue }
    def endMillis: Long =
      try math.multiplyExact(windowMillis, divPosition + 1)
      catch { case _: ArithmeticException => Long.MaxValue }
    def nextEarlierWindow: DtWindow =
      if (divPosition % windowsPerTier > 0 ||
          startMillis - windowMillis * windowsPerTier < maxTierAgeCutoff)
        copy(divPosition = divPosition - 1)
      else
        DtWindow(windowMillis * windowsPerTier,
          divPosition / windowsPerTier - 1, windowsPerTier, maxTierAgeCutoff)
  }

  /** The window containing `now` (newIncomingWindow:137). */
  def incomingWindow(now: Long, dt: DtKnobs): DtWindow = {
    val cutoff =
      try math.subtractExact(now, dt.maxTierAgeMillis)
      catch { case _: ArithmeticException => Long.MinValue }
    DtWindow(dt.baseWindowMillis, now / dt.baseWindowMillis,
      dt.windowsPerTier, cutoff)
  }

  /** DateTieredCompactionPolicy.selectMinorCompaction:242-294, pure.
    * `sizes`/`maxTimestamps` are the store ladder in AGE order (oldest
    * first). Out-of-order files inherit the newest max timestamp seen
    * so far (:247-256), so every window's files form a CONTIGUOUS age
    * run and the walk proceeds newest window → oldest: the first
    * window at or past its file threshold (incoming window uses
    * `incomingWindowMin`, every earlier window the per-window
    * minFiles) whose per-window exploring selection is non-empty wins;
    * windows entirely older than `maxStoreFileAgeMillis` stop the
    * walk. `mightBeStuck` compacts the whole qualifying window
    * (generateCompactionRequest:305). Returns the selected contiguous
    * index range. */
  def dateTieredSelect(sizes: IndexedSeq[Long], maxTimestamps: IndexedSeq[Long],
      now: Long, dt: DtKnobs, mightBeStuck: Boolean = false,
      isOffPeak: Boolean = false): Range = {
    require(sizes.length == maxTimestamps.length, "ladder shape mismatch")
    val n = sizes.length
    val oldestToCompact =
      try math.subtractExact(now, dt.maxStoreFileAgeMillis)
      catch { case _: ArithmeticException => Long.MinValue }
    val eff = new Array[Long](n)
    var mx = Long.MinValue
    var k = 0
    while (k < n) { mx = math.max(mx, maxTimestamps(k)); eff(k) = mx; k += 1 }
    var window = incomingWindow(now, dt)
    var minThreshold = dt.incomingWindowMin
    var i = n - 1
    while (i >= 0) {
      if (window.compareToTimestamp(oldestToCompact) < 0) return 0 until 0
      if (window.compareToTimestamp(eff(i)) > 0) {
        // file is older than the window: move to the next earlier one
        window = window.nextEarlierWindow
        minThreshold = dt.window.minFiles
      } else {
        // collect the window's whole run (incoming tolerates future ts)
        var j = i
        while (j >= 0 && window.compareToTimestamp(eff(j)) <= 0) j -= 1
        val lo = j + 1
        if (i - lo + 1 >= minThreshold) {
          val sel =
            if (mightBeStuck) 0 to (i - lo)
            else exploringSelect(sizes.slice(lo, i + 1),
              dt.window.copy(minFiles = minThreshold),
              isOffPeak = isOffPeak)
          if (sel.nonEmpty) return (lo + sel.head) to (lo + sel.last)
        }
        i = j
      }
    }
    0 until 0
  }

  /** Window start boundaries for a MAJOR date-tiered compaction, from
    * the incoming window back past the oldest cell, ascending, with
    * Long.MinValue first (getCompactBoundariesForMajor:327-342): the
    * major output is one file per window, which is what makes
    * date-range scans prune whole files. */
  def dateTieredBoundariesForMajor(minTimestamp: Long, now: Long,
      dt: DtKnobs): Seq[Long] = {
    var w = incomingWindow(now, dt)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (w.compareToTimestamp(minTimestamp) > 0) {
      buf += w.startMillis
      w = w.nextEarlierWindow
    }
    buf += Long.MinValue
    buf.reverse.toSeq
  }

  /** One date-tiered MINOR compaction over a flat HFile store dir
    * (part-*.hfile, name order = age order): per-file max timestamps
    * come from each file's TIMERANGE FILE_INFO entry (the wire entry
    * reference readers prune timerange scans with), sizes are physical
    * bytes unless `logicalSizes` overrides. The selected run merges
    * into ONE output (single-output minor, the reference default);
    * untouched files keep their bytes. Returns selected names. */
  def dateTieredCompact(spark: SparkSession, dir: String,
      dt: DtKnobs = DtKnobs(), now: Long,
      mightBeStuck: Boolean = false,
      logicalSizes: Option[Map[String, Long]] = None,
      blockSize: Int = 65536): Seq[String] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    healStore(fs, dir)
    val files = storeFiles(fs, dir)
    val sizes = files.map { case (p, l) =>
      logicalSizes.fold(l)(_(p.getName))
    }.toIndexedSeq
    val maxTs = files.map { case (p, l) =>
      fileMaxTimestamp(fs, p, l)
    }.toIndexedSeq
    val stuck = mightBeStuck || sizes.length >= dt.window.blockingFiles
    val sel = dateTieredSelect(sizes, maxTs, now, dt, stuck,
      isOffPeak = dt.window.isOffPeak(now))
    if (sel.isEmpty) return Nil
    val selected = sel.map(files(_))
    rewriteRun(spark, fs, dir, selected, blockSize)
    selected.map(_._1.getName)
  }

  /** One date-tiered MAJOR compaction: rewrite the WHOLE store into
    * one output file per compaction window (selectMajorCompaction's
    * boundaries), so subsequent timerange reads skip whole files by
    * their TIMERANGE. Output files are renumbered in window order
    * (oldest window first — ascending boundaries). Returns the
    * boundaries used.
    *
    * Scale shape: ONE pass over the store — cells shuffle once keyed
    * by their window, each window's run streams through its own HFile
    * writer (the compactMobGenerations consolidation pattern), so read
    * amplification stays 1× however many windows the boundary walk
    * yields. */
  def dateTieredMajorCompact(spark: SparkSession, dir: String,
      dt: DtKnobs = DtKnobs(), now: Long,
      blockSize: Int = 65536): Seq[Long] = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    healStore(fs, dir)
    val files = storeFiles(fs, dir)
    if (files.isEmpty) return Nil
    val minTs = files.map { case (p, l) =>
      HFileV3.parseTimeRange(HFiles.readMeta(fs, p, l)._2).map(_._1)
        .getOrElse(Long.MaxValue)
    }.min
    val boundaries = dateTieredBoundariesForMajor(minTs, now, dt)
    val cells = HFiles.importFiles(spark,
      files.map { case (p, l) => (p.toString, l) })
    val tmpDir = s"$dir/$TmpDirName"
    val tmpPath = new Path(tmpDir)
    if (fs.exists(tmpPath)) fs.delete(tmpPath, true)
    // window index by ts against the ascending boundaries: the fold
    // wraps later (larger) boundaries outermost, so the widest
    // satisfied boundary wins — window k holds ts in
    // [boundaries(k), boundaries(k+1))
    val wixCol = boundaries.zipWithIndex.drop(1)
      .foldLeft(lit(0)) { case (acc, (b, k)) =>
        when(col("ts") >= lit(b), lit(k)).otherwise(acc)
      }
    // per-window storage policy recorded on each output's FILE_INFO
    // (the HDFS setStoragePolicy attribute has no local twin; a
    // deployment maps the string to its tiers) — tiny map, rides the
    // task closure
    val polByWix: Map[Int, Array[Byte]] =
      boundariesStoragePolicyForMajor(boundaries, now, dt)
        .map { case (b, pol) =>
          boundaries.indexOf(b) -> pol.getBytes("UTF-8")
        }
    HFiles.writeRuns(
      cells.withColumn("wix", wixCol)
        .repartition(boundaries.size, col("wix"))
        .sortWithinPartitions(col("wix"), col("row"), col("family"),
          col("qualifier"), col("ts").desc, HFiles.typeRank.desc)
        .select("row", "family", "qualifier", "ts", "type", "value", "wix"),
      tmpDir, _.getInt(6), (_, wix: Int) => f"w$wix%05d.hfile") {
      (wix, out, run) =>
        // every window output is a MAJOR result (the DT timed
        // major reads the flag back to skip re-windowed stores)
        HFileV3.write(out, run, blockSize, extraFileInfo =
          Seq("MAJOR_COMPACTION_KEY" -> Array[Byte](-1)) ++
          polByWix.get(wix).map("STORAGE_POLICY" -> _))
    }
    // commit crash-safely: renumber staged outputs oldest window
    // first (within tmp), then stage → marker → retire → land
    val written = HFiles.listFiles(fs, tmpDir, "w*.hfile").map(f => new Path(f._1))
    val outNames = written.zipWithIndex.map { case (p, i) =>
      val n = f"part-$i%05d.hfile"
      require(fs.rename(p, new Path(tmpDir, n)), s"could not stage $n")
      n
    }
    commitRewrite(fs, dir, outNames.toSeq, files.map(_._1))
    boundaries
  }

  // ------------------------------------------------------------------
  // FIFO compaction (FIFOCompactionPolicy.java:43-142)
  // ------------------------------------------------------------------

  /** FIFO "compaction": select ONLY the files whose newest cell has
    * outlived the store TTL (maxTs <= now - ttl) plus empty files
    * (HBASE-21504), and simply DROP them — no rewrite, zero write
    * amplification, the policy for pure time-series stores where data
    * expires wholesale. Returns the dropped names. */
  def fifoCompact(spark: SparkSession, dir: String, ttlMillis: Long,
      now: Long): Seq[String] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    healStore(fs, dir)
    val files = storeFiles(fs, dir)
    val expired = files.filter { case (p, l) =>
      val (trailer, info) = HFiles.readMeta(fs, p, l)
      fifoExpired(info, trailer.entryCount, ttlMillis, now)
    }
    expired.foreach { case (p, _) => fs.delete(p, false) }
    expired.map(_._1.getName)
  }

  // ------------------------------------------------------------------
  // Timed-major scheduling (SortedCompactionPolicy.getNextMajorCompactTime
  // + RatioBasedCompactionPolicy.shouldPerformMajorCompaction)
  // ------------------------------------------------------------------

  /** The jittered major-compaction deadline
    * (SortedCompactionPolicy.getNextMajorCompactTime:109-131):
    * `period` is hbase.hregion.majorcompaction (default 7 days, <= 0
    * disables), `jitterPct` hbase.hregion.majorcompaction.jitter
    * (default 0.5); the jitter delta is DETERMINISTIC per store —
    * seeded by the first file's name hash (StoreUtils
    * .getDeterministicRandomSeed) so the fleet's majors spread over
    * [period·(1-j), period·(1+j)] instead of thundering together. */
  def nextMajorCompactTime(periodMillis: Long, jitterPct: Double = 0.5,
      seed: Long = 0L): Long =
    if (periodMillis <= 0 || jitterPct <= 0) periodMillis
    else {
      val rnd = new java.util.Random(seed).nextDouble()
      val jitter = math.round(periodMillis * jitterPct)
      periodMillis + jitter - math.round(2 * jitter * rnd)
    }

  /** RatioBasedCompactionPolicy.shouldPerformMajorCompaction:94-135 as
    * a pure predicate. `fileCreateTimes` is one creation (fs
    * modification) time per store file — the reference's
    * StoreUtils.getLowestTimestamp; a major is due once the OLDEST
    * file predates `now - nextMajorCompactTime(...)`. The single-file
    * short-circuit: a store already reduced to one major-compaction
    * output with no TTL-expired content gains nothing from another
    * rewrite and is skipped (the reference's HDFS-locality override
    * has no twin here — block placement is the cluster manager's job
    * under Spark, documented divergence). */
  def shouldPerformMajorCompaction(
      fileCreateTimes: Seq[Long], now: Long,
      periodMillis: Long = 7L * 24 * 3600000L,
      jitterPct: Double = 0.5, jitterSeed: Long = 0L,
      singleFileIsMajorResult: Boolean = false,
      singleFileMinTimestamp: Option[Long] = None,
      ttlMillis: Long = Long.MaxValue): Boolean = {
    if (fileCreateTimes.isEmpty) return false
    val mcTime = nextMajorCompactTime(periodMillis, jitterPct, jitterSeed)
    if (mcTime <= 0) return false
    val lowTimestamp = fileCreateTimes.min
    if (!(lowTimestamp > 0L && lowTimestamp < now - mcTime)) return false
    if (fileCreateTimes.size == 1) {
      val oldest = singleFileMinTimestamp.map(now - _).getOrElse(Long.MinValue)
      !(singleFileIsMajorResult &&
        (ttlMillis == Long.MaxValue || oldest < ttlMillis))
    } else true
  }

  /** Run the timed major if due: the whole ladder merges into one
    * file through the crash-safe [[mergeFiles]]. Creation times are
    * the files' fs modification times (StoreUtils.getLowestTimestamp);
    * the deterministic jitter seed is the first file's name hash.
    * Returns the merged name, or None when the deadline (or the
    * single-file short-circuit) says to skip. */
  def majorCompactIfDue(spark: SparkSession, dir: String, now: Long,
      periodMillis: Long = 7L * 24 * 3600000L, jitterPct: Double = 0.5,
      ttlMillis: Long = Long.MaxValue,
      blockSize: Int = 65536): Option[String] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    healStore(fs, dir)
    val files = Option(fs.globStatus(new Path(dir, "part-*.hfile")))
      .getOrElse(Array.empty).toSeq.sortBy(_.getPath.getName)
    if (files.isEmpty) return None
    val (soleInfo, soleMajor) =
      if (files.size == 1) {
        val info = HFiles.readMeta(fs, files.head.getPath, files.head.getLen)._2
        (HFileV3.parseTimeRange(info).map(_._1), isMajorResult(info))
      } else (None, false)
    val due = shouldPerformMajorCompaction(
      files.map(_.getModificationTime), now, periodMillis, jitterPct,
      jitterSeed = files.head.getPath.getName.hashCode.toLong,
      // read back from the file's own MAJOR_COMPACTION_KEY FILE_INFO
      // (HStoreFile.isMajorCompactionResult) — a lone bulk-loaded or
      // flushed file is NOT a major output and still rewrites
      singleFileIsMajorResult = soleMajor,
      singleFileMinTimestamp = soleInfo, ttlMillis = ttlMillis)
    if (!due) None
    else Some(mergeFiles(spark, dir, files.map(_.getPath.getName),
      blockSize, major = true))
  }

  /** DefaultStoreFileManager.getCompactionPressure:247-254: 0.0 at or
    * under minFiles, 1.0 at the blocking count, linear between (> 1.0
    * means the store is already write-blocked). THE fleet signal a
    * 100 TB maintenance scheduler prioritizes stores by — compact the
    * highest-pressure stores first, skip the near-zero ones. */
  def compactionPressure(storefileCount: Int, knobs: Knobs = Knobs()): Double =
    if (storefileCount <= knobs.minFiles) 0.0
    else (storefileCount - knobs.minFiles).toDouble /
      (knobs.blockingFiles - knobs.minFiles)

  /** PressureAwareCompactionThroughputController.tune:96-112 — the IO
    * budget a compaction writer gets (bytes/sec): UNLIMITED once some
    * store passed the blocking count (pressure > 1 — unblocking beats
    * smoothing), the off-peak cap during off-peak hours (default
    * unlimited), else linear between the lower (50 MB/s) and upper
    * (100 MB/s) bounds by pressure. Under Spark this bounds a
    * maintenance job's write rate / task parallelism — the DECISION
    * function is the compatible surface. */
  def compactionThroughputLimit(pressure: Double,
      isOffPeak: Boolean = false,
      lowerBound: Long = 50L * 1024 * 1024,
      upperBound: Long = 100L * 1024 * 1024,
      offPeakLimit: Long = Long.MaxValue): Double =
    if (pressure > 1.0) Double.MaxValue
    else if (isOffPeak) offPeakLimit.toDouble
    else lowerBound + (upperBound - lowerBound) * pressure

  /** One store file as the DT major predicate sees it: creation (fs
    * modification) time, cell-timestamp range, and whether it is a
    * prior major output / a bulk load. */
  final case class DtFile(createTime: Long, minTs: Long, maxTs: Long,
      isMajorResult: Boolean, isBulkLoad: Boolean = false)

  /** DateTieredCompactionPolicy.shouldPerformMajorCompaction:168-211
    * as a pure predicate: once the jittered deadline passes
    * (isMajorCompactionTime — same clock math as the ratio policy's),
    * a DT store majors when ANY file holds TTL-expired content
    * (checkForTtl), is not a major output or is a bulk load
    * (isMajorOrBulkloadResult), straddles a window boundary, or shares
    * a window with another file; a store already laid out
    * one-major-file-per-window skips the rewrite. The HDFS
    * block-locality override has no twin here (block placement is the
    * cluster manager's job under Spark — same divergence as the ratio
    * policy's). Window indexing mirrors the Java binarySearch dance
    * over the ascending major boundaries. */
  def dateTieredShouldPerformMajorCompaction(files: Seq[DtFile], now: Long,
      dt: DtKnobs = DtKnobs(), periodMillis: Long = 7L * 24 * 3600000L,
      jitterPct: Double = 0.5, jitterSeed: Long = 0L,
      ttlMillis: Long = Long.MaxValue): Boolean = {
    if (files.isEmpty) return false
    val mcTime = nextMajorCompactTime(periodMillis, jitterPct, jitterSeed)
    if (mcTime <= 0) return false
    val low = files.map(_.createTime).min
    if (low <= 0L || low >= now - mcTime) return false
    val boundaries =
      dateTieredBoundariesForMajor(files.map(_.minTs).min, now, dt).toArray
    def wix(ts: Long): Int = {
      val i = java.util.Arrays.binarySearch(boundaries, ts)
      if (i < 0) math.abs(i + 2) else i
    }
    val seen = new Array[Boolean](boundaries.length)
    files.foreach { f =>
      if (ttlMillis != Long.MaxValue && now - f.minTs >= ttlMillis)
        return true
      if (!f.isMajorResult || f.isBulkLoad) return true
      val lo = wix(f.minTs)
      val hi = wix(f.maxTs)
      if (lo != hi) return true
      if (seen(hi)) return true
      seen(hi) = true
    }
    false
  }

  /** Run the DT timed major if [[dateTieredShouldPerformMajorCompaction]]
    * says so: file metadata comes from fs modification times + the
    * TIMERANGE / MAJOR_COMPACTION_KEY FILE_INFO entries; the rewrite is
    * the windowed [[dateTieredMajorCompact]] (NEVER the single-file
    * ratio major — that would destroy the store's windowing). Returns
    * the boundaries used, or None when not due. */
  def dateTieredMajorCompactIfDue(spark: SparkSession, dir: String,
      dt: DtKnobs = DtKnobs(), now: Long,
      periodMillis: Long = 7L * 24 * 3600000L, jitterPct: Double = 0.5,
      ttlMillis: Long = Long.MaxValue,
      blockSize: Int = 65536): Option[Seq[Long]] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    healStore(fs, dir)
    val files = Option(fs.globStatus(new Path(dir, "part-*.hfile")))
      .getOrElse(Array.empty).toSeq.sortBy(_.getPath.getName)
    if (files.isEmpty) return None
    val metas = files.map { st =>
      val info = HFiles.readMeta(fs, st.getPath, st.getLen)._2
      val (mn, mx) = HFileV3.parseTimeRange(info)
        .getOrElse((Long.MaxValue, Long.MinValue))
      DtFile(st.getModificationTime, mn, mx, isMajorResult(info))
    }
    if (!dateTieredShouldPerformMajorCompaction(metas, now, dt,
        periodMillis, jitterPct,
        jitterSeed = files.head.getPath.getName.hashCode.toLong,
        ttlMillis = ttlMillis)) None
    else Some(dateTieredMajorCompact(spark, dir, dt, now, blockSize))
  }

  /** The CompactionChecker chore (HRegionServer.CompactionChecker:
    * for each store, needsCompaction → request a minor through the
    * store's policy; else a due timed major → request it), composed
    * over a flat store as ONE idempotent pass: heal any interrupted
    * commit, then FIFO stores drop expired files, other stores try
    * the policy minor (exploring by default, date-tiered when `dt` is
    * given — both with the stuck hatch and off-peak ratio wired from
    * `now`), falling back to [[majorCompactIfDue]]. Returns what it
    * did: `minor(k)`, `major`, `fifo(k)`, or `clean`. At fleet scale
    * this is the per-store unit a maintenance pass maps over —
    * exactly the reference's chore shape, selection driver-side and
    * bounded by one store's ladder. */
  def compactionChore(spark: SparkSession, dir: String, now: Long,
      knobs: Knobs = Knobs(), dt: Option[DtKnobs] = None,
      fifoTtlMillis: Option[Long] = None,
      majorPeriodMillis: Long = 7L * 24 * 3600000L,
      jitterPct: Double = 0.5, ttlMillis: Long = Long.MaxValue,
      blockSize: Int = 65536): String = {
    healStore(spark, dir)
    fifoTtlMillis match {
      case Some(ttl) =>
        val dropped = fifoCompact(spark, dir, ttl, now)
        if (dropped.nonEmpty) s"fifo(${dropped.size})" else "clean"
      case None =>
        dt match {
          case Some(d) =>
            val minor = dateTieredCompact(spark, dir, d, now,
              blockSize = blockSize)
            if (minor.nonEmpty) s"minor(${minor.size})"
            // a DT store's major is the WINDOWED rewrite (a single-file
            // ratio major would destroy the store's windowing)
            else dateTieredMajorCompactIfDue(spark, dir, d, now,
              majorPeriodMillis, jitterPct, ttlMillis, blockSize)
              .map(_ => "major").getOrElse("clean")
          case None =>
            val minor = minorCompact(spark, dir, knobs,
              blockSize = blockSize, now = now)
            if (minor.nonEmpty) s"minor(${minor.size})"
            else majorCompactIfDue(spark, dir, now, majorPeriodMillis,
              jitterPct, ttlMillis, blockSize)
              .map(_ => "major").getOrElse("clean")
        }
    }
  }

  /** The create-time FIFO requirements
    * (TableDescriptorChecker.checkCompactionPolicy:262-300, pinned by
    * TestFIFOCompactionPolicy's three sanity cases): a FIFO store
    * must have a REAL TTL (FIFO with TTL FOREVER never drops anything
    * and the store only grows), MIN_VERSIONS = 0 (min-versions keeps
    * cells past TTL, which FIFO's whole-file drop cannot honor), and a
    * blocking-file ceiling high enough that the never-compacted ladder
    * does not write-block (recommended minimum 1000). Call where a
    * deployment selects the FIFO policy for a store — the reference
    * rejects the table descriptor at create/alter. */
  def fifoSanityCheck(ttlMillis: Long, minVersions: Int = 0,
      blockingFiles: Int = 1000): Unit = {
    require(ttlMillis > 0 && ttlMillis != Long.MaxValue,
      "Default TTL is not supported for FIFO compaction")
    require(minVersions == 0,
      "MIN_VERSION > 0 is not supported for FIFO compaction")
    require(blockingFiles >= 1000,
      s"Blocking file count 'hbase.hstore.blockingStoreFiles' " +
        s"$blockingFiles is below recommended minimum of 1000 for column family")
  }

  /** FIFO's per-file verdict (FIFOCompactionPolicy.getExpiredStores +
    * isEmptyStoreFile): a file drops when it is EMPTY (trailer
    * entryCount == 0, the reference's reader.getEntries() == 0 —
    * HBASE-21504) or when its TIMERANGE maxTs has outlived the TTL. A
    * NON-empty file with no TIMERANGE FILE_INFO entry (foreign/legacy
    * writer) has unknown age and must NEVER drop — classifying
    * missing-TIMERANGE as "empty" would silently delete live data. */
  private[graft] def fifoExpired(info: Map[String, Array[Byte]],
      entryCount: Long, ttlMillis: Long, now: Long): Boolean =
    if (entryCount == 0L) true
    else HFileV3.parseTimeRange(info) match {
      case Some((_, maxTs)) =>
        ttlMillis != Long.MaxValue && now - ttlMillis >= maxTs
      case None => false
    }

  // --- shared helpers ---

  // ------------------------------------------------------------------
  // Crash-safe commit (the MobFiles main-store-swap lesson applied to
  // every flat-store rewrite): a compaction that deletes its inputs
  // before its outputs land has a window where readers see a hole.
  // Protocol: (1) stage outputs under `<dir>/.compact.tmp`; (2) write
  // the INTENT marker `<dir>/.compact.commit` naming outputs and
  // inputs; (3) retire inputs by rename to `<name>.retired`
  // (glob-invisible, still present); (4) move outputs in; (5) drop the
  // retired files; (6) drop marker + tmp. [[healStore]] completes
  // either direction after a crash: marker present → outputs are fully
  // staged, ROLL FORWARD; no marker → nothing was retired yet (or a
  // defensive roll-back of stray .retired files), so the store is
  // whole and staging is garbage.
  // ------------------------------------------------------------------

  private val TmpDirName = ".compact.tmp"
  private val MarkerName = ".compact.commit"

  /** Complete an interrupted compaction commit. Returns a short
    * description of the action taken (for specs/logs); "clean" when
    * there was nothing to do. Call before operating on — or reading —
    * a store that may have crashed mid-compaction. */
  def healStore(spark: SparkSession, dir: String): String = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    healStore(fs, dir)
  }

  private[flow] def healStore(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): String = {
    val marker = new Path(dir, MarkerName)
    val tmp = new Path(dir, TmpDirName)
    if (fs.exists(marker)) {
      // outputs were FULLY staged before the marker: roll forward
      val in = fs.open(marker)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      val outputs = lines.collect { case l if l.startsWith("O ") => l.drop(2) }
      val inputs = lines.collect { case l if l.startsWith("R ") => l.drop(2) }
      outputs.foreach { case name =>
        val fin = new Path(dir, name)
        val staged = new Path(tmp, name)
        if (fs.exists(staged)) {
          // not landed yet: a live file with this name is the STALE
          // INPUT reusing it (commitRewrite's final-delete ordering)
          if (fs.exists(fin)) fs.delete(fin, false)
          require(fs.rename(staged, fin), s"could not land $name")
        } else {
          require(fs.exists(fin), s"staged output $name lost mid-commit")
        }
      }
      inputs.foreach { name =>
        val live = new Path(dir, name)
        val retired = new Path(dir, name + ".retired")
        if (fs.exists(live) && !outputs.contains(name)) fs.delete(live, false)
        if (fs.exists(retired)) fs.delete(retired, false)
      }
      fs.delete(marker, false)
      if (fs.exists(tmp)) fs.delete(tmp, true)
      "rolled forward"
    } else {
      // no marker: inputs were never retired — staging (if any) is
      // garbage; stray .retired files (defensive) rename back
      var acted = "clean"
      val stray = new Path(dir, MarkerName + ".staging")
      if (fs.exists(stray)) { fs.delete(stray, false); acted = "dropped staging" }
      if (fs.exists(tmp)) { fs.delete(tmp, true); acted = "dropped staging" }
      Option(fs.globStatus(new Path(dir, "*.retired")))
        .getOrElse(Array.empty).foreach { st =>
          val back = new Path(dir,
            st.getPath.getName.stripSuffix(".retired"))
          if (!fs.exists(back)) fs.rename(st.getPath, back)
          else fs.delete(st.getPath, false)
          acted = "rolled back"
        }
      acted
    }
  }

  /** Steps 2-6 of the protocol: `outputs` are (staged name under tmp →
    * final name) — staged names MUST equal their final names so the
    * marker stays a flat list; `inputs` are the store files the
    * rewrite replaces. */
  private[flow] def commitRewrite(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, outputNames: Seq[String], inputs: Seq[Path]): Unit = {
    val tmp = new Path(dir, TmpDirName)
    outputNames.foreach(n => require(fs.exists(new Path(tmp, n)),
      s"output $n not staged"))
    // marker lands atomically (write-then-rename): a torn marker
    // would roll forward with incomplete lists
    val marker = new Path(dir, MarkerName)
    val markerTmp = new Path(dir, MarkerName + ".staging")
    val out = fs.create(markerTmp, true)
    try out.write((outputNames.map("O " + _) ++
      inputs.map("R " + _.getName)).mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(markerTmp, marker), "could not commit intent marker")
    inputs.foreach { p =>
      require(fs.rename(p, new Path(dir, p.getName + ".retired")),
        s"could not retire ${p.getName}")
    }
    outputNames.foreach { n =>
      val fin = new Path(dir, n)
      if (fs.exists(fin)) fs.delete(fin, false) // an input reusing the name was retired above
      require(fs.rename(new Path(tmp, n), fin), s"could not land $n")
    }
    inputs.foreach(p => fs.delete(new Path(dir, p.getName + ".retired"), false))
    fs.delete(marker, false)
    fs.delete(tmp, true)
  }

  /** A flat store's `part-*.hfile` files with their lengths, in name
    * (= age) order. */
  private def storeFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[(Path, Long)] =
    HFiles.listFiles(fs, dir, "part-*.hfile").map { case (p, l) => (new Path(p), l) }

  private def fileMaxTimestamp(fs: org.apache.hadoop.fs.FileSystem,
      p: Path, len: Long): Long =
    HFileV3.parseTimeRange(HFiles.readMeta(fs, p, len)._2)
      .map(_._2).getOrElse(Long.MinValue)

  /** Merge an explicit set of store files into one (the normalizer's
    * MergeNormalizationPlan executor over a flat store) — heals any
    * interrupted commit first, then rewrites crash-safely. Returns the
    * merged file's name (the first input's). */
  def mergeFiles(spark: SparkSession, dir: String, names: Seq[String],
      blockSize: Int = 65536, major: Boolean = false): String = {
    require(names.nonEmpty, "nothing to merge")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    healStore(fs, dir)
    val files = names.map { n =>
      val st = fs.getFileStatus(new Path(dir, n))
      (st.getPath, st.getLen)
    }
    rewriteRun(spark, fs, dir, files, blockSize, major)
    names.head
  }

  /** StoreFileWriter.appendMetadata's MAJOR_COMPACTION_KEY FILE_INFO
    * entry (Bytes.toBytes(boolean): one byte, -1 true / 0 false) —
    * every compaction output records whether it was a MAJOR rewrite,
    * and the timed-major single-file short-circuit reads it back. */
  private[graft] val MajorCompactionKey = "MAJOR_COMPACTION_KEY"
  private def boolBytes(b: Boolean): Array[Byte] =
    Array[Byte](if (b) -1 else 0)
  private[graft] def isMajorResult(info: Map[String, Array[Byte]]): Boolean =
    info.get(MajorCompactionKey).exists(v => v.nonEmpty && v(0) != 0)

  /** Merge-rewrite a selected contiguous run into one file named after
    * the first input, committed crash-safely through [[commitRewrite]]
    * (stage → intent marker → retire inputs → land → clean). */
  private def rewriteRun(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String,
      selected: Seq[(Path, Long)], blockSize: Int,
      major: Boolean = false): Unit = {
    val tmpDir = s"$dir/$TmpDirName"
    val tmpPath = new Path(tmpDir)
    if (fs.exists(tmpPath)) fs.delete(tmpPath, true)
    HFiles.export(
      HFiles.importFiles(spark, selected.map { case (p, l) => (p.toString, l) }),
      numRegions = 1, outPath = tmpDir, blockSize = blockSize,
      extraFileInfo = Seq(MajorCompactionKey -> boolBytes(major)))
    val outName = selected.head._1.getName
    require(fs.rename(new Path(s"$tmpDir/part-00000.hfile"),
      new Path(tmpDir, outName)) || outName == "part-00000.hfile",
      s"could not stage $outName")
    commitRewrite(fs, dir, Seq(outName), selected.map(_._1))
  }

  /** Run one exploring minor compaction over a flat HFile store
    * directory (`part-*.hfile`, name order = age order, oldest
    * first): select with [[exploringSelect]] on the files' sizes
    * (physical bytes by default; `logicalSizes` overrides with a
    * caller-computed metric when the selection must be reproducible
    * from the data alone), rewrite ONLY the selected run into one
    * merged file named after the first selected input
    * (write-to-tmp, delete inputs, rename — the commit-by-rename the
    * reference performs through its tmp/archive dirs), and leave
    * every other file untouched. Returns the selected file names
    * (empty = store already compact, nothing rewritten). */
  def minorCompact(spark: SparkSession, dir: String,
      knobs: Knobs = Knobs(), mightBeStuck: Boolean = false,
      logicalSizes: Option[Map[String, Long]] = None,
      blockSize: Int = 65536, now: Long = -1L): Seq[String] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    healStore(fs, dir)
    val files = storeFiles(fs, dir)
    val sizes = files.map { case (p, l) =>
      logicalSizes.fold(l)(_(p.getName))
    }.toIndexedSeq
    // the stuck-store escape hatch is computed from the ladder itself
    // (SortedCompactionPolicy.selectCompaction: candidate count >=
    // hbase.hstore.blockingStoreFiles), not only the caller's flag
    val stuck = mightBeStuck || sizes.length >= knobs.blockingFiles
    val sel = exploringSelect(sizes, knobs, stuck,
      isOffPeak = knobs.isOffPeak(now))
    if (sel.isEmpty) return Nil

    val selected = sel.map(files(_))
    // merge-rewrite the selected run: one output file per compaction,
    // like the reference's single StoreFileWriter per minor compaction
    rewriteRun(spark, fs, dir, selected, blockSize)
    selected.map(_._1.getName)
  }
}
