package graft.flow

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** The hbase-mapreduce batch dataflow jobs (SURVEY §2.7) as DataFrame
  * jobs. Each is a declarative plan: Catalyst handles pushdown, AQE
  * sizes the shuffles, and the cell-coordinate joins shuffle once on
  * their natural key.
  */
object Jobs {

  // `type` is part of cell identity (a Put and a DeleteColumn can share
  // (row,family,qualifier,ts) — WalStream.applySink documents the same
  // contract), so it joins the diff key and the digests below.
  private val cellKey = Seq("row", "family", "qualifier", "ts", "type")

  /** Shared family-rename column: chained when/otherwise over the map. */
  private def renameFamily(renames: Map[String, String]): Column =
    renames.foldLeft(col("family")) { case (c, (from, to)) =>
      when(col("family") === from, lit(to)).otherwise(c)
    }

  /** D1 RowCounter (RowCounter.java:60): COUNT(rows) after filters. */
  def rowCounter(cells: DataFrame, pred: Option[Column] = None): DataFrame =
    pred.fold(cells)(cells.filter)
      .agg(count_distinct(col("row")).as("rows"))

  /** D2 CellCounter (CellCounter.java:73): per-(family,qualifier)
    * cardinalities — cell count, distinct versions, value bytes. */
  def cellCounter(cells: DataFrame): DataFrame =
    cells
      .groupBy("family", "qualifier")
      .agg(
        count(lit(1)).as("cells"),
        count_distinct(col("ts")).as("versions"),
        coalesce(sum(length(col("value"))), lit(0L)).as("value_bytes")
      )

  /** D5 CopyTable (CopyTable.java:55): filtered copy with optional
    * family rename — a scan→(rename)→write pipeline. */
  def copyTable(cells: DataFrame, pred: Option[Column],
      familyRename: Map[String, String], outPath: String): Unit = {
    val filtered = pred.fold(cells)(cells.filter)
    val renamed = if (familyRename.isEmpty) filtered
      else filtered.withColumn("family", renameFamily(familyRename))
    renamed.write.mode(SaveMode.Overwrite).parquet(outPath)
  }

  /** D6 HashTable/SyncTable (HashTable.java:64, SyncTable.java:64):
    * per-cell divergence detail — full-outer join on the cell
    * coordinates, classify each coordinate. This is the DETAIL tool;
    * the scale-safe counting entry points ([[syncDiffCounts]],
    * [[verifyReplication]]) run it only on rows whose content digests
    * already disagree, mirroring the reference's two-phase design
    * (hash batches first, sync only unequal ranges).
    */
  def syncDiff(src: DataFrame, dst: DataFrame): DataFrame = {
    val s = src.select(cellKey.map(col) :+ col("value").as("src_value"): _*)
    val d = dst.select(cellKey.map(col) :+ col("value").as("dst_value"): _*)
    s.withColumn("__s", lit(1))
      .join(d.withColumn("__d", lit(1)), cellKey, "full_outer")
      .withColumn("class",
        when(col("__s").isNull, lit("dst_only"))
          .when(col("__d").isNull, lit("src_only"))
          .when(col("src_value") <=> col("dst_value"), lit("matched"))
          .otherwise(lit("mismatch")))
  }

  /** Phase 1 of the two-phase diff: one order-independent content
    * digest per row (cell count + XOR of per-cell xxhash64; XOR never
    * overflows under ANSI and cells are coordinate-unique, so nothing
    * self-cancels) — a single partial+final aggregate that moves
    * row-count rows, never cells. The digest is the analogue of
    * HashTable's batch hashes; as there, a collision (different
    * content, equal digest) is theoretically possible and accepted
    * (2^-64 per row). */
  private def rowSummary(df: DataFrame, pfx: String): DataFrame =
    df.withColumn("__ch", xxhash64(col("family"), col("qualifier"), col("ts"),
        col("type"), col("value").isNull, coalesce(col("value"), lit(""))))
      .groupBy("row").agg(
        count(lit(1)).as(s"${pfx}n"),
        expr("bit_xor(__ch)").as(s"${pfx}h"))

  /** Summaries full-outer joined; `__eq` = both sides present with the
    * same count and digest. */
  private def summaryJoin(src: DataFrame, dst: DataFrame): DataFrame =
    rowSummary(src, "s").join(rowSummary(dst, "d"), Seq("row"), "full_outer")
      .withColumn("__eq",
        col("sn").isNotNull && col("dn").isNotNull &&
          col("sn") === col("dn") && col("sh") === col("dh"))

  /** D6 summary: per-class counts (SyncTable counters), hash-first.
    * Digest-equal rows contribute their cell count as `matched`
    * without being joined; only digest-unequal rows (a tiny fraction
    * of a healthy replica pair) reach the per-cell full-outer diff.
    * No broadcast hint on the divergent-row list: AQE broadcasts it
    * when it is actually small, and a fully-diverged pair (first sync
    * against an empty replica) degrades to a shuffle join instead of
    * an over-limit broadcast. */
  def syncDiffCounts(src: DataFrame, dst: DataFrame): DataFrame = {
    // Deliberately lazy and NOT persisted/checkpointed: the digest
    // aggregates are map-side-combined scans of the (cached / bucketed)
    // cell store, so recomputing the summary join once per consumer is
    // cheap and fully fault-tolerant, while persist's unreplicated
    // blocks would make a 100 TB sync die on any executor loss (the
    // reference durably WRITES its hash files — HashTable.java:64 — and
    // the Spark analogue of that durability is lineage, not caching;
    // when the inputs share a layout ReuseExchange dedups the shared
    // shuffle anyway).
    val j = summaryJoin(src, dst)
    // Rows on one side only classify arithmetically (every cell is
    // src_only/dst_only) and digest-equal rows are all matched — no
    // cell ever moves for them. Only rows present on BOTH sides with
    // unequal digests (the truly-divergent set, tiny on a healthy
    // pair) reach the per-cell full-outer detail join.
    val arith = j.agg(
        coalesce(sum(when(col("__eq"), col("sn"))), lit(0L)).as("m"),
        coalesce(sum(when(col("sn").isNull, col("dn"))), lit(0L)).as("d"),
        coalesce(sum(when(col("dn").isNull, col("sn"))), lit(0L)).as("s"))
      .select(expr(
        "stack(3, 'matched', m, 'dst_only', d, 'src_only', s) AS (class, n)"))
    val bothDiff = j
      .filter(!col("__eq") && col("sn").isNotNull && col("dn").isNotNull)
      .select("row")
    val detail = syncDiff(
        src.join(bothDiff, Seq("row"), "left_semi"),
        dst.join(bothDiff, Seq("row"), "left_semi"))
      .groupBy("class").agg(count(lit(1)).as("n"))
    detail.unionByName(arith)
      .groupBy("class").agg(sum(col("n")).as("n"))
      .filter(col("n") > 0)
      .orderBy("class")
  }

  /** D8 VerifyReplication (replication/VerifyReplication.java): per-row
    * good/bad/only-in-one classification, computed ENTIRELY from the
    * row digests — a row present on both sides is `good` iff its cell
    * multisets agree (digest-equal) and `bad` otherwise, so no cell
    * ever moves: one digest aggregate per side plus one co-partitioned
    * row join, the reference's own HashTable classification. */
  def verifyReplication(src: DataFrame, dst: DataFrame): DataFrame =
    summaryJoin(src, dst)
      .withColumn("row_class",
        when(col("sn").isNull, lit("only_in_target"))
          .when(col("dn").isNull, lit("only_in_source"))
          .when(col("__eq"), lit("good"))
          .otherwise(lit("bad")))
      .groupBy("row_class").agg(count(lit(1)).as("rows"))
      .orderBy("row_class")

  /** VerifyReplication's SNAPSHOT mode (VerifyReplication.java
    * sourceSnapshotName/peerSnapshotName + the restore-dir scan): both
    * sides pin to a manifest-enumerated snapshot
    * ([[graft.flow.SnapshotShip.importSnapshot]]) instead of the live
    * tables, so a verification sweep sees one consistent point in time
    * on each cluster — writes landing DURING the (long) comparison of
    * a 100 TB table cannot smear the classification. Classification
    * itself is [[verifyReplication]]'s digest join. */
  def verifyReplicationSnapshots(spark: org.apache.spark.sql.SparkSession,
      srcRoot: String, srcSnapshot: String,
      peerRoot: String, peerSnapshot: String): DataFrame =
    verifyReplication(
      graft.flow.SnapshotShip.importSnapshot(spark, srcRoot, srcSnapshot),
      graft.flow.SnapshotShip.importSnapshot(spark, peerRoot, peerSnapshot))

  /** Major compaction (Admin.majorCompact, Admin.java; executed by
    * Compactor.java / DefaultCompactor over the store): rewrite the
    * store keeping only cells a fresh scan could still return under
    * the family descriptor — versions beyond maxVersions, TTL-expired
    * cells (beyond MIN_VERSIONS), tombstoned cells AND the now-useless
    * tombstone markers themselves all drop out. That retention policy
    * is exactly the §2.4 read-time resolve with the descriptor knobs
    * and no scan-level narrowing, so compaction IS
    * [[graft.read.Resolve.latest]] materialized: any standard scan
    * over the compacted store equals the same scan over the original
    * (CompactionSpec asserts the invariant), while raw/time-travel
    * reads lose history — the same trade the reference makes
    * (KEEP_DELETED_CELLS=FALSE). Pair with
    * [[graft.write.BucketedStore]] to persist the rewrite in region
    * layout; the rewrite plans as one resolve pass, grouped on the
    * store's own row layout, feeding the range-partitioned sorted
    * writer. */
  def majorCompact(cells: DataFrame, maxVersions: Int = 1,
      ttlCutoff: Option[Long] = None, minVersions: Int = 0,
      observers: Seq[graft.read.WriteObserver] = Nil): DataFrame = {
    val resolved = graft.read.Resolve.latest(cells, maxVersions,
      ttlCutoff = ttlCutoff, minVersions = minVersions)
    // preCompact hooks wrap the rewrite stream in registration order
    // (RegionObserver.preCompact wraps the compaction scanner the same
    // way); still a plain plan transform, so Catalyst optimizes through
    observers.foldLeft(resolved)((df, o) => o.preCompact(df))
  }

  /** D3 Export (mapreduce/Export.java:43): dump a scan to files. */
  def export(cells: DataFrame, pred: Option[Column], outPath: String): Unit =
    pred.fold(cells)(cells.filter).write.mode(SaveMode.Overwrite).parquet(outPath)

  /** D3 Import (Import.java:88): re-ingest with optional filter +
    * family rename. */
  def importCells(spark: org.apache.spark.sql.SparkSession, path: String,
      pred: Option[Column] = None, familyRename: Map[String, String] = Map.empty): DataFrame = {
    val df = spark.read.parquet(path)
    val filtered = pred.fold(df)(df.filter)
    if (familyRename.isEmpty) filtered
    else filtered.withColumn("family", renameFamily(familyRename))
  }

  /** D4 ImportTsv (ImportTsv.java:75): parse TSV into Put cells given a
    * column spec like HBASE_ROW_KEY, d:q1, d:q2 (typed column spec). */
  def importTsv(spark: org.apache.spark.sql.SparkSession, path: String,
      columnSpec: Seq[String], ts: Long = 1L): DataFrame = {
    import graft.model.CellType
    val raw = spark.read.option("sep", "\t").csv(path)
    val keyIdx = columnSpec.indexOf("HBASE_ROW_KEY")
    require(keyIdx >= 0, "columnSpec must contain HBASE_ROW_KEY")
    val cellCols = columnSpec.zipWithIndex.filter(_._1 != "HBASE_ROW_KEY")
    val cellArr = array(cellCols.map { case (spec, i) =>
      val Array(fam, qual) = spec.split(":", 2)
      struct(lit(fam).as("family"), lit(qual).as("qualifier"),
        col(s"_c$i").as("value"))
    }: _*)
    raw.select(col(s"_c$keyIdx").as("row"), explode(cellArr).as("cell"))
      .select(col("row"), col("cell.family").as("family"),
        col("cell.qualifier").as("qualifier"), lit(ts).as("ts"),
        lit(CellType.Put).as("type"), col("cell.value").as("value"))
  }

  /** D7 WALPlayer (WALPlayer.java:76): replay WAL entries into a table.
    * `timeRange` is the [start, end) entry-ts window; `rowRemap` is the
    * table-remap analogue (replaying into a differently-keyed target);
    * `bulkLoadMode` mirrors the HFile output path, which replays Puts
    * only (deletes cannot be expressed in bulk-loaded HFiles). The
    * replayed entries merge idempotently into any cell set downstream
    * (union + Resolve) because cell coordinates are the identity.
    */
  def walPlayer(wal: DataFrame, timeRange: Option[(Long, Long)] = None,
      rowRemap: Option[Column => Column] = None,
      bulkLoadMode: Boolean = false): DataFrame = {
    // meta markers (compaction/flush/region-event/bulk-load descriptors,
    // WALEdit.METAFAMILY) are coordination metadata — WALPlayer replays
    // data edits only, like the reference's WALPlayer map() skip
    val data = graft.stream.WalMeta.dataOnly(wal)
    val ranged = timeRange.fold(data) { case (lo, hi) =>
      data.filter(col("ts") >= lo && col("ts") < hi)
    }
    val typed = if (bulkLoadMode) ranged.filter(col("type") === graft.model.CellType.Put)
      else ranged
    rowRemap.fold(typed)(f => typed.withColumn("row", f(col("row"))))
  }

  /** D9 full backup (hbase-backup/.../impl/FullTableBackupClient): a
    * snapshot of the cell set at `watermarkTs` — every cell whose ts is
    * ≤ the backup watermark. */
  def fullBackup(cells: DataFrame, watermarkTs: Long): DataFrame =
    cells.filter(col("ts") <= watermarkTs)

  /** D9 incremental backup (IncrementalTableBackupClient): the WAL
    * delta in (fromTs, toTs] since the previous backup's watermark. */
  def incrementalBackup(wal: DataFrame, fromTs: Long, toTs: Long): DataFrame =
    wal.filter(col("ts") > fromTs && col("ts") <= toTs)

  /** D9 backup image merge (hbase-backup/.../mapreduce/
    * MapReduceBackupMergeJob.java:61): collapse a chain of k incremental
    * backup images into ONE image so restore chains stay bounded — the
    * reference replays every image's store files through
    * MapReduceHFileSplitterJob into a single new image keyed by the most
    * recent backup id, then deletes the superseded images.
    *
    * graft additionally applies the compaction retention the judge of a
    * merged chain can safely apply (the same trade q62's majorCompact
    * makes): a Put masked by a tombstone WITHIN the merged range can
    * never be visible again over any (full ∪ merged) restore — the
    * masking marker itself is retained, so it keeps masking the full
    * image too — and Put versions beyond `maxVersions` per column can
    * never win the version gate, because the backup watermark protocol
    * makes per-coordinate ts ranges disjoint and ordered (full ≤ W0 <
    * every incremental ts), so the merged top-k are globally top-k.
    * What is lost is exactly what major compaction loses: time-travel
    * (KEEP_DELETED_CELLS) reads below the merged range's tombstones.
    *
    * ALL delete markers are retained verbatim (unlike majorCompact):
    * they must keep masking the FULL image at restore — dropping them
    * would resurrect pre-watermark versions. Scale: the masking and the
    * version trim are ONE resolve pass (at most one row exchange over
    * the unioned images) — the same plan as a read.
    *
    * Invariant (CompactionSpec + q91): for any reader maxVersions ≤ the
    * merge `maxVersions`,
    *   Resolve.latest(restore(full, Seq(merge(incs)))) ≡
    *   Resolve.latest(restore(full, incs)).
    * The version trim is a DIVERGENCE from the reference merge (which
    * only splits/replays store files) whenever `maxVersions <
    * Int.MaxValue` and the reader gates BEFORE version counting:
    * KEEP_DELETED_CELLS time-travel below the merged tombstones, AND
    * any time-ranged or cellFilter'd read at the merged recovery point
    * (Resolve.latest applies timeRange/cellFilter before the version
    * gate, so a Put the merge's UNfiltered gate dropped can be the
    * filtered read's top-k winner). Callers needing those read shapes
    * must merge with the default maxVersions = Int.MaxValue (pure
    * tombstone retention — always equivalent) and trim in an explicit
    * separate step. The trim's correctness for plain reads also
    * assumes the backup watermark protocol's disjoint ordered ts
    * ranges across the input images.
    */
  def mergeBackupImages(incrementals: Seq[DataFrame],
      maxVersions: Int = Int.MaxValue): DataFrame = {
    require(incrementals.nonEmpty, "nothing to merge")
    import graft.model.CellType
    val all = incrementals.reduce(_ unionByName _)
    val tombs = all.filter(col("type") =!= CellType.Put)
    graft.read.Resolve.latest(all, maxVersions).unionByName(tombs)
  }

  /** [[mergeBackupImages]] landed durably — the deployment shape. The
    * reference merge job WRITES the merged image to the backup
    * filesystem and deletes the superseded ones
    * (MapReduceBackupMergeJob.java:61 ff — the merged HFiles land
    * under the most recent backup id before any restore reads them);
    * a merged image is a durable artifact, not a view. Landing also
    * severs the lineage: the lazy merge frame is a union + resolve
    * pass, and every downstream restore/Resolve would re-evaluate that
    * whole subplan (the q62/q68/q71 precedent). Returns the read-back
    * of the written store. */
  def mergeBackupImagesLanded(spark: org.apache.spark.sql.SparkSession,
      incrementals: Seq[DataFrame], table: String, path: String,
      maxVersions: Int = Int.MaxValue, buckets: Int = 8): DataFrame = {
    // Stage the input chain as a materialized frame first: the
    // reference merge reads its input images FROM the backup
    // filesystem (durable HFile sets), so the mask/window legs inside
    // the merge scan cheap flat storage instead of re-evaluating each
    // image's upstream lineage once per leg (the q91 multiplier).
    // r17-opt: localCheckpoint instead of a scratch parquet
    // write+read+delete round-trip — the legs scan the checkpointed
    // partitions; the MERGED image below stays the durable artifact
    // (the staging copy was explicitly scratch, never part of it).
    val staged = incrementals.reduce(_ unionByName _).localCheckpoint()
    try {
      graft.write.BucketedStore.write(
        mergeBackupImages(Seq(staged), maxVersions),
        table, path, buckets)
    } finally {
      // the staging copy is consumed entirely by the bucketed write —
      // release its MEMORY_AND_DISK blocks instead of waiting for the
      // ContextCleaner (advisor r17: repeated merges in a long session
      // otherwise accumulate checkpointed blocks)
      staged.unpersist()
    }
    graft.write.BucketedStore.read(spark, table)
  }

  /** D9 restore (RestoreTablesClient): replay the full image plus the
    * incremental chain, newest-wins. Because cells are identified by
    * their full coordinate, restore is a plain union — version/tombstone
    * reconciliation happens at read time (Resolve), the same
    * merge-on-read the reference performs across HFiles of different
    * ages. Restoring through watermark W yields the table AS OF W
    * (point-in-time restore). */
  def restore(full: DataFrame, incrementals: Seq[DataFrame]): DataFrame =
    incrementals.foldLeft(full)(_ unionByName _)

  /** BulkDeleteEndpoint (hbase-examples
    * .../example/BulkDeleteEndpoint.java:120-235): delete-by-scan as
    * marker generation. The scan (with its filter) defines the matched
    * USER-VISIBLE cells (the endpoint opens a normal region scanner);
    * each matched row folds into one Delete mutation whose markers
    * depend on `deleteType`:
    *   - ROW:     Delete(row, ts) with no adds — masks every family of
    *              the table (the endpoint scans FirstKeyOnly; the
    *              Delete covers all CFs), so DeleteFamily × all store
    *              families
    *   - FAMILY:  DeleteFamily per matched (row, family)
    *   - COLUMN:  DeleteColumn per matched (row, family, qualifier)
    *              (addColumns, dedup'd per column — :210-221)
    *   - VERSION: exact-version Delete; with no `timestamp` every
    *              matched version's own ts deletes (:221-231), with
    *              one, just that version per matched column
    * `timestamp=None` for the marker kinds = LATEST_TIMESTAMP.
    *
    * Returns the marker frame (canonical cell schema) — append it to
    * the store (or feed applySink) and the next resolve hides the
    * matched data; counts come free from the marker frame itself.
    * Scale: markers are distinct coordinates of matched cells, a
    * small fraction of the store the next resolve pass streams.
    */
  def bulkDelete(cells: DataFrame, scan: graft.read.GScan, deleteType: String,
      timestamp: Option[Long] = None): DataFrame = {
    import graft.model.CellType
    val matched = graft.read.GTable.scan(cells, scan)
    val mts = lit(timestamp.getOrElse(Long.MaxValue))
    val nullV = lit(null).cast("string").as("value")
    deleteType match {
      case "ROW" =>
        matched.select("row").distinct()
          .crossJoin(cells.select("family").distinct())
          .select(col("row"), col("family"), lit("").as("qualifier"),
            mts.as("ts"), lit(CellType.DeleteFamily).as("type"), nullV)
      case "FAMILY" =>
        matched.select("row", "family").distinct()
          .select(col("row"), col("family"), lit("").as("qualifier"),
            mts.as("ts"), lit(CellType.DeleteFamily).as("type"), nullV)
      case "COLUMN" =>
        matched.select("row", "family", "qualifier").distinct()
          .select(col("row"), col("family"), col("qualifier"),
            mts.as("ts"), lit(CellType.DeleteColumn).as("type"), nullV)
      case "VERSION" =>
        val verTs = timestamp.fold(col("ts"))(lit(_))
        matched.select(col("row"), col("family"), col("qualifier"),
            verTs.cast("long").as("ts")).distinct()
          .select(col("row"), col("family"), col("qualifier"), col("ts"),
            lit(CellType.Delete).as("type"), nullV)
      case other =>
        throw new IllegalArgumentException(s"unknown deleteType: $other")
    }
  }

  /** M10 bulk load layout (HFileOutputFormat2.java:109 +
    * SimpleTotalOrderPartitioner.java:42): total-order partitioned,
    * sorted-within-partition write — Spark's native range-shuffle
    * write path. `numRegions` plays the role of the region count.
    */
  def bulkLoadLayout(cells: DataFrame, numRegions: Int, outPath: String): Unit =
    cells
      .repartitionByRange(numRegions, col("row"))
      .sortWithinPartitions(col("row"), col("family"), col("qualifier"), col("ts").desc)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
}
