package graft.queries

import org.apache.spark.sql.functions._

import graft.QDef
import graft.flow.Jobs
import graft.model.Fixtures
import graft.oracle.Cte
import graft.read.Resolve
import graft.stream.Sessionize

/** Q37–Q39: WAL replay, backup/restore, and stateful sessionization —
  * the remaining dataflow surface (SURVEY §2.7 D7/D9, §2.8 ext).
  */
object ReplayQueries {

  /** One WAL log write per (session, sf) for Q84 — see its comment. */
  private val q84WalOnce =
    scala.collection.concurrent.TrieMap.empty[(Int, String), String]

  val defs: Seq[QDef] = Seq(
    QDef(
      "q37_wal_player",
      // D7: replay the ts∈[2,4) WAL window into a remapped table in
      // bulk-load mode (Puts only — HFile output can't express deletes).
      (s, dir) =>
        Jobs.walPlayer(Fixtures.cellsEventsV(s, dir),
            timeRange = Some((2L, 4L)),
            rowRemap = Some(r => concat(lit("t2:"), r)),
            bulkLoadMode = true)
          .select("row", "family", "qualifier", "ts", "type", "value")
          .orderBy("row", "qualifier", "ts"),
      Some(Cte.withCtes(Cte.cellsEventsV)(
        """SELECT 't2:' || row AS row, family, qualifier, ts, type, value
          |FROM cells_events_v WHERE ts >= 2 AND ts < 4 AND type = 'Put'
          |ORDER BY row, qualifier, ts""".stripMargin))
    ),
    QDef(
      // D7 at the BYTE level: the same replay as q37, but the WAL
      // travels through the reference's actual wire format first —
      // cells_events_v exports as PB WAL segments ("PWAL" magic +
      // varint-delimited WALHeader/WALKey protos + length-prefixed
      // KeyValue cells + "LAWP" trailer, codec/PWal.scala citing
      // AbstractProtobufWALReader.java:73, ProtobufLogWriter.java:142)
      // and WALPlayer replays the re-imported segments. Oracle = the
      // q37 replay itself: byte-format encode∘decode must be identity
      // over the log. Header/trailer/unknown-field fidelity is pinned
      // by PWalSpec.
      "q86_pwal_player",
      (s, dir) => {
        val out = graft.Queries.scratchDir("q86_pwal")
        graft.flow.PWalFiles.export(
          Fixtures.cellsEventsV(s, dir), 4, s"$out/wals")
        Jobs.walPlayer(
            graft.flow.PWalFiles.importEntries(s, s"$out/wals"),
            timeRange = Some((2L, 4L)),
            rowRemap = Some(r => concat(lit("t2:"), r)),
            bulkLoadMode = true)
          .select("row", "family", "qualifier", "ts", "type", "value")
          .orderBy("row", "qualifier", "ts")
      },
      Some(Cte.withCtes(Cte.cellsEventsV)(
        """SELECT 't2:' || row AS row, family, qualifier, ts, type, value
          |FROM cells_events_v WHERE ts >= 2 AND ts < 4 AND type = 'Put'
          |ORDER BY row, qualifier, ts""".stripMargin))
    ),
    QDef(
      "q38_backup_restore",
      // D9: full backup at watermark 2 + incremental (2,4], restored and
      // read through Resolve — the table AS OF ts 4 (point-in-time).
      (s, dir) => {
        val wal = Fixtures.cellsEventsV(s, dir)
        val restored = Jobs.restore(
          Jobs.fullBackup(wal, 2L),
          Seq(Jobs.incrementalBackup(wal, 2L, 4L)))
        Resolve.latest(restored, maxVersions = 1)
          .select("row", "family", "qualifier", "ts", "value")
          .orderBy(col("row"), col("family"), col("qualifier"), col("ts").desc)
      },
      Some(Cte.withCtes(
        Cte.cellsEventsV,
        "restore_cells AS (SELECT * FROM cells_events_v WHERE ts <= 4)",
        Cte.liveView("restore_cells", "live_restore"))(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT *, row_number() OVER (PARTITION BY row, family, qualifier ORDER BY ts DESC) AS rn
          |  FROM live_restore
          |) WHERE rn <= 1 ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      // D9 backup merge (MapReduceBackupMergeJob.java:61): a 3-image
      // incremental chain — (2,3], (3,4], (4,5] over the full@2 — merges
      // into ONE image (retention: merged-range tombstone masking +
      // version trim to the reader's maxVersions, all markers retained),
      // LANDED durably (the reference writes the merged image to the
      // backup filesystem before any restore reads it — and the durable
      // boundary stops restore's resolve from re-evaluating the whole
      // merge subplan), and restore(full, merged) read through Resolve
      // must equal the unmerged point-in-time restore AS OF ts 5 —
      // which is what the oracle computes directly over the unmerged
      // cell set.
      "q91_backup_merge",
      (s, dir) => {
        val wal = Fixtures.cellsEventsV(s, dir)
        val full = Jobs.fullBackup(wal, 2L)
        val tmp = graft.Queries.scratchDir("q91_merge")
        val merged = Jobs.mergeBackupImagesLanded(s, Seq(
          Jobs.incrementalBackup(wal, 2L, 3L),
          Jobs.incrementalBackup(wal, 3L, 4L),
          Jobs.incrementalBackup(wal, 4L, 5L)),
          "q91_merged_img", s"$tmp/store", maxVersions = 2)
        Resolve.latest(Jobs.restore(full, Seq(merged)), maxVersions = 2)
          .select("row", "family", "qualifier", "ts", "value")
          .orderBy(col("row"), col("family"), col("qualifier"), col("ts").desc)
      },
      Some(Cte.withCtes(
        Cte.cellsEventsV,
        "restore_cells AS (SELECT * FROM cells_events_v WHERE ts <= 5)",
        Cte.liveView("restore_cells", "live_restore"))(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT *, row_number() OVER (PARTITION BY row, family, qualifier ORDER BY ts DESC) AS rn
          |  FROM live_restore
          |) WHERE rn <= 2 ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      "q39_stateful_sessions",
      // Typed per-key state walk (flatMapSortedGroups); the streaming
      // flatMapGroupsWithState twin is equivalence-tested in StreamSpec.
      (s, dir) =>
        Sessionize.sessionize(Fixtures.events(s, dir))
          .toDF()
          .orderBy("user_id", "session_idx"),
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS tus, event_id FROM events
             |), f AS (
             |  SELECT user_id, tus,  event_id,
             |         CASE WHEN lag(tus) OVER w IS NULL OR tus - lag(tus) OVER w > 1800000000
             |              THEN 1 ELSE 0 END AS ns
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
             |), g AS (
             |  SELECT user_id, tus,
             |         CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY tus, event_id
             |                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
             |  FROM f
             |)
             |SELECT user_id, session_idx, COUNT(*) AS n_events,
             |       MIN(tus) AS start_us, MAX(tus) AS end_us
             |FROM g GROUP BY user_id, session_idx
             |ORDER BY user_id, session_idx""".stripMargin)
    ),
    QDef(
      // Admin.majorCompact as a store rewrite: compact under the FAMILY
      // descriptor (maxVersions=3, TTL floor 2), LAND the rewrite via
      // BucketedStore.write — the deployment shape (dev/PLANS.md q62):
      // the durable boundary stops the reader from re-deriving the
      // compaction subplan per tombstone-mask source — then serve a
      // normal narrower read (latest-1) over the WRITTEN store. The
      // compaction invariant is that this equals the same read over the
      // uncompacted original, which is exactly what the oracle computes.
      "q62_major_compact",
      (s, dir) => {
        import graft.write.BucketedStore
        val compacted = Jobs.majorCompact(Fixtures.cellsEventsV(s, dir),
          maxVersions = 3, ttlCutoff = Some(2L))
        val tmp = graft.Queries.scratchDir("compact_q")
        BucketedStore.write(compacted, "q62_compacted_tbl", s"$tmp/store",
          buckets = 8)
        graft.read.GTable.scan(BucketedStore.read(s, "q62_compacted_tbl"),
            graft.read.GScan())
          .select("row", "family", "qualifier", "ts", "value")
      },
      Some(Cte.withCtes(Cte.cellsEventsV, Cte.liveEventsV)(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT *, row_number() OVER (PARTITION BY row, family, qualifier ORDER BY ts DESC) AS rn
          |  FROM live_events WHERE ts >= 2
          |) WHERE rn <= 1 ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      // MOB storage (MobUtils.java:128,518; CF MOB_THRESHOLD): split
      // the store at threshold 10 — big Put values move to the
      // content-addressed side table, ref cells replace them — then
      // read back THROUGH the stitch join. Output: one accounting row
      // computed from the SPLIT frames (so an identity "split" cannot
      // pass) + the read-back mismatch count vs the original (must be
      // 0, which is what the oracle literally asserts). max_inline_len
      // proves no over-threshold value stayed inline.
      "q67_mob_roundtrip",
      (s, dir) => {
        import graft.write.MobStore
        val cells = Fixtures.cellsOrders(s, dir)
        val (main, mob) = MobStore.split(cells, threshold = 10)
        val back = MobStore.read(main, mob)
        // the mismatch sweep joins into the SAME one-row plan as the
        // accounting aggregates (r17-opt: was an eager count() action
        // plus a second action over the same split/read pipelines —
        // one plan lets ReuseExchange serve mob's distinct once and
        // halves the job round-trips)
        val mismatchDf = back.alias("b")
          .join(cells.alias("o"),
            Seq("row", "family", "qualifier", "ts", "type"), "full")
          .filter(not(col("b.value") <=> col("o.value")))
          .agg(count(lit(1)).as("mismatches"))
        main.agg(
          count(lit(1)).as("n_cells"),
          count(when(col("value").startsWith(MobStore.RefPrefix), 1))
            .as("mob_cells"),
          max(when(!col("value").startsWith(MobStore.RefPrefix),
            octet_length(col("value")).cast("long"))).as("max_inline_len"))
          .crossJoin(mob.agg(count(lit(1)).as("mob_refs")))
          .crossJoin(mismatchDf)
      },
      Some(Cte.withCtes(Cte.cellsOrders)(
        """SELECT COUNT(*) AS n_cells,
          |       COUNT(CASE WHEN octet_length(encode(value)) >= 10 THEN 1 END) AS mob_cells,
          |       MAX(CASE WHEN octet_length(encode(value)) < 10 THEN octet_length(encode(value)) END) AS max_inline_len,
          |       COUNT(DISTINCT CASE WHEN octet_length(encode(value)) >= 10 THEN value END) AS mob_refs,
          |       CAST(0 AS BIGINT) AS mismatches
          |FROM cells_orders""".stripMargin))
    ),
    QDef(
      // MOB-aware major compaction (DefaultMobStoreCompactor.java:60 +
      // MobFileCleanerChore's unused-file sweep): compact the split
      // store under the descriptor (maxVersions=1, TTL floor 2) — the
      // rewrite drops masked/over-limit/expired REF cells, and the mob
      // side keeps exactly the blobs a surviving ref still names. The
      // declared row proves all three claims at once: the read-back
      // through the compacted (main, mob) pair equals the ORIGINAL
      // store's resolve (mismatches=0 — compaction invisible), the
      // accounting columns pin the main-store shrink, and
      // mob_before/mob_after pin that the dangling blob set — blobs
      // only non-surviving cells referenced — is exactly what the
      // sweep dropped (the oracle recomputes both counts analytically).
      "q92_mob_compact",
      (s, dir) => {
        import graft.write.MobStore
        val cells = Fixtures.cellsEventsV(s, dir)
        val (main, mob) = MobStore.split(cells, threshold = 10)
        val (cMain0, cMob0) = MobStore.compact(main, mob,
          maxVersions = 1, ttlCutoff = Some(2L))
        // the compacted stores feed BOTH the mismatch sweep and the
        // final counts (two actions): materialize once (r17-opt) so the
        // mob-aware major-compaction window pipeline runs once, not
        // once per action
        val cMain = cMain0.localCheckpoint()
        val cMob = cMob0.localCheckpoint()
        val expect = Jobs.majorCompact(cells, maxVersions = 1,
          ttlCutoff = Some(2L))
        val mismatches = MobStore.read(cMain, cMob).alias("b")
          .join(expect.alias("o"),
            Seq("row", "family", "qualifier", "ts", "type"), "full")
          .filter(not(col("b.value") <=> col("o.value")))
          .count()
        cMain.agg(
          count(lit(1)).as("n_cells"),
          count(when(col("value").startsWith(MobStore.RefPrefix), 1))
            .as("mob_cells"))
          .crossJoin(mob.agg(count(lit(1)).as("mob_before")))
          .crossJoin(cMob.agg(count(lit(1)).as("mob_after")))
          .withColumn("mismatches", lit(mismatches))
      },
      Some(Cte.withCtes(Cte.cellsEventsV, Cte.liveEventsV,
        """__mc_live AS (
          |  SELECT * FROM (
          |    SELECT *, row_number() OVER (PARTITION BY row, family, qualifier ORDER BY ts DESC) AS rn
          |    FROM live_events WHERE ts >= 2
          |  ) WHERE rn <= 1)""".stripMargin)(
        """SELECT
          |  (SELECT COUNT(*) FROM __mc_live) AS n_cells,
          |  (SELECT COUNT(*) FROM __mc_live
          |   WHERE octet_length(encode(value)) >= 10) AS mob_cells,
          |  (SELECT COUNT(DISTINCT value) FROM cells_events_v
          |   WHERE type = 'Put' AND value IS NOT NULL
          |     AND octet_length(encode(value)) >= 10) AS mob_before,
          |  (SELECT COUNT(DISTINCT value) FROM __mc_live
          |   WHERE octet_length(encode(value)) >= 10) AS mob_after,
          |  CAST(0 AS BIGINT) AS mismatches""".stripMargin))
    ),
    QDef(
      // MOB GENERATION compaction (DefaultMobStoreCompactor.java:60 ff
      // + MobCompactPartitionPolicy): a MOB table flushed daily
      // (numMobBuckets=1, ts scaled to days so each logical tick is a
      // flush day) accumulates one mob file per (family, day);
      // compactMobGenerations(MONTHLY) rewrites every surviving blob
      // into ONE consolidated file per (family, month), repoints the
      // refs atomically, and the existing unreferenced-file sweep
      // drops the whole superseded generation. The declared row pins
      // all of it: read-back identity (mismatches=0), blob byte totals
      // preserved across the rewrite, file count strictly dropping
      // (files_before = per-day files > files_after = per-month), and
      // swept_old = exactly the old generation.
      "q93_mob_generations",
      (s, dir) => {
        import graft.flow.MobFiles
        val cells = Fixtures.cellsEventsV(s, dir)
          .filter(col("type") === "Put" && col("value").isNotNull)
          .withColumn("ts", col("ts") * lit(86400000L))
        val out = graft.Queries.scratchDir("q93_mob_gen")
        MobFiles.export(cells, threshold = 8, numRegions = 8,
          outPath = out, table = "events", numMobBuckets = 1)
        val before = MobFiles.mobFileAudit(s, out, "events").count()
        MobFiles.compactMobGenerations(s, out, table = "events",
          policy = "MONTHLY")
        val swept = MobFiles.sweepUnreferencedMobFiles(s, out, "events")
        val after = MobFiles.mobFileAudit(s, out, "events").count()
        // resolved feeds the mismatch sweep AND the final counts (two
        // actions): one read of the post-compaction stores (r17-opt)
        val resolved = MobFiles.importResolved(s, out, "events")
          .localCheckpoint()
        val mismatches = resolved
          .select("row", "family", "qualifier", "ts", "type", "value")
          .alias("b")
          .join(cells.alias("o"),
            Seq("row", "family", "qualifier", "ts", "type"), "full")
          .filter(not(col("b.value") <=> col("o.value")))
          .count()
        resolved.agg(
          count(lit(1)).as("n_cells"),
          count(when(col("mob"), 1)).as("mob_cells"),
          sum(when(col("mob"), length(col("value")))).cast("long")
            .as("blob_bytes"))
          .withColumn("files_before", lit(before))
          .withColumn("files_after", lit(after))
          .withColumn("swept_old", lit(swept.size.toLong))
          .withColumn("mismatches", lit(mismatches))
      },
      Some(Cte.withCtes(Cte.cellsEventsV,
        """__mob AS (
          |  SELECT family, ts, value FROM cells_events_v
          |  WHERE type = 'Put' AND value IS NOT NULL AND length(value) > 8
          |)""".stripMargin)(
        """SELECT
          |  (SELECT COUNT(*) FROM cells_events_v
          |   WHERE type = 'Put' AND value IS NOT NULL) AS n_cells,
          |  (SELECT COUNT(*) FROM __mob) AS mob_cells,
          |  (SELECT CAST(SUM(length(value)) AS BIGINT) FROM __mob) AS blob_bytes,
          |  (SELECT COUNT(DISTINCT family || ':' || ts) FROM __mob) AS files_before,
          |  (SELECT COUNT(DISTINCT family) FROM __mob) AS files_after,
          |  (SELECT COUNT(DISTINCT family || ':' || ts) FROM __mob) AS swept_old,
          |  CAST(0 AS BIGINT) AS mismatches""".stripMargin))
    ),
    QDef(
      // MINOR (file-selection) compaction — ExploringCompactionPolicy
      // .java:55-121 applyCompactionPolicy + filesInRatio:178. A store
      // of five age-ordered HFiles with a geometric size ladder
      // (user_id%16 width buckets: 8/4/2/1/1 sixteenths of the puts)
      // runs the exploring search (minFiles=3, maxFiles=4, ratio=1.2):
      // the window retiring the most files for the least IO compacts;
      // the rest of the store is left byte-untouched. The oracle
      // re-derives the SELECTION itself in SQL (every contiguous
      // window, the binding max<=ratio*(sum-max) form of the ratio
      // check, best by files desc / IO asc / age asc) over the same
      // size table, plus the read-back identity (mismatches=0).
      "q94_minor_compact",
      (s, dir) => {
        import graft.flow.{Compactions, HFiles}
        val puts = Fixtures.cellsEventsV(s, dir)
          .filter(col("type") === "Put" && col("value").isNotNull)
        val m = col("row").cast("long") % 16
        val fidx = when(m < 8, 0).when(m < 12, 1).when(m < 14, 2)
          .when(m === 14, 3).otherwise(4)
        val withF = puts.withColumn("fidx", fidx)
        // the ladder: logical size per flush file, age order = fidx
        val ladder = withF.groupBy("fidx")
          .agg(sum(octet_length(col("value"))).cast("long").as("sz"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
        val out = graft.Queries.scratchDir("q94_minor")
        val fs = new org.apache.hadoop.fs.Path(out)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        // one-job ladder landing (r17-opt, the q96 rewrite's twin):
        // one shuffle on fidx instead of a full export job per file
        HFiles.exportRegions(withF.select(col("fidx").cast("int").as("fidx"),
            col("row"), col("family"), col("qualifier"), col("ts"),
            col("type"), col("value")),
          "fidx", out, i => f"part-$i%05d.hfile")
        val names = ladder.map { case (i, _) => f"part-$i%05d.hfile" }
        val logical = names.zip(ladder.map(_._2)).toMap
        val knobs = Compactions.Knobs(minFiles = 3, maxFiles = 4,
          ratio = 1.2)
        val selRange = Compactions.exploringSelect(
          ladder.map(_._2).toIndexedSeq, knobs)
        val selected = Compactions.minorCompact(s, out, knobs,
          logicalSizes = Some(logical))
        require(selected == selRange.map(names(_)).toSeq,
          "physical selection must equal the pure policy's")
        val back = HFiles.importCells(s, out)
        val mismatches = back.alias("b")
          .join(puts.alias("o"),
            Seq("row", "family", "qualifier", "ts", "type"), "full")
          .filter(not(col("b.value") <=> col("o.value")))
          .count()
        val filesAfter = fs.globStatus(
          new org.apache.hadoop.fs.Path(out, "part-*.hfile")).length
        puts.agg(count(lit(1)).as("n_cells"))
          .withColumn("files_before", lit(ladder.length.toLong))
          .withColumn("sel_start",
            lit(if (selRange.isEmpty) 0L else selRange.head + 1L))
          .withColumn("sel_k", lit(selRange.size.toLong))
          .withColumn("sel_bytes",
            lit(selRange.map(ladder(_)._2).sum))
          .withColumn("files_after", lit(filesAfter.toLong))
          .withColumn("mismatches", lit(mismatches))
      },
      Some(Cte.withCtes(Cte.cellsEventsV,
        """__mc_puts AS (
          |  SELECT * FROM cells_events_v
          |  WHERE type = 'Put' AND value IS NOT NULL
          |), __mc_sz AS (
          |  SELECT (CASE WHEN CAST(row AS BIGINT)%16 < 8 THEN 0
          |               WHEN CAST(row AS BIGINT)%16 < 12 THEN 1
          |               WHEN CAST(row AS BIGINT)%16 < 14 THEN 2
          |               WHEN CAST(row AS BIGINT)%16 = 14 THEN 3
          |               ELSE 4 END) AS fidx,
          |         CAST(SUM(octet_length(encode(value))) AS BIGINT) AS sz
          |  FROM __mc_puts GROUP BY 1
          |), __mc_ord AS (
          |  SELECT fidx, sz, ROW_NUMBER() OVER (ORDER BY fidx) AS idx
          |  FROM __mc_sz
          |), __mc_win AS (
          |  SELECT s.idx AS wstart, COUNT(*) AS k, SUM(m.sz) AS size
          |  FROM __mc_ord s JOIN __mc_ord e ON e.idx >= s.idx + 2
          |  JOIN __mc_ord m ON m.idx BETWEEN s.idx AND e.idx
          |  GROUP BY s.idx, e.idx
          |  HAVING COUNT(*) BETWEEN 3 AND 4
          |     AND MAX(m.sz) <= (SUM(m.sz) - MAX(m.sz)) * 1.2
          |), __mc_best AS (
          |  SELECT * FROM __mc_win ORDER BY k DESC, size ASC, wstart ASC
          |  LIMIT 1
          |)""".stripMargin)(
        """SELECT
          |  (SELECT COUNT(*) FROM __mc_puts) AS n_cells,
          |  (SELECT COUNT(*) FROM __mc_sz) AS files_before,
          |  CAST(COALESCE((SELECT wstart FROM __mc_best), 0) AS BIGINT) AS sel_start,
          |  CAST(COALESCE((SELECT k FROM __mc_best), 0) AS BIGINT) AS sel_k,
          |  CAST(COALESCE((SELECT size FROM __mc_best), 0) AS BIGINT) AS sel_bytes,
          |  CAST((SELECT COUNT(*) FROM __mc_sz)
          |    - COALESCE((SELECT k FROM __mc_best), 1) + 1 AS BIGINT) AS files_after,
          |  CAST(0 AS BIGINT) AS mismatches""".stripMargin))
    ),
    QDef(
      // WEEKLY mob-generation policy (MobCompactPartitionPolicy.WEEKLY):
      // flush days Jan 2-6 1970 (ts 1-5 scaled to days) straddle the
      // Monday-start ISO week boundary — Fri/Sat/Sun group under the
      // week FLOORED at 1969-12-29, the previous YEAR. Week-start
      // convention is engine-dependent (Sunday-start calendars would
      // split differently), so the oracle re-derives the partitioning
      // with DuckDB's own date_trunc('week') and pins the file count,
      // each generation file's latest-constituent-day date, and the
      // per-partition cell membership.
      "q95_mob_weekly",
      (s, dir) => {
        import graft.flow.MobFiles
        val cells = Fixtures.cellsEventsV(s, dir)
          .filter(col("type") === "Put" && col("value").isNotNull)
          .withColumn("ts", col("ts") * lit(86400000L))
        val out = graft.Queries.scratchDir("q95_mob_weekly")
        MobFiles.export(cells, threshold = 8, numRegions = 8,
          outPath = out, table = "eventsw", numMobBuckets = 2)
        MobFiles.compactMobGenerations(s, out, table = "eventsw",
          policy = "WEEKLY")
        MobFiles.sweepUnreferencedMobFiles(s, out, "eventsw")
        MobFiles.mobFileAudit(s, out, "eventsw")
          .select(substring(col("mob_file"), 33, 8).as("gen_date"),
            col("n_cells"), col("declared_count"))
          .groupBy("gen_date")
          .agg(count(lit(1)).as("n_files"),
            sum(col("n_cells")).cast("long").as("n_cells"),
            sum(col("n_cells") - col("declared_count")).cast("long")
              .as("declared_drift"))
          .orderBy("gen_date")
      },
      Some(Cte.withCtes(Cte.cellsEventsV,
        """__mobw AS (
          |  SELECT family, DATE '1970-01-01' + CAST(ts AS INT) AS d
          |  FROM cells_events_v
          |  WHERE type = 'Put' AND value IS NOT NULL AND length(value) > 8
          |), __wk AS (
          |  SELECT family, date_trunc('week', d) AS wk,
          |         strftime(MAX(d), '%Y%m%d') AS gen_date,
          |         CAST(COUNT(*) AS BIGINT) AS n_cells
          |  FROM __mobw GROUP BY 1, 2
          |)""".stripMargin)(
        """SELECT gen_date, CAST(COUNT(*) AS BIGINT) AS n_files,
          |       CAST(SUM(n_cells) AS BIGINT) AS n_cells,
          |       CAST(0 AS BIGINT) AS declared_drift
          |FROM __wk GROUP BY 1 ORDER BY gen_date""".stripMargin))
    ),
    QDef(
      // DATE-TIERED minor compaction (DateTieredCompactionPolicy
      // .selectMinorCompaction:242 + ExponentialCompactionWindowFactory
      // .Window:43). 15 age-ordered flush files, file i holding all of
      // bucket i's cells shifted to ts ∈ [1000(i+1)+1, 1000(i+1)+5];
      // base window 6000 ms, 4 windows/tier, incoming threshold 3,
      // per-window exploring min2/max12/ratio1.2, now=16000. The
      // incoming window [12000,18000) holds the 4 newest files; the
      // near-equal bucket sizes pass the ratio, so the whole window
      // compacts. The oracle RE-DERIVES everything: the exponential
      // window walk (recursive CTE), per-window file counts and
      // thresholds, and the exploring selection inside the winning
      // window — then the read-back identity (mismatches=0). Physical
      // max timestamps come from each file's TIMERANGE FILE_INFO
      // entry, the wire entry reference readers prune timerange scans
      // with.
      "q96_date_tiered",
      (s, dir) => {
        import graft.flow.{Compactions, HFiles}
        import graft.flow.Compactions.{DtKnobs, Knobs}
        val puts = Fixtures.cellsEventsV(s, dir)
          .filter(col("type") === "Put" && col("value").isNotNull)
        val fidx = (col("row").cast("long") % 15).cast("int")
        val withF = puts
          .withColumn("fidx", fidx)
          .withColumn("ts", col("ts") + (col("fidx") + 1) * lit(1000L))
        val ladder = withF.groupBy("fidx")
          .agg(sum(octet_length(col("value"))).cast("long").as("sz"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
        val out = graft.Queries.scratchDir("q96_dt")
        val fs = new org.apache.hadoop.fs.Path(out)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        // one-job ladder landing (r17-opt): the 15 per-file export jobs
        // (each a full re-filter + single-writer pass + rename) collapse
        // into exportRegions' single shuffle-by-fidx pass — same files,
        // same per-file cell order (the writer cuts on fidx change)
        HFiles.exportRegions(withF.select(col("fidx"), col("row"),
            col("family"), col("qualifier"), col("ts"), col("type"),
            col("value")),
          "fidx", out, i => f"part-$i%05d.hfile")
        val names = ladder.map { case (i, _) => f"part-$i%05d.hfile" }
        val logical = names.zip(ladder.map(_._2)).toMap
        val dt = DtKnobs(baseWindowMillis = 6000L, windowsPerTier = 4,
          maxTierAgeMillis = 100000L, incomingWindowMin = 3,
          maxStoreFileAgeMillis = 100000L,
          window = Knobs(minFiles = 2, maxFiles = 12, ratio = 1.2))
        val selNames = Compactions.dateTieredCompact(s, out, dt,
          now = 16000L, logicalSizes = Some(logical))
        val selIdx = selNames.map(names.indexOf(_))
        val back = HFiles.importCells(s, out)
        val mismatches = back.alias("b")
          .join(withF.select("row", "family", "qualifier", "ts", "type", "value")
              .alias("o"),
            Seq("row", "family", "qualifier", "ts", "type"), "full")
          .filter(not(col("b.value") <=> col("o.value")))
          .count()
        val filesAfter = fs.globStatus(
          new org.apache.hadoop.fs.Path(out, "part-*.hfile")).length
        withF.agg(count(lit(1)).as("n_cells"))
          .withColumn("files_before", lit(ladder.length.toLong))
          .withColumn("sel_start",
            lit(if (selIdx.isEmpty) 0L else selIdx.min + 1L))
          .withColumn("sel_k", lit(selIdx.size.toLong))
          .withColumn("sel_bytes", lit(selIdx.map(ladder(_)._2).sum))
          .withColumn("files_after", lit(filesAfter.toLong))
          .withColumn("mismatches", lit(mismatches))
      },
      Some(Cte.withCtes(Cte.cellsEventsV,
        """__dt_puts AS (
          |  SELECT *, CAST(CAST(row AS BIGINT) % 15 AS INT) AS fidx
          |  FROM cells_events_v
          |  WHERE type = 'Put' AND value IS NOT NULL
          |), __dt_files AS (
          |  SELECT fidx,
          |         CAST(SUM(octet_length(encode(value))) AS BIGINT) AS sz,
          |         CAST(MAX(ts) + (fidx + 1) * 1000 AS BIGINT) AS max_ts
          |  FROM __dt_puts GROUP BY 1
          |), __dt_eff AS (
          |  SELECT fidx, sz,
          |         MAX(max_ts) OVER (ORDER BY fidx
          |           ROWS UNBOUNDED PRECEDING) AS eff_ts
          |  FROM __dt_files
          |), __dt_win AS (
          |  -- the exponential window walk from the incoming window
          |  -- (now=16000, base=6000, 4/tier, cutoff = now-100000)
          |  WITH RECURSIVE walk(wm, dv, depth) AS (
          |    SELECT CAST(6000 AS BIGINT), CAST(16000 // 6000 AS BIGINT), 0
          |    UNION ALL
          |    SELECT CASE WHEN dv % 4 > 0 OR wm*dv - wm*4 < 16000 - 100000
          |                THEN wm ELSE wm*4 END,
          |           CASE WHEN dv % 4 > 0 OR wm*dv - wm*4 < 16000 - 100000
          |                THEN dv - 1 ELSE dv // 4 - 1 END,
          |           depth + 1
          |    FROM walk WHERE depth < 12
          |  ) SELECT * FROM walk
          |), __dt_assign AS (
          |  -- a file joins the NEWEST window whose div equals
          |  -- floor(eff/wm); the incoming window (depth 0) also takes
          |  -- future timestamps
          |  SELECT f.fidx, f.sz, w.depth,
          |         CASE WHEN w.depth = 0 THEN 3 ELSE 2 END AS threshold
          |  FROM __dt_eff f JOIN __dt_win w
          |    ON (f.eff_ts // w.wm = w.dv)
          |    OR (w.depth = 0 AND f.eff_ts // w.wm >= w.dv)
          |  QUALIFY ROW_NUMBER() OVER (PARTITION BY f.fidx
          |    ORDER BY w.depth) = 1
          |), __dt_chosen AS (
          |  -- the newest window at or past its file threshold
          |  SELECT depth FROM __dt_assign
          |  GROUP BY depth, threshold HAVING COUNT(*) >= threshold
          |  ORDER BY depth LIMIT 1
          |), __dt_cand AS (
          |  SELECT a.fidx, a.sz,
          |         ROW_NUMBER() OVER (ORDER BY a.fidx) AS idx
          |  FROM __dt_assign a JOIN __dt_chosen c ON a.depth = c.depth
          |), __dt_expl AS (
          |  -- exploring inside the chosen window: contiguous runs of
          |  -- 2..12 files, every member <= (sum of others) * 1.2,
          |  -- best by files desc / IO asc / age asc
          |  SELECT s.idx AS wstart, COUNT(*) AS k, SUM(m.sz) AS size
          |  FROM __dt_cand s JOIN __dt_cand e ON e.idx >= s.idx + 1
          |  JOIN __dt_cand m ON m.idx BETWEEN s.idx AND e.idx
          |  GROUP BY s.idx, e.idx
          |  HAVING COUNT(*) BETWEEN 2 AND 12
          |     AND MAX(m.sz) <= (SUM(m.sz) - MAX(m.sz)) * 1.2
          |), __dt_best AS (
          |  SELECT w.wstart, w.k, w.size
          |  FROM __dt_expl w ORDER BY k DESC, size ASC, wstart ASC
          |  LIMIT 1
          |), __dt_sel AS (
          |  -- map back to 1-based AGE index over the whole ladder
          |  SELECT MIN(c.fidx) + 1 AS sel_start, b.k, b.size
          |  FROM __dt_best b JOIN __dt_cand c
          |    ON c.idx BETWEEN b.wstart AND b.wstart + b.k - 1
          |  GROUP BY b.k, b.size
          |)""".stripMargin)(
        """SELECT
          |  (SELECT COUNT(*) FROM __dt_puts) AS n_cells,
          |  (SELECT COUNT(*) FROM __dt_files) AS files_before,
          |  COALESCE((SELECT CAST(sel_start AS BIGINT) FROM __dt_sel), 0) AS sel_start,
          |  COALESCE((SELECT CAST(k AS BIGINT) FROM __dt_sel), 0) AS sel_k,
          |  COALESCE((SELECT CAST(size AS BIGINT) FROM __dt_sel), 0) AS sel_bytes,
          |  (SELECT COUNT(*) FROM __dt_files)
          |    - COALESCE((SELECT k FROM __dt_sel), 1) + 1 AS files_after,
          |  CAST(0 AS BIGINT) AS mismatches""".stripMargin))
    ),
    QDef(
      // FIFO compaction (FIFOCompactionPolicy.java:43-142): the pure
      // time-series policy — never rewrite, just DROP whole files
      // whose newest cell outlived the TTL. Six age-ordered files at
      // day-scaled timestamps; ttl such that the three oldest expire.
      // The oracle re-derives the drop set from the data (per-file max
      // ts vs now - ttl) and the surviving cell population.
      "q97_fifo_compact",
      (s, dir) => {
        import graft.flow.{Compactions, HFiles}
        val dayMs = 86400000L
        val puts = Fixtures.cellsEventsV(s, dir)
          .filter(col("type") === "Put" && col("value").isNotNull)
        val fidx = (col("row").cast("long") % 6).cast("int")
        val withF = puts
          .withColumn("fidx", fidx)
          .withColumn("ts", col("ts") + (col("fidx") + 1) * lit(dayMs))
        val out = graft.Queries.scratchDir("q97_fifo")
        val fs = new org.apache.hadoop.fs.Path(out)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        // one-job ladder landing (r17-opt, the q96 rewrite's twin)
        HFiles.exportRegions(withF.select(col("fidx"),
            col("row"), col("family"), col("qualifier"), col("ts"),
            col("type"), col("value")),
          "fidx", out, i => f"part-$i%05d.hfile")
        // now = day 8; ttl 4.5 days: expired iff maxTs <= 3.5 days —
        // files 1-3 (maxTs day 1..3 + 5ms versions) drop, 4-6 survive
        val now = 8L * dayMs
        val dropped = Compactions.fifoCompact(s, out,
          ttlMillis = (45L * dayMs) / 10L, now = now)
        val back = HFiles.importCells(s, out)
        val expect = withF.filter(
          (col("fidx") + 1) * lit(dayMs) + lit(5L) > lit(now - (45L * dayMs) / 10L))
        val mismatches = back.alias("b")
          .join(expect.select("row", "family", "qualifier", "ts", "type", "value")
              .alias("o"),
            Seq("row", "family", "qualifier", "ts", "type"), "full")
          .filter(not(col("b.value") <=> col("o.value")))
          .count()
        back.agg(count(lit(1)).as("n_cells_after"))
          .withColumn("files_before", lit(6L))
          .withColumn("dropped", lit(dropped.size.toLong))
          .withColumn("mismatches", lit(mismatches))
      },
      Some(Cte.withCtes(Cte.cellsEventsV,
        """__ff_puts AS (
          |  SELECT *, CAST(CAST(row AS BIGINT) % 6 AS INT) AS fidx
          |  FROM cells_events_v
          |  WHERE type = 'Put' AND value IS NOT NULL
          |), __ff_files AS (
          |  SELECT fidx, COUNT(*) AS n,
          |         MAX(ts) + (fidx + 1) * 86400000 AS max_ts
          |  FROM __ff_puts GROUP BY 1
          |), __ff_live AS (
          |  SELECT * FROM __ff_files
          |  WHERE NOT (8 * 86400000 - 45 * 8640000 >= max_ts)
          |)""".stripMargin)(
        """SELECT
          |  (SELECT CAST(SUM(n) AS BIGINT) FROM __ff_live) AS n_cells_after,
          |  CAST(6 AS BIGINT) AS files_before,
          |  (SELECT CAST(COUNT(*) AS BIGINT) FROM __ff_files
          |   WHERE 8 * 86400000 - 45 * 8640000 >= max_ts) AS dropped,
          |  CAST(0 AS BIGINT) AS mismatches""".stripMargin))
    ),
    QDef(
      // STRIPE store lifecycle (StripeCompactionPolicy.java:103 +
      // StripeMultiFileWriter SizeMultiWriter/BoundaryMultiWriter):
      // three flushes land as L0, compact into 3 kv-balanced initial
      // stripes (writer switches at the first NEW row after targetKvs
      // cells — targetKvs = floor(total/3)), two more flushes then
      // DISTRIBUTE into the existing boundaries. The oracle re-derives
      // the boundary rows with a sequential fold over the row ladder
      // (recursive CTE — the switching-writer discipline), assigns all
      // five versions to stripes by row range, and pins per-stripe
      // file/cell counts plus read-back identity. Stripe membership
      // travels ONLY in STRIPE_START_KEY/STRIPE_END_KEY FILE_INFO.
      "q98_stripe_store",
      (s, dir) => {
        import graft.flow.{HFiles, StripeStore}
        import graft.flow.StripeStore.SKnobs
        val puts = Fixtures.cellsEventsV(s, dir)
          .filter(col("type") === "Put" && col("value").isNotNull)
        val out = graft.Queries.scratchDir("q98_stripe")
        (1 to 3).foreach(i =>
          StripeStore.stripeFlush(puts.filter(col("ts") === i), out))
        val k = SKnobs(l0MinFiles = 3, minFiles = 3, initialCount = 3,
          sizeToSplit = Long.MaxValue / 4)
        StripeStore.stripeCompact(s, out, k, now = 100L)
        (4 to 5).foreach(i =>
          StripeStore.stripeFlush(puts.filter(col("ts") === i), out))
        StripeStore.stripeCompact(s, out, k.copy(l0MinFiles = 2), now = 100L)
        val layout = StripeStore.loadLayout(s, out)
        val back = HFiles.importCells(s, out, "{l0,stripe}-*.hfile")
        val mismatches = back.alias("b")
          .join(puts.alias("o"),
            Seq("row", "family", "qualifier", "ts", "type"), "full")
          .filter(not(col("b.value") <=> col("o.value")))
          .count()
        import s.implicits._
        layout.stripes.zipWithIndex.map { case (st, i) =>
          (i.toLong, new String(st.head.start, "UTF-8"),
            new String(st.head.end, "UTF-8"),
            st.size.toLong, st.map(_.kvCount).sum)
        }.toDF("stripe", "start_row", "end_row", "n_files", "n_cells")
          .withColumn("mismatches", lit(mismatches))
          .orderBy("stripe")
      },
      Some(Cte.withCtes(Cte.cellsEventsV,
        """__st_puts AS (
          |  SELECT * FROM cells_events_v
          |  WHERE type = 'Put' AND value IS NOT NULL
          |), __st_c1 AS (SELECT * FROM __st_puts WHERE ts <= 3),
          |__st_rows AS (
          |  SELECT row, CAST(COUNT(*) AS BIGINT) AS n,
          |         ROW_NUMBER() OVER (ORDER BY row) AS i
          |  FROM __st_c1 GROUP BY row
          |), __st_t AS (
          |  SELECT CAST(COUNT(*) // 3 AS BIGINT) AS tkv FROM __st_c1
          |), __st_cum AS (
          |  SELECT row, i, SUM(n) OVER (ORDER BY i) AS cum FROM __st_rows
          |), __st_b1 AS (
          |  -- the SizeMultiWriter fold, closed over 3 writers: writer
          |  -- w keeps rows until its count (counting RESETS per
          |  -- writer) crosses targetKvs, the NEXT row opens w+1 —
          |  -- so each boundary is the first row whose cumulative
          |  -- crosses the PREVIOUS boundary's cumulative + targetKvs
          |  SELECT MIN(i) AS b FROM __st_cum, __st_t WHERE cum >= tkv
          |), __st_b2 AS (
          |  SELECT MIN(c.i) AS b FROM __st_cum c, __st_t, __st_b1
          |  WHERE c.i > __st_b1.b
          |    AND c.cum - (SELECT cum FROM __st_cum WHERE i = __st_b1.b) >= tkv
          |), __st_fold AS (
          |  SELECT c.row,
          |         CASE WHEN c.i <= b1.b THEN 0
          |              WHEN b2.b IS NULL OR c.i <= b2.b THEN 1
          |              ELSE 2 END AS w
          |  FROM __st_cum c CROSS JOIN __st_b1 b1 CROSS JOIN __st_b2 b2
          |), __st_bound AS (
          |  SELECT w, MIN(row) AS start_row FROM __st_fold GROUP BY w
          |), __st_all AS (
          |  SELECT p.*, fo.w FROM __st_puts p JOIN __st_fold fo USING (row)
          |)""".stripMargin)(
        """SELECT CAST(b.w AS BIGINT) AS stripe,
          |       CASE WHEN b.w = 0 THEN '' ELSE b.start_row END AS start_row,
          |       COALESCE((SELECT b2.start_row FROM __st_bound b2
          |                 WHERE b2.w = b.w + 1), '') AS end_row,
          |       1 + CASE WHEN EXISTS (SELECT 1 FROM __st_all a
          |                             WHERE a.w = b.w AND a.ts > 3)
          |           THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS n_files,
          |       (SELECT CAST(COUNT(*) AS BIGINT) FROM __st_all a
          |        WHERE a.w = b.w) AS n_cells,
          |       CAST(0 AS BIGINT) AS mismatches
          |FROM __st_bound b ORDER BY stripe""".stripMargin))
    ),
    QDef(
      // TAGGED + tag-compressed WAL roundtrip (TagCompressionContext
      // over the WAL's segment-lifetime dictionary +
      // TagType.STRING_VIS_TAG_TYPE — the string form visibility
      // labels take in replication WALs): every cell ships its
      // visibility expression as a type-7 wire tag through a
      // dictionary-compressed PB WAL segment set; the read side
      // re-extracts the expressions FROM THE TAG BYTES and the oracle
      // recomputes the per-label population and value mass from the
      // same law — one flipped dictionary index anywhere would move
      // cells between labels.
      "c15_pwal_tagged",
      (s, dir) => {
        val m = (col("row").cast("long") + col("ts")) % 5
        val vis = when(m === 0, "secret")
          .when(m === 1, "public|internal")
          .when(m === 2, "secret&finance")
          .when(m === 3, "!secret&finance")
          .otherwise("public|secret&internal")
        val out = graft.Queries.scratchDir("c15_pwal_tagged")
        graft.flow.PWalFiles.export(
          Fixtures.cellsEventsV(s, dir).withColumn("vis", vis),
          4, s"$out/wals", compressed = true,
          visColumn = Some("vis"), tagCompression = true)
        graft.flow.PWalFiles.importEntriesTagged(s, s"$out/wals")
          .groupBy("vis")
          .agg(count(lit(1)).as("n_cells"),
            countDistinct(col("row")).as("n_rows"),
            sum(octet_length(col("value"))).cast("long").as("value_bytes"))
          .orderBy("vis")
      },
      Some(Cte.withCtes(Cte.cellsEventsV)(
        """SELECT CASE (CAST(row AS BIGINT) + ts) % 5
          |         WHEN 0 THEN 'secret'
          |         WHEN 1 THEN 'public|internal'
          |         WHEN 2 THEN 'secret&finance'
          |         WHEN 3 THEN '!secret&finance'
          |         ELSE 'public|secret&internal' END AS vis,
          |       CAST(COUNT(*) AS BIGINT) AS n_cells,
          |       CAST(COUNT(DISTINCT row) AS BIGINT) AS n_rows,
          |       CAST(SUM(octet_length(encode(COALESCE(value, '')))) AS BIGINT)
          |         AS value_bytes
          |FROM cells_events_v GROUP BY 1 ORDER BY vis""".stripMargin))
    ),
    QDef(
      // TAGGED store files through COMPRESS_TAGS + FAST_DIFF blocks —
      // the HFile half of c15: every cell persists its visibility
      // expression as a STRING_VIS wire tag inside DATABLKE blocks
      // whose tag sections dictionary-compress per block
      // (TagCompressionContext + the 127-entry per-block LRU,
      // BufferedDataBlockEncoder.java:76); import re-extracts the
      // expressions FROM THE TAG BYTES and the oracle recomputes the
      // per-label population from the tagging law — a single
      // out-of-lockstep dictionary eviction anywhere relabels cells.
      "c16_hfile_tagged",
      (s, dir) => {
        import graft.flow.HFiles
        val m = (col("row").cast("long") + col("ts")) % 5
        val vis = when(m === 0, "secret")
          .when(m === 1, "public|internal")
          .when(m === 2, "secret&finance")
          .when(m === 3, "!secret&finance")
          .otherwise("public|secret&internal")
        val out = graft.Queries.scratchDir("c16_hfile_tagged")
        HFiles.export(
          Fixtures.cellsEventsV(s, dir).withColumn("vis", vis),
          numRegions = 4, outPath = out,
          encoding = graft.codec.BlockEncoding.IdFastDiff,
          visColumn = Some("vis"), compressTags = true)
        HFiles.importCellsTagged(s, out)
          .groupBy("vis")
          .agg(count(lit(1)).as("n_cells"),
            countDistinct(col("row")).as("n_rows"),
            sum(octet_length(col("value"))).cast("long").as("value_bytes"))
          .orderBy("vis")
      },
      Some(Cte.withCtes(Cte.cellsEventsV)(
        """SELECT CASE (CAST(row AS BIGINT) + ts) % 5
          |         WHEN 0 THEN 'secret'
          |         WHEN 1 THEN 'public|internal'
          |         WHEN 2 THEN 'secret&finance'
          |         WHEN 3 THEN '!secret&finance'
          |         ELSE 'public|secret&internal' END AS vis,
          |       CAST(COUNT(*) AS BIGINT) AS n_cells,
          |       CAST(COUNT(DISTINCT row) AS BIGINT) AS n_rows,
          |       CAST(SUM(octet_length(encode(COALESCE(value, '')))) AS BIGINT)
          |         AS value_bytes
          |FROM cells_events_v GROUP BY 1 ORDER BY vis""".stripMargin))
    ),
    QDef(
      // REGION SPLIT POLICIES (RegionSplitPolicy family): WHEN — the
      // ConstantSize / IncreasingToUpperBound (initial × count³ ramp) /
      // Stepping size triggers over the store's logical bytes; WHERE —
      // the largest file's INDEX MID KEY row (a pure metadata read:
      // trailer + root index + one leaf block), truncated by
      // KeyPrefixRegionSplitPolicy so no 9-char row prefix straddles
      // the daughters. One-cell blocks + a small index chunk make the
      // mid key the comparator-order median cell exactly —
      // (n-1)/2 — so the oracle re-derives the split row from the
      // data, the daughters' populations by range, and every policy
      // verdict from the same size law. Daughters materialize as
      // TOP/BOTTOM half-reads (the Reference-file semantics, no cell
      // rewritten) and must reunite to the parent exactly.
      "q99_split_policy",
      (s, dir) => {
        import graft.flow.{HFiles, SplitPolicies}
        import graft.flow.SplitPolicies.SpKnobs
        // a deterministic 1-in-7 row subset: one-cell blocks make the
        // mid key exact but cost a block per cell — the subset keeps
        // the store at thousands of blocks at any SF
        val puts = Fixtures.cellsEventsV(s, dir)
          .filter(col("type") === "Put" && col("value").isNotNull &&
            col("row").cast("long") % 7 === 0)
        val out = graft.Queries.scratchDir("q99_split")
        HFiles.export(puts, numRegions = 1, outPath = out,
          blockSize = 1, indexMaxChunk = 4096)
        val logicalSize = puts
          .agg(sum(octet_length(col("value"))).cast("long")).head.getLong(0)
        val k = SpKnobs(desiredMaxFileSize = 10000000L, initialSize = 500L)
        val mid = SplitPolicies.storeSplitPoint(s, out)
          .getOrElse(sys.error("no split point"))
        val prefix = SplitPolicies.keyPrefixAdjust(mid, 9)
        val (bottom, top) = SplitPolicies.daughters(s, out, prefix)
        // one read of the per-cell-block store serves both half counts
        // and the mismatch sweep (r17-opt: was 3 serial read-throughs
        // — with blockSize=1 each read pays a block header per cell)
        val halves = bottom.withColumn("__h", lit("b"))
          .unionByName(top.withColumn("__h", lit("t")))
          .localCheckpoint()
        val cnt = halves.groupBy("__h").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val bottomCells = cnt.getOrElse("b", 0L)
        val topCells = cnt.getOrElse("t", 0L)
        val mismatches = halves.drop("__h").alias("b")
          .join(puts.alias("o"),
            Seq("row", "family", "qualifier", "ts", "type"), "full")
          .filter(not(col("b.value") <=> col("o.value")))
          .count()
        def b2l(b: Boolean): Long = if (b) 1L else 0L
        import s.implicits._
        Seq((new String(prefix, "UTF-8"),
          b2l(SplitPolicies.constantSizeShouldSplit(Seq(logicalSize), k)),
          b2l(SplitPolicies.increasingShouldSplit(Seq(logicalSize), 1, k)),
          b2l(SplitPolicies.increasingShouldSplit(Seq(logicalSize), 3, k)),
          b2l(SplitPolicies.steppingShouldSplit(Seq(logicalSize), 1, k)),
          b2l(SplitPolicies.steppingShouldSplit(Seq(logicalSize), 2, k)),
          bottomCells, topCells, mismatches))
          .toDF("split_prefix", "should_const", "should_incr1", "should_incr3",
            "should_step1", "should_step2", "bottom_cells", "top_cells",
            "mismatches")
      },
      Some(Cte.withCtes(Cte.cellsEventsV,
        """__sp_puts AS (
          |  SELECT * FROM cells_events_v
          |  WHERE type = 'Put' AND value IS NOT NULL
          |    AND CAST(row AS BIGINT) % 7 = 0
          |), __sp_tot AS (
          |  SELECT CAST(SUM(octet_length(encode(value))) AS BIGINT) AS sz,
          |         CAST(COUNT(*) AS BIGINT) AS n
          |  FROM __sp_puts
          |), __sp_mid AS (
          |  -- one cell per block: the index mid key is the
          |  -- comparator-order median cell, (n-1)/2 zero-based
          |  SELECT substr(row, 1, 9) AS split_prefix
          |  FROM (SELECT row, ROW_NUMBER() OVER
          |          (ORDER BY row, family, qualifier, ts DESC) AS rn
          |        FROM __sp_puts)
          |  WHERE rn = (SELECT (n - 1) // 2 + 1 FROM __sp_tot)
          |)""".stripMargin)(
        """SELECT m.split_prefix,
          |  CAST(CASE WHEN t.sz > 10000000 THEN 1 ELSE 0 END AS BIGINT) AS should_const,
          |  CAST(CASE WHEN t.sz > LEAST(10000000, 500) THEN 1 ELSE 0 END AS BIGINT) AS should_incr1,
          |  CAST(CASE WHEN t.sz > LEAST(10000000, 500 * 27) THEN 1 ELSE 0 END AS BIGINT) AS should_incr3,
          |  CAST(CASE WHEN t.sz > 500 THEN 1 ELSE 0 END AS BIGINT) AS should_step1,
          |  CAST(CASE WHEN t.sz > 10000000 THEN 1 ELSE 0 END AS BIGINT) AS should_step2,
          |  (SELECT CAST(COUNT(*) AS BIGINT) FROM __sp_puts
          |   WHERE row < m.split_prefix) AS bottom_cells,
          |  (SELECT CAST(COUNT(*) AS BIGINT) FROM __sp_puts
          |   WHERE row >= m.split_prefix) AS top_cells,
          |  CAST(0 AS BIGINT) AS mismatches
          |FROM __sp_mid m, __sp_tot t""".stripMargin))
    ),
    QDef(
      // REGION NORMALIZER planned AND executed
      // (SimpleRegionNormalizer.java:240-470 + MergeNormalizationPlan /
      // SplitNormalizationPlan): an 8-region chain with a skewed
      // row-range layout (cumulative row-count thresholds in 20ths:
      // 1,2,3,11,14,16,18,20 — three small head regions, one giant,
      // then mediums) is planned — splits for regions over twice the
      // DOUBLE average, merges from the greedy range walk against its
      // LONG truncation — and the plans EXECUTE through the store
      // machinery: merges via the crash-safe merge rewrite, splits at
      // the file's index mid key. The oracle re-derives the region
      // sizes, the split census, the merge walk (an 8-step fold as a
      // recursive CTE) and the resulting file count; read-back
      // identity closes it.
      "q100_normalizer",
      (s, dir) => {
        import graft.flow.{Compactions, HFiles, Normalizer, SplitPolicies}
        import graft.flow.Normalizer.{MergePlan, NKnobs, NRegion, SplitPlan}
        import org.apache.spark.sql.expressions.Window
        val puts = Fixtures.cellsEventsV(s, dir)
          .filter(col("type") === "Put" && col("value").isNotNull)
        val rows = puts.select("row").distinct()
        val n = rows.count()
        val th = Seq(1, 2, 3, 11, 14, 16, 18)
        val idxed = rows.withColumn("idx",
          row_number().over(Window.orderBy("row")))
        val regionCol = th.zipWithIndex.foldLeft(lit(0)) {
          case (acc, (t, k)) =>
            when(col("idx") * 20 > lit(n * t), lit(k + 1)).otherwise(acc)
        }
        val withR = puts.join(broadcast(idxed.withColumn("region", regionCol)
          .select("row", "region")), Seq("row"))
        val out = graft.Queries.scratchDir("q100_norm")
        val fs = new org.apache.hadoop.fs.Path(out)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        // logical region sizes (value bytes — the unit cancels out of
        // every normalizer decision; the oracle derives the same).
        // Region files are POSITION-indexed over the non-empty regions
        // (at the oracle's sf0.01 all 8 are populated; a tiny fixture
        // may leave percentile bands empty and must still run)
        val sizes0 = withR.groupBy("region")
          .agg(sum(octet_length(col("value"))).cast("long").as("sz"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
          .toIndexedSeq
        // ONE export job for the whole 8-region layout (the r16 trim:
        // per-region jobs re-scanned the fixture 8×); small blocks so
        // every region file has a real index mid key
        val posOf = typedLit(sizes0.zipWithIndex.map {
          case ((reg, _), pos) => reg -> pos }.toMap)
        HFiles.exportRegions(
          withR.withColumn("pos", element_at(posOf, col("region"))),
          "pos", out, pos => f"part-$pos%05d.hfile", blockSize = 512)
        val sizes = sizes0.map(_._2)
        val plans = Normalizer.computePlans(sizes.map(NRegion(_)), NKnobs())
        val splits = plans.collect { case p: SplitPlan => p }
        val merges = plans.collect { case p: MergePlan => p }
        splits.foreach(p => SplitPolicies.splitStoreFile(s, out,
          f"part-${p.region}%05d.hfile"))
        merges.foreach(p => Compactions.mergeFiles(s, out,
          p.regions.map(i => f"part-$i%05d.hfile")))
        val filesAfter = fs.globStatus(
          new org.apache.hadoop.fs.Path(out, "part-*.hfile")).length
        val back = HFiles.importCells(s, out)
        val mismatches = back.alias("b")
          .join(puts.alias("o"),
            Seq("row", "family", "qualifier", "ts", "type"), "full")
          .filter(not(col("b.value") <=> col("o.value")))
          .count()
        puts.agg(count(lit(1)).as("n_cells"))
          .withColumn("n_regions", lit(sizes.length.toLong))
          .withColumn("n_splits", lit(splits.size.toLong))
          .withColumn("n_merges", lit(merges.size.toLong))
          .withColumn("merged_members", lit(merges.map(_.regions.size).sum.toLong))
          .withColumn("files_after", lit(filesAfter.toLong))
          .withColumn("mismatches", lit(mismatches))
      },
      Some(Cte.withCtes(Cte.cellsEventsV,
        """__nm_puts AS (
          |  SELECT * FROM cells_events_v
          |  WHERE type = 'Put' AND value IS NOT NULL
          |), __nm_rows AS (
          |  SELECT row, ROW_NUMBER() OVER (ORDER BY row) AS idx,
          |         COUNT(*) OVER () AS n
          |  FROM (SELECT DISTINCT row FROM __nm_puts)
          |), __nm_assign AS (
          |  SELECT row,
          |         CASE WHEN idx * 20 > n * 18 THEN 7
          |              WHEN idx * 20 > n * 16 THEN 6
          |              WHEN idx * 20 > n * 14 THEN 5
          |              WHEN idx * 20 > n * 11 THEN 4
          |              WHEN idx * 20 > n * 3 THEN 3
          |              WHEN idx * 20 > n * 2 THEN 2
          |              WHEN idx * 20 > n * 1 THEN 1
          |              ELSE 0 END AS region
          |  FROM __nm_rows
          |), __nm_sz AS (
          |  SELECT a.region AS i,
          |         CAST(SUM(octet_length(encode(p.value))) AS BIGINT) AS sz
          |  FROM __nm_puts p JOIN __nm_assign a USING (row)
          |  GROUP BY 1
          |), __nm_avg AS (
          |  SELECT SUM(sz) / 8.0 AS avg_d,
          |         CAST(FLOOR(SUM(sz) / 8.0) AS BIGINT) AS avg_l
          |  FROM __nm_sz
          |), __nm_splits AS (
          |  SELECT CAST(COUNT(*) AS BIGINT) AS k
          |  FROM __nm_sz, __nm_avg WHERE sz > 2 * avg_d
          |), __nm_walk AS (
          |  -- the greedy merge-range fold: a region joins the current
          |  -- range while empty-seeded, zero-size, or fitting under
          |  -- the LONG average; a non-fitting region emits the range
          |  -- (when >=2 members) and seeds the next
          |  WITH RECURSIVE w(i, cnt, sm, merges, members) AS (
          |    SELECT 0, 0, CAST(0 AS BIGINT), 0, 0
          |    UNION ALL
          |    SELECT r.i + 1,
          |      CASE WHEN (w.cnt = 0 OR (w.cnt = 1 AND w.sm = 0)
          |                 OR r.sz = 0 OR r.sz + w.sm <= a.avg_l)
          |           THEN w.cnt + 1 ELSE 1 END,
          |      CASE WHEN (w.cnt = 0 OR (w.cnt = 1 AND w.sm = 0)
          |                 OR r.sz = 0 OR r.sz + w.sm <= a.avg_l)
          |           THEN w.sm + r.sz ELSE r.sz END,
          |      w.merges + CASE WHEN NOT (w.cnt = 0 OR (w.cnt = 1 AND w.sm = 0)
          |                 OR r.sz = 0 OR r.sz + w.sm <= a.avg_l)
          |                 AND w.cnt >= 2 THEN 1 ELSE 0 END,
          |      w.members + CASE WHEN NOT (w.cnt = 0 OR (w.cnt = 1 AND w.sm = 0)
          |                 OR r.sz = 0 OR r.sz + w.sm <= a.avg_l)
          |                 AND w.cnt >= 2 THEN w.cnt ELSE 0 END
          |    FROM w JOIN __nm_sz r ON r.i = w.i CROSS JOIN __nm_avg a
          |    WHERE w.i < 8
          |  ) SELECT CAST(merges + CASE WHEN cnt >= 2 THEN 1 ELSE 0 END AS BIGINT) AS n_merges,
          |           CAST(members + CASE WHEN cnt >= 2 THEN cnt ELSE 0 END AS BIGINT) AS members
          |    FROM w WHERE i = 8
          |)""".stripMargin)(
        """SELECT
          |  (SELECT CAST(COUNT(*) AS BIGINT) FROM __nm_puts) AS n_cells,
          |  CAST(8 AS BIGINT) AS n_regions,
          |  (SELECT k FROM __nm_splits) AS n_splits,
          |  (SELECT n_merges FROM __nm_walk) AS n_merges,
          |  (SELECT members FROM __nm_walk) AS merged_members,
          |  8 + (SELECT k FROM __nm_splits)
          |    - (SELECT members - n_merges FROM __nm_walk) AS files_after,
          |  CAST(0 AS BIGINT) AS mismatches""".stripMargin))
    ),
    QDef(
      // UNIFIED region-maintenance surface: the normalizer's plans
      // EXECUTE through the Admin facade over flat HFile region
      // stores — GAdmin.splitRegionStore routes WHERE through
      // SplitPolicies.storeSplitPoint (the index mid key,
      // HStore.getSplitPoint) and GAdmin.mergeRegionStores through
      // the consolidated-store rewrite — so bucketed-table admin
      // (q80) and flat-store maintenance (q99/q100) meet in ONE user
      // surface. A 3-region chain [small, small, giant] (row-count
      // thresholds 2,4 in 20ths) plans exactly one merge ([0,1]) and
      // one split (region 2); the oracle re-derives the region
      // census, both plan decisions, the giant's median-cell split
      // row (one-cell blocks make the mid key exact), and the
      // daughter/merged cell counts; read-back identity closes it.
      // The rows are every ninth user plus the first twelve, so the
      // chain holds at every fixture scale (sf0.001 has 15 users: every
      // ninth alone left two rows and an empty region 0, and no plan).
      "q101_region_admin",
      (s, dir) => {
        import graft.admin.GAdmin
        import graft.flow.{HFiles, Normalizer}
        import graft.flow.Normalizer.{MergePlan, NKnobs, NRegion, SplitPlan}
        import org.apache.spark.sql.expressions.Window
        val puts = Fixtures.cellsEventsV(s, dir)
          .filter(col("type") === "Put" && col("value").isNotNull &&
            (col("row").cast("long") % 9 === 1 || col("row").cast("long") < 12))
        val rows = puts.select("row").distinct()
        val n = rows.count()
        val idxed = rows.withColumn("idx",
          row_number().over(Window.orderBy("row")))
        val regionCol = when(col("idx") * 20 > lit(n * 4), 2)
          .when(col("idx") * 20 > lit(n * 2), 1).otherwise(0)
        val withR = puts.join(broadcast(idxed.withColumn("region", regionCol)
          .select("row", "region")), Seq("row"))
        val base = graft.Queries.scratchDir("q101_admin")
        // ONE export job for the 3 region stores (the r16 trim)
        HFiles.exportRegions(withR, "region", base,
          k => s"r$k/part-00000.hfile", blockSize = 1,
          indexMaxChunk = 4096)
        val sizes = withR.groupBy("region")
          .agg(sum(octet_length(col("value"))).cast("long").as("sz"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
          .map(_._2).toIndexedSeq
        val plans = Normalizer.computePlans(sizes.map(NRegion(_)), NKnobs())
        val splits = plans.collect { case p: SplitPlan => p }
        val merges = plans.collect { case p: MergePlan => p }
        require(splits.size == 1 && merges.size == 1,
          s"fixture drift: $plans")
        val splitRow = GAdmin.splitRegionStore(s,
          s"$base/r${splits.head.region}", s"$base/bot", s"$base/top")
          .getOrElse(sys.error("degenerate split point"))
        GAdmin.mergeRegionStores(s,
          merges.head.regions.map(i => s"$base/r$i"), s"$base/merged")
        // one read of the three result stores serves the per-store
        // counts AND the mismatch sweep (r17-opt: was 3 serial count
        // jobs + a second union read of the same files — the per-cell
        // blockSize=1 layout makes each read expensive)
        val afterTagged = Seq("bot", "top", "merged")
          .map(d => HFiles.importCells(s, s"$base/$d")
            .withColumn("__d", lit(d)))
          .reduce(_ unionByName _)
          .localCheckpoint()
        val cnt = afterTagged.groupBy("__d").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val bottomCells = cnt.getOrElse("bot", 0L)
        val topCells = cnt.getOrElse("top", 0L)
        val mergedCells = cnt.getOrElse("merged", 0L)
        val after = afterTagged.drop("__d")
        val mismatches = after.alias("b")
          .join(puts.alias("o"),
            Seq("row", "family", "qualifier", "ts", "type"), "full")
          .filter(not(col("b.value") <=> col("o.value")))
          .count()
        import s.implicits._
        Seq((puts.count(), splits.head.region.toLong, splitRow,
          merges.head.regions.size.toLong, mergedCells,
          bottomCells, topCells, mismatches))
          .toDF("n_cells", "split_region", "split_row",
            "merge_members", "merged_cells", "bottom_cells",
            "top_cells", "mismatches")
      },
      Some(Cte.withCtes(Cte.cellsEventsV,
        """__u_puts AS (
          |  SELECT * FROM cells_events_v
          |  WHERE type = 'Put' AND value IS NOT NULL
          |    AND (CAST(row AS BIGINT) % 9 = 1 OR CAST(row AS BIGINT) < 12)
          |), __u_rows AS (
          |  SELECT row, ROW_NUMBER() OVER (ORDER BY row) AS idx,
          |         COUNT(*) OVER () AS n
          |  FROM (SELECT DISTINCT row FROM __u_puts)
          |), __u_assign AS (
          |  SELECT row, CASE WHEN idx * 20 > n * 4 THEN 2
          |                   WHEN idx * 20 > n * 2 THEN 1
          |                   ELSE 0 END AS region
          |  FROM __u_rows
          |), __u_sz AS (
          |  SELECT a.region AS i,
          |         CAST(SUM(octet_length(encode(p.value))) AS BIGINT) AS sz
          |  FROM __u_puts p JOIN __u_assign a USING (row)
          |  GROUP BY 1
          |), __u_avg AS (
          |  SELECT SUM(sz) / 3.0 AS avg_d,
          |         CAST(FLOOR(SUM(sz) / 3.0) AS BIGINT) AS avg_l
          |  FROM __u_sz
          |), __u_g AS (
          |  -- the giant region's cells in comparator order; one-cell
          |  -- blocks make the store split point the median cell
          |  SELECT p.row,
          |         ROW_NUMBER() OVER (ORDER BY p.row, p.family,
          |           p.qualifier, p.ts DESC) AS rn,
          |         COUNT(*) OVER () AS n2
          |  FROM __u_puts p JOIN __u_assign a USING (row)
          |  WHERE a.region = 2
          |), __u_mid AS (
          |  SELECT row AS split_row
          |  FROM __u_g WHERE rn = (n2 - 1) // 2 + 1
          |)""".stripMargin)(
        """SELECT
          |  (SELECT CAST(COUNT(*) AS BIGINT) FROM __u_puts) AS n_cells,
          |  (SELECT CAST(MIN(i) AS BIGINT) FROM __u_sz, __u_avg
          |   WHERE sz > 2 * avg_d) AS split_region,
          |  m.split_row,
          |  (SELECT CAST(CASE WHEN s0.sz + s1.sz <= a.avg_l
          |                    THEN 2 ELSE 0 END AS BIGINT)
          |   FROM __u_sz s0, __u_sz s1, __u_avg a
          |   WHERE s0.i = 0 AND s1.i = 1) AS merge_members,
          |  (SELECT CAST(COUNT(*) AS BIGINT) FROM __u_puts p
          |   JOIN __u_assign a USING (row) WHERE a.region < 2) AS merged_cells,
          |  (SELECT CAST(COUNT(*) AS BIGINT) FROM __u_puts p
          |   JOIN __u_assign a USING (row)
          |   WHERE a.region = 2 AND p.row < m.split_row) AS bottom_cells,
          |  (SELECT CAST(COUNT(*) AS BIGINT) FROM __u_puts p
          |   JOIN __u_assign a USING (row)
          |   WHERE a.region = 2 AND p.row >= m.split_row) AS top_cells,
          |  CAST(0 AS BIGINT) AS mismatches
          |FROM __u_mid m""".stripMargin))
    ),
    QDef(
      // BulkDeleteEndpoint COLUMN mode (BulkDeleteEndpoint.java:210):
      // the scan (maxVersions=3, filter event_type='click') defines
      // the matched user-visible cells — the filter runs BEFORE the
      // version gate, as in the matcher — and every matched column
      // gets a DeleteColumn marker at LATEST_TIMESTAMP. The final
      // read over store ∪ markers hides those columns entirely while
      // props/value survive.
      "q68_bulk_delete",
      (s, dir) => {
        val cells = Fixtures.cellsEventsV(s, dir)
        // LAND the marker frame before the read-back resolve (the
        // BulkDeleteEndpoint shape: markers are durable mutations the
        // region applies, not a subplan of the reader). Without the
        // boundary the final resolve re-derives the whole matched-scan
        // subplan (dev/PLANS.md q68 row).
        val tmp = graft.Queries.scratchDir("bulk_delete_q")
        Jobs.bulkDelete(cells,
          graft.read.GScan(maxVersions = 3,
            filter = Some(col("qualifier") === "event_type" && col("value") === "click")),
          "COLUMN").write.mode("overwrite").parquet(s"$tmp/markers")
        val marks = s.read.parquet(s"$tmp/markers")
        Resolve.latest(cells.unionByName(marks), maxVersions = 2)
          .select("row", "family", "qualifier", "ts", "value")
          .orderBy(col("row"), col("family"), col("qualifier"), col("ts").desc)
      },
      Some(Cte.withCtes(Cte.cellsEventsV, Cte.liveEventsV,
        """__bd_m AS (
          |  SELECT DISTINCT row FROM (
          |    SELECT row, row_number() OVER (PARTITION BY row, family, qualifier ORDER BY ts DESC) AS rn
          |    FROM live_events WHERE qualifier = 'event_type' AND value = 'click')
          |  WHERE rn <= 3),
          |__bd_all AS (
          |  SELECT * FROM cells_events_v
          |  UNION ALL
          |  SELECT row, 'd' AS family, 'event_type' AS qualifier,
          |         CAST(9223372036854775807 AS BIGINT) AS ts,
          |         'DeleteColumn' AS type, CAST(NULL AS VARCHAR) AS value
          |  FROM __bd_m)""".stripMargin,
        Cte.liveView("__bd_all", "live_bd"))(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT *, row_number() OVER (PARTITION BY row, family, qualifier ORDER BY ts DESC) AS rn
          |  FROM live_bd
          |) WHERE rn <= 2 ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      // M6 RowMutations (client/RowMutations.java:37; applied by
      // HRegion.mutateRow under one row lock): a multi-op single-row
      // batch — here a Put to event_type AND a DeleteColumn on props,
      // both at ts 6, for every row with user_id % 11 == 0 — lands as
      // ONE mutation batch (graft's atomicity boundary is the
      // job-commit, SURVEY §2.5 M7). The resolved read shows both
      // effects together: the new put IS the visible event_type
      // version and props is gone, on exactly those rows.
      "q71_row_mutations",
      (s, dir) => {
        import graft.model.CellType
        import graft.write.Mutations
        val cells = Fixtures.cellsEventsV(s, dir)
        val rmRows = cells.select("row").distinct()
          .filter(col("row").cast("long") % 11 === 0)
        val puts = rmRows.select(col("row"), lit("d").as("family"),
          lit("event_type").as("qualifier"), lit(6L).as("ts"),
          lit(CellType.Put).as("type"), concat(lit("rm:"), col("row")).as("value"))
        val dels = rmRows.select(col("row"), lit("d").as("family"),
          lit("props").as("qualifier"), lit(6L).as("ts"),
          lit(CellType.DeleteColumn).as("type"), lit(null).cast("string").as("value"))
        // LAND the mutation batch before the merge: a RowMutations
        // batch is client-supplied data, not a subplan of the reader —
        // without the boundary mergeLatest's resolve re-derives the
        // distinct-row seed (dev/PLANS.md q71 row).
        val tmp = graft.Queries.scratchDir("row_mutations_q")
        puts.unionByName(dels).write.mode("overwrite").parquet(s"$tmp/batch")
        Mutations.mergeLatest(cells, s.read.parquet(s"$tmp/batch"), maxVersions = 1)
          .select("row", "family", "qualifier", "ts", "value")
          .orderBy(col("row"), col("family"), col("qualifier"), col("ts").desc)
      },
      Some(Cte.withCtes(Cte.cellsEventsV,
        """__rm_rows AS (SELECT DISTINCT row FROM cells_events_v WHERE CAST(row AS BIGINT) % 11 = 0),
          |__rm_all AS (
          |  SELECT * FROM cells_events_v
          |  UNION ALL
          |  SELECT row, 'd' AS family, 'event_type' AS qualifier, CAST(6 AS BIGINT) AS ts,
          |         'Put' AS type, 'rm:' || row AS value FROM __rm_rows
          |  UNION ALL
          |  SELECT row, 'd' AS family, 'props' AS qualifier, CAST(6 AS BIGINT) AS ts,
          |         'DeleteColumn' AS type, CAST(NULL AS VARCHAR) AS value FROM __rm_rows)""".stripMargin,
        Cte.liveView("__rm_all", "live_rm"))(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT *, row_number() OVER (PARTITION BY row, family, qualifier ORDER BY ts DESC) AS rn
          |  FROM live_rm
          |) WHERE rn <= 1 ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      // Region split as a DECLARED query (Admin.splitRegionAsync →
      // SplitTableRegionProcedure's daughter store-file rewrite; graft
      // regions are buckets, GAdmin.splitRegions): land cells_orders in
      // a 4-region table, split to 8, then audit the result FROM THE
      // FILES — every cell present (n_cells/n_rows vs the source), the
      // region count doubled, and every row physically in the bucket
      // its hash names (misplaced = 0; Spark bucket id = pmod(hash(row),
      // n), the same Murmur3(seed 42) the hash() function computes —
      // the oracle pins the expectation, the Spark side measures it).
      "q80_region_split",
      (s, dir) => {
        import graft.admin.GAdmin
        if (GAdmin.tableExists(s, "q80tbl")) GAdmin.deleteTable(s, "q80tbl")
        val tmp = graft.Queries.scratchDir("split_q")
        GAdmin.createTable(s, "q80tbl", tmp, buckets = 4)
        GAdmin.put(s, "q80tbl", Fixtures.cellsOrders(s, dir))
        GAdmin.splitRegions(s, "q80tbl")
        val regions = GAdmin.regionCount(s, "q80tbl")
        GAdmin.table(s, "q80tbl")
          .withColumn("__bucket",
            regexp_extract(input_file_name(), "_(\\d{5})\\.", 1).cast("int"))
          .withColumn("__want", pmod(hash(col("row")), lit(8)))
          .agg(
            count(lit(1)).as("n_cells"),
            count_distinct(col("row")).as("n_rows"),
            count(when(col("__bucket") =!= col("__want"), 1)).as("misplaced"))
          .withColumn("regions", lit(regions.toLong))
      },
      Some(Cte.withCtes(Cte.cellsOrders)(
        """SELECT COUNT(*) AS n_cells, COUNT(DISTINCT row) AS n_rows,
          |       CAST(0 AS BIGINT) AS misplaced, CAST(8 AS BIGINT) AS regions
          |FROM cells_orders""".stripMargin))
    ),
    QDef(
      // Quota scope cascade as a DECLARED query (QuotaSettingsFactory
      // .throttleUser/.throttleNamespace + table scope;
      // GAdmin.pickThrottle's most-specific-wins order user+table >
      // user+ns > user > table > namespace): configure one quota per
      // scope over a 2-table namespace, derive a request schedule FROM
      // the orders table (user by custkey, table by orderkey), replay
      // it through the cascade at one instant from a clean slate, and
      // report admitted/rejected per (user, table) with the scope that
      // governed. The oracle recomputes the same counts analytically —
      // at one instant a fresh AVERAGE bucket admits exactly
      // min(n, limit), sequentially for groups sharing a bucket (bob's
      // global USER quota spans both tables, in schedule order).
      "q82_quota_scopes",
      (s, dir) => {
        import graft.admin.GAdmin
        if (!GAdmin.listNamespaces(s).contains("q82ns"))
          GAdmin.createNamespace(s, "q82ns")
        val tmp = graft.Queries.scratchDir("quota_q")
        for (t <- Seq("q82ns:ta", "q82ns:tb") if !GAdmin.tableExists(s, t))
          GAdmin.createTable(s, t, tmp, buckets = 2)
        // registry scopes land in ONE batched swap-write (and unwind
        // in one more) — the per-scope setters would pay one rewrite
        // each; the table scope is a TBLPROPERTIES write as always
        GAdmin.upsertQuotas(s, Seq(
          GAdmin.QuotaEntry("USER", "alice", "t:q82ns:ta", "THROTTLE",
            3, 1000, "AVERAGE"),
          GAdmin.QuotaEntry("USER", "alice", "n:q82ns", "THROTTLE",
            4, 1000, "AVERAGE"),
          GAdmin.QuotaEntry("USER", "bob", "", "THROTTLE",
            5, 1000, "AVERAGE"),
          GAdmin.QuotaEntry("NAMESPACE", "q82ns", "", "THROTTLE",
            7, 1000, "AVERAGE")))
        GAdmin.setThrottleQuota(s, "q82ns:ta", limit = 6)
        // bounded: the corpus collapses to 6 (user, table) counts
        val sched = graft.model.Tables.load(s, s"$dir/orders.parquet")
          .select(
            when(pmod(col("o_custkey"), lit(3)) === 0, "alice")
              .when(pmod(col("o_custkey"), lit(3)) === 1, "bob")
              .otherwise("carol").as("usr"),
            when(pmod(col("o_orderkey"), lit(2)) === 0, "q82ns:ta")
              .otherwise("q82ns:tb").as("tbl"))
          .groupBy("usr", "tbl").agg(count(lit(1)).as("n"))
          .orderBy("usr", "tbl")
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .toSeq
        val audit = GAdmin.throttleAudit(s, sched, nowMs = 1000000L)
        // unwind the registry so the config doesn't bleed across queries
        GAdmin.removeQuotas(s, Seq(
          ("USER", "alice", "t:q82ns:ta", "THROTTLE"),
          ("USER", "alice", "n:q82ns", "THROTTLE"),
          ("USER", "bob", "", "THROTTLE"),
          ("NAMESPACE", "q82ns", "", "THROTTLE")))
        GAdmin.removeThrottleQuota(s, "q82ns:ta")
        import s.implicits._
        audit.toDF("usr", "tbl", "scope", "n_requests", "n_admitted",
            "n_rejected")
          .withColumn("tbl", regexp_replace(col("tbl"), "^q82ns:", ""))
          .orderBy("usr", "tbl")
      },
      Some("""WITH req AS (
          |  SELECT CASE o_custkey % 3 WHEN 0 THEN 'alice' WHEN 1 THEN 'bob' ELSE 'carol' END AS usr,
          |         CASE o_orderkey % 2 WHEN 0 THEN 'ta' ELSE 'tb' END AS tbl
          |  FROM orders),
          |g AS (SELECT usr, tbl, CAST(COUNT(*) AS BIGINT) AS n_requests
          |      FROM req GROUP BY usr, tbl),
          |adm AS (
          |  SELECT usr, tbl, n_requests,
          |    CAST(CASE
          |      WHEN usr = 'alice' AND tbl = 'ta' THEN LEAST(n_requests, 3)
          |      WHEN usr = 'alice' THEN LEAST(n_requests, 4)
          |      WHEN usr = 'bob' AND tbl = 'ta' THEN LEAST(n_requests, 5)
          |      WHEN usr = 'bob' THEN GREATEST(0, LEAST(n_requests,
          |        5 - COALESCE((SELECT LEAST(n_requests, 5) FROM g g2
          |                      WHERE g2.usr = 'bob' AND g2.tbl = 'ta'), 0)))
          |      WHEN tbl = 'ta' THEN LEAST(n_requests, 6)
          |      ELSE LEAST(n_requests, 7) END AS BIGINT) AS n_admitted
          |  FROM g)
          |SELECT usr, tbl,
          |  CASE WHEN usr = 'alice' AND tbl = 'ta' THEN 'USER_TABLE'
          |       WHEN usr = 'alice' THEN 'USER_NS'
          |       WHEN usr = 'bob' THEN 'USER'
          |       WHEN tbl = 'ta' THEN 'TABLE'
          |       ELSE 'NAMESPACE' END AS scope,
          |  n_requests, n_admitted,
          |  n_requests - n_admitted AS n_rejected
          |FROM adm ORDER BY usr, tbl""".stripMargin)
    ),
    QDef(
      // D9 streaming form: the WAL (split into 3 files, one micro-batch
      // each via maxFilesPerTrigger) lands as epoch-idempotent HFile-v3
      // region files (WalStream.hfileBackupSink — the reference's
      // incremental backup writes store files from WALs); a bulk-load
      // marker rides the stream and must NEVER land as a cell. The
      // declared result is the byte-format roundtrip of the full WAL
      // data slice: decode(epoch tree) = the cell fixture, with NULL
      // tombstone values landing as empty (the KeyValue wire format has
      // no nulls — same contract as the reference's empty delete-marker
      // values).
      "q84_stream_backup",
      (s, dir) => {
        import graft.stream.{WalMeta, WalStream}
        // the WAL pre-exists in a deployment (the backup job tails it,
        // it doesn't create it) — write the log once per (session, sf)
        // and let bench reps time the backup itself
        val walDir = q84WalOnce.getOrElseUpdate(
          (System.identityHashCode(s), dir), {
            // per-sf slot: a session crossing sf dirs must not wipe the
            // other sf's cached log
            val out = graft.Queries.scratchDir(
              "stream_backup_wal_" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
            val wal = Fixtures.cellsEventsV(s, dir)
              .unionByName(WalMeta.markers(s,
                Seq(("0000000000", WalMeta.BulkLoad, 9L, "bl-desc"))))
            wal.repartition(2).write.mode("overwrite").parquet(s"$out/wal")
            s"$out/wal"
          })
        val out = graft.Queries.scratchDir("stream_backup_q")
        val stream = s.readStream
          .schema(Fixtures.cellsEventsV(s, dir).schema)
          .option("maxFilesPerTrigger", "1").parquet(walDir)
        // production-shaped store files: FAST_DIFF blocks under ZSTD —
        // the encoding/compression pair a real cluster's backups carry
        WalStream.hfileBackupSink(stream, s"$out/bk", numRegions = 4,
          queryName = "q84sink",
          encoding = graft.codec.BlockEncoding.IdFastDiff,
          compression = graft.codec.HFileV3.CompressionZstd)
        graft.flow.HFiles
          .importCells(s, s"$out/bk", glob = "epoch=*/part-*.hfile")
          .orderBy("row", "family", "qualifier", "ts", "type", "value")
      },
      Some(Cte.withCtes(Cte.cellsEventsV)(
        """SELECT row, family, qualifier, ts, type, COALESCE(value, '') AS value
          |FROM cells_events_v
          |ORDER BY row, family, qualifier, ts, type, value""".stripMargin))
    ),
    QDef(
      // ExportSnapshot (`hbase-mapreduce/.../snapshot/ExportSnapshot
      // .java`): a snapshot's store files leave the cluster as HFile
      // region files and a destination cluster clones a table from
      // them — snapshot → byte-format export → import → put, read back
      // through the destination's catalog. Since r9 the shipped tree
      // is the reference's FULL snapshot layout (SnapshotShip):
      // `.hbase-snapshot/<name>/{.snapshotinfo,data.manifest}` (raw
      // SnapshotDescription / SnapshotDataManifest protos,
      // SnapshotManifest.java:75,575) + `archive/data/<ns>/<table>/
      // <region>/<family>/<storefile>`; the destination enumerates
      // store files FROM the manifest with sizes verified, never by
      // glob. The declared result is the destination table's full cell
      // stream = the source fixture.
      "q85_export_snapshot",
      (s, dir) => {
        import graft.admin.GAdmin
        val out = graft.Queries.scratchDir("export_snap_q")
        for (t <- Seq("q85src", "q85dst"))
          if (GAdmin.tableExists(s, t)) GAdmin.deleteTable(s, t)
        GAdmin.createTable(s, "q85src", s"$out/src", buckets = 4)
        GAdmin.put(s, "q85src", Fixtures.cellsOrders(s, dir))
        GAdmin.snapshot(s, "q85src", "snap1", s"$out/snaps")
        graft.flow.SnapshotShip.exportSnapshot(
          s.read.parquet(s"$out/snaps/snap1"), 8, s"$out/shipped",
          "snap1", "q85src")
        val shipped = graft.flow.SnapshotShip.importSnapshot(
          s, s"$out/shipped", "snap1")
        GAdmin.createTable(s, "q85dst", s"$out/dst", buckets = 4)
        GAdmin.put(s, "q85dst", shipped)
        GAdmin.table(s, "q85dst")
          .select("row", "family", "qualifier", "ts", "type", "value")
          .orderBy("row", "family", "qualifier", "ts", "type", "value")
      },
      Some(Cte.withCtes(Cte.cellsOrders)(
        """SELECT row, family, qualifier, ts, type, value FROM cells_orders
          |ORDER BY row, family, qualifier, ts, type, value""".stripMargin))
    ),
    QDef(
      // q86's replay with WAL DICTIONARY COMPRESSION on
      // (hbase.regionserver.wal.enablecompression — codec/
      // WalCompression.scala citing LRUDictionary.java:78-126,
      // WALCellCodec.java:169-180,291-374): WALKey region/table and
      // every cell's row/family/qualifier code through five shared
      // LRU dictionaries with index recycling; writer find-hits and
      // reader gets both touch the LRU so the two ends stay
      // synchronized across evictions — PLUS value compression
      // (HBASE-25869: one gz stream spans every value, per-cell
      // flushed segments, cross-value back-references). Same
      // WALPlayer oracle as q86.
      "q89_pwal_compressed",
      (s, dir) => {
        val out = graft.Queries.scratchDir("q89_pwal_comp")
        graft.flow.PWalFiles.export(
          Fixtures.cellsEventsV(s, dir), 4, s"$out/wals",
          compressed = true,
          valueCompression = graft.codec.HFileV3.CompressionGz)
        Jobs.walPlayer(
            graft.flow.PWalFiles.importEntries(s, s"$out/wals"),
            timeRange = Some((2L, 4L)),
            rowRemap = Some(r => concat(lit("t2:"), r)),
            bulkLoadMode = true)
          .select("row", "family", "qualifier", "ts", "type", "value")
          .orderBy("row", "qualifier", "ts")
      },
      Some(Cte.withCtes(Cte.cellsEventsV)(
        """SELECT 't2:' || row AS row, family, qualifier, ts, type, value
          |FROM cells_events_v WHERE ts >= 2 AND ts < 4 AND type = 'Put'
          |ORDER BY row, qualifier, ts""".stripMargin))
    ),
    QDef(
      // S9's byte-format STREAMING form: tail a PB WAL segment
      // directory live (PWalFiles.streamEntries — the
      // ReplicationSource shape over the real wire format): segments
      // arrive one per micro-batch (maxFilesPerTrigger=1), each parses
      // whole through PWal.readBytes, and the bounded AvailableNow run
      // must reproduce the full log's data slice — CDC from a real
      // cluster's log dir with no parquet intermediary.
      "q88_pwal_stream",
      (s, dir) => {
        import graft.stream.WalStream
        val out = graft.Queries.scratchDir("q88_pwal_stream")
        graft.flow.PWalFiles.export(
          Fixtures.cellsEventsV(s, dir), 3, s"$out/wals")
        val stream = graft.flow.PWalFiles.streamEntries(s, s"$out/wals")
          .select("row", "family", "qualifier", "ts", "type", "value")
        WalStream.runAvailableNow(stream, "q88pwal", mode = "append")
          .orderBy("row", "family", "qualifier", "ts", "type", "value")
      },
      Some(Cte.withCtes(Cte.cellsEventsV)(
        """SELECT row, family, qualifier, ts, type, COALESCE(value, '') AS value
          |FROM cells_events_v
          |ORDER BY row, family, qualifier, ts, type, value""".stripMargin))
    ),
    QDef(
      // Snapshot of a SPLIT table: every region becomes two daughters
      // whose store files are half-file REFERENCES (FS.proto Reference
      // TOP/BOTTOM around the parent file's mid-block row,
      // HalfStoreFileReader.java:43-61) through HFileLink names
      // (`ns=table=region-hfile`, HFileLink.java:70) back to the
      // parent's archive file — the layout a reference cluster's
      // snapshot holds after splits, before daughter compactions. No
      // cell is rewritten; the manifest-driven import resolves links,
      // applies the half filters, and must reproduce the table exactly
      // (bottom ∪ top = parent, disjoint at the split row).
      "q87_split_snapshot",
      (s, dir) => {
        val out = graft.Queries.scratchDir("split_snap_q")
        graft.flow.SnapshotShip.exportSnapshot(
          Fixtures.cellsOrders(s, dir), 4, s"$out/shipped",
          "snapP", "q87src")
        graft.flow.SnapshotShip.splitSnapshot(
          s, s"$out/shipped", "snapP", "snapD")
        graft.flow.SnapshotShip.importSnapshot(s, s"$out/shipped", "snapD")
          .select("row", "family", "qualifier", "ts", "type", "value")
          .orderBy("row", "family", "qualifier", "ts", "type", "value")
      },
      Some(Cte.withCtes(Cte.cellsOrders)(
        """SELECT row, family, qualifier, ts, type, value FROM cells_orders
          |ORDER BY row, family, qualifier, ts, type, value""".stripMargin))
    ),
    QDef(
      // ENCRYPTED WAL segments (SecureProtobufLogWriter /
      // SecureWALCellCodec — AbstractProtobufLogWriter
      // .buildSecureWALHeader, SecureWALCellCodec.java:63-231): the
      // q86 replay with every cell an independently IV-framed AES-CTR
      // unit and the per-segment data key wrapped in WALHeader field 2
      // under the subject's master key (same WrappedKey proto as c11's
      // HFile trailers). The read side unwraps from the header alone —
      // importEntries is byte-format-agnostic across plain, compressed
      // (q89) and encrypted segments in the same directory tree.
      // Opacity / wrong-subject / no-compression-composition cases are
      // pinned by PWalCryptoSpec.
      "q90_pwal_encrypted",
      (s, dir) => {
        val out = graft.Queries.scratchDir("q90_pwal_enc")
        graft.flow.PWalFiles.export(
          Fixtures.cellsEventsV(s, dir), 4, s"$out/wals",
          encryptSubject = Some(graft.codec.HCrypto.DefaultSubject))
        Jobs.walPlayer(
            graft.flow.PWalFiles.importEntries(s, s"$out/wals"),
            timeRange = Some((2L, 4L)),
            rowRemap = Some(r => concat(lit("enc:"), r)),
            bulkLoadMode = true)
          .select("row", "family", "qualifier", "ts", "type", "value")
          .orderBy("row", "qualifier", "ts")
      },
      Some(Cte.withCtes(Cte.cellsEventsV)(
        """SELECT 'enc:' || row AS row, family, qualifier, ts, type, value
          |FROM cells_events_v WHERE ts >= 2 AND ts < 4 AND type = 'Put'
          |ORDER BY row, qualifier, ts""".stripMargin))
    ),
    QDef(
      // ClusterMetrics / hbtop twin (ClusterMetrics.java,
      // RegionMetrics.java, hbase-hbtop Region/Table modes): a small
      // cluster layout — two tables, three stores with distinct file
      // ladders (one per ts version), an archived twin and a mob file
      // — swept by GAdmin.clusterMetrics from trailer/FILE_INFO
      // METADATA preads only, then ranked hbtop-style by cell count.
      // The oracle re-derives every metric from the fixture's split
      // rules: file counts, per-store cell counts, TIMERANGE spans,
      // the linear compaction-pressure signal, mob/archive footprints.
      // (store_bytes is physical on-disk size — the function reports
      // it, the declared query drops it: codec-dependent, not a
      // fixture-derivable quantity.)
      "q104_cluster_metrics",
      (s, dir) => {
        import graft.admin.GAdmin
        import graft.flow.HFiles
        import org.apache.spark.sql.expressions.Window
        val puts = Fixtures.cellsEventsV(s, dir)
          .filter(col("type") === "Put" && col("value").isNotNull)
        val root = graft.Queries.scratchDir("q104_cm")
        val hconf = s.sparkContext.hadoopConfiguration
        val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(hconf)
        val uid = col("row").cast("long")
        val layout = Seq(
          ("ta", "r0", uid % 2 === 0, 1 to 5),
          ("ta", "r1", uid % 2 === 1, 1 to 2),
          ("tb", "r0", uid % 3 === 0, 3 to 5))
        // one-job layout landing (r17-opt, the q96 rewrite's twin): the
        // 12 per-(table, region, ts) export jobs collapse into one
        // exportRegions pass over the union of the layout slices (a row
        // can be in BOTH ta and tb — the slices overlap, so union, not
        // a single assignment column), keyed (slice, ts)
        layout.foreach { case (t, r, _, _) =>
          fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/data/$t/$r/d"))
        }
        val names = layout.map { case (t, r, _, _) => (t, r) }
        HFiles.exportRegions(
          layout.zipWithIndex.map { case ((_, _, pred, tss), i) =>
            puts.filter(pred && col("ts").isin(tss.map(_.toLong): _*))
              .select((lit(i * 100) + col("ts")).cast("int").as("__lt"),
                col("row"), col("family"), col("qualifier"), col("ts"),
                col("type"), col("value"))
          }.reduce(_ unionByName _),
          "__lt", s"$root/data",
          k => {
            val (t, r) = names(k / 100)
            f"$t%s/$r%s/d/part-${k % 100}%05d.hfile"
          })
        // an archived twin (compacted-away file) for ta/r0 and one mob
        // file for tb — the footprint columns
        fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/archive/data/ta/r0/d"))
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new org.apache.hadoop.fs.Path(s"$root/data/ta/r0/d/part-00001.hfile"),
          fs, new org.apache.hadoop.fs.Path(s"$root/archive/data/ta/r0/d/old-00001.hfile"),
          false, true, hconf)
        fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/mobdir/tb/d"))
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new org.apache.hadoop.fs.Path(s"$root/data/tb/r0/d/part-00003.hfile"),
          fs, new org.apache.hadoop.fs.Path(s"$root/mobdir/tb/d/mob-00001.hfile"),
          false, true, hconf)
        GAdmin.clusterMetrics(s, root)
          .withColumn("rank", row_number().over(Window.orderBy(
            col("n_cells").desc, col("table"), col("region"), col("store")))
            .cast("long"))
          .select("rank", "table", "region", "store", "file_count",
            "n_cells", "ts_min", "ts_max", "pressure", "mob_files",
            "archive_files")
          .orderBy("rank")
      },
      Some(Cte.withCtes(Cte.cellsEventsV,
        """__cm_puts AS (
          |  SELECT * FROM cells_events_v
          |  WHERE type = 'Put' AND value IS NOT NULL
          |), __cm_stores(tbl, region, store, m, k, lo, hi, mob, arch) AS (
          |  VALUES ('ta', 'r0', 'd', 2, 0, 1, 5, 0, 1),
          |         ('ta', 'r1', 'd', 2, 1, 1, 2, 0, 0),
          |         ('tb', 'r0', 'd', 3, 0, 3, 5, 1, 0)
          |), __cm_rows AS (
          |  SELECT s.tbl, s.region, s.store, s.mob, s.arch,
          |         s.hi - s.lo + 1 AS file_count,
          |         CAST(COUNT(*) AS BIGINT) AS n_cells,
          |         CAST(MIN(p.ts) AS BIGINT) AS ts_min,
          |         CAST(MAX(p.ts) AS BIGINT) AS ts_max
          |  FROM __cm_stores s JOIN __cm_puts p
          |    ON CAST(p.row AS BIGINT) % s.m = s.k
          |   AND p.ts BETWEEN s.lo AND s.hi
          |  GROUP BY 1, 2, 3, 4, 5, 6
          |)""".stripMargin)(
        """SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_cells DESC, tbl,
          |         region, store) AS BIGINT) AS rank,
          |       tbl AS "table", region, store,
          |       CAST(file_count AS BIGINT) AS file_count, n_cells,
          |       ts_min, ts_max,
          |       CASE WHEN file_count <= 3 THEN 0.0
          |            ELSE (file_count - 3) / 13.0 END AS pressure,
          |       CAST(mob AS BIGINT) AS mob_files,
          |       CAST(arch AS BIGINT) AS archive_files
          |FROM __cm_rows ORDER BY rank""".stripMargin))
    ),
    QDef(
      // Backup image registry — the BackupSystemTable twin
      // (BackupSystemTable.java session rows; BackupAdminImpl.java
      // getHistory / deleteBackup). A full + two chained incrementals
      // + one unrelated full register against their LANDED images; the
      // guarded delete refuses to orphan b2's dependent (the chain
      // would break at its missing link), the unrelated full deletes
      // cleanly, and the audit emits the surviving chain newest-first
      // with each image's restore path, dependent count, and landed
      // cell count. Oracle: the registry constants + per-image cell
      // counts from the watermark ranges.
      "q107_backup_history",
      (s, dir) => {
        import graft.flow.BackupRegistry
        import graft.flow.BackupRegistry.BackupImage
        import s.implicits._
        val cells = Fixtures.cellsEventsV(s, dir)
        val root = graft.Queries.scratchDir("q107_breg")
        Seq(
          ("b1", Jobs.fullBackup(cells, 2L)),
          ("b2", Jobs.incrementalBackup(cells, 2L, 4L)),
          ("b3", Jobs.incrementalBackup(cells, 4L, 5L)),
          ("b4", Jobs.fullBackup(cells, 5L))
        ).foreach { case (id, img) => img.write.parquet(s"$root/$id") }
        BackupRegistry.register(s, root,
          BackupImage("b1", "FULL", Seq("events"), "", 10L, 11L, 2L))
        BackupRegistry.register(s, root,
          BackupImage("b2", "INCREMENTAL", Seq("events"), "b1", 20L, 21L, 4L))
        BackupRegistry.register(s, root,
          BackupImage("b3", "INCREMENTAL", Seq("events"), "b2", 30L, 31L, 5L))
        BackupRegistry.register(s, root,
          BackupImage("b4", "FULL", Seq("events"), "", 40L, 41L, 9L))
        require(scala.util.Try(
          BackupRegistry.deleteBackup(s, root, "b2")).isFailure,
          "guarded delete must refuse to orphan b3")
        require(BackupRegistry.deleteBackup(s, root, "b4") == Seq("b4"))
        val hist = BackupRegistry.history(s, root)
        val audit = hist.map { i =>
          (i.backupId, i.backupType, i.ancestor, i.watermarkTs,
            BackupRegistry.restoreChain(s, root, i.backupId)
              .map(_.backupId).mkString(">"),
            BackupRegistry.dependents(hist, i.backupId).size.toLong,
            s.read.parquet(s"$root/${i.backupId}").count())
        }
        audit.toDF("backup_id", "backup_type", "ancestor", "watermark_ts",
            "chain", "n_dependents", "n_cells")
          .orderBy(desc("watermark_ts"), col("backup_id"))
      },
      Some(Cte.withCtes(Cte.cellsEventsV,
        """__bh_imgs(backup_id, backup_type, ancestor, watermark_ts,
          |          chain, n_dependents, lo, hi) AS (
          |  VALUES ('b3', 'INCREMENTAL', 'b2', 5, 'b1>b2>b3', 0, 4, 5),
          |         ('b2', 'INCREMENTAL', 'b1', 4, 'b1>b2', 1, 2, 4),
          |         ('b1', 'FULL', '', 2, 'b1', 2, 0, 2)
          |), __bh_cnt AS (
          |  SELECT i.backup_id, CAST(COUNT(*) AS BIGINT) AS n_cells
          |  FROM __bh_imgs i JOIN cells_events_v c
          |    ON c.ts > i.lo AND c.ts <= i.hi
          |  GROUP BY 1
          |)""".stripMargin)(
        """SELECT backup_id, backup_type, ancestor,
          |       CAST(watermark_ts AS BIGINT) AS watermark_ts, chain,
          |       CAST(n_dependents AS BIGINT) AS n_dependents, n_cells
          |FROM __bh_imgs JOIN __bh_cnt USING (backup_id)
          |ORDER BY watermark_ts DESC, backup_id""".stripMargin))
    )
  )
}
