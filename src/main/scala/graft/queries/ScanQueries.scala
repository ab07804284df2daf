package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QDef
import graft.model.Fixtures
import graft.oracle.Cte
import graft.read.{GScan, GTable, Resolve}

/** Q01–Q07: point gets, range/prefix/reversed scans, projection, and
  * the §2.4 version/tombstone resolve (SURVEY.md §2.9).
  */
object ScanQueries {

  private val outCols = Seq("row", "family", "qualifier", "ts", "value")

  private def co(spark: SparkSession, dir: String) = Fixtures.cellsOrders(spark, dir)

  // GTable reads already return the scan's total cell order
  private def projected(df: DataFrame): DataFrame = df.select(outCols.map(col): _*)

  // Resolve's output order is undefined
  private def ordered(df: DataFrame): DataFrame =
    projected(df).orderBy(GTable.cellOrder(): _*)

  private def oracleScan(where: String, order: String = "row, family, qualifier, ts DESC"): String =
    Cte.withCtes(Cte.cellsOrders)(
      s"SELECT row, family, qualifier, ts, value FROM cells_orders $where ORDER BY $order")

  val defs: Seq[QDef] = Seq(
    QDef(
      "q01_get",
      (s, dir) => projected(GTable.get(co(s, dir), "0000000007", GScan(raw = true))),
      Some(oracleScan("WHERE row = '0000000007'"))
    ),
    QDef(
      "q02_scan_range",
      (s, dir) =>
        projected(GTable.scan(co(s, dir),
          GScan(raw = true).withRange("0000000100", "0000000200"))),
      Some(oracleScan("WHERE row >= '0000000100' AND row < '0000000200'"))
    ),
    QDef(
      "q03_prefix_scan",
      (s, dir) =>
        projected(GTable.scan(co(s, dir), GScan(raw = true, rowPrefix = Some("00000003")))),
      Some(oracleScan("WHERE row LIKE '00000003%'"))
    ),
    QDef(
      "q04_reverse_scan",
      (s, dir) =>
        projected(GTable.scan(co(s, dir),
          GScan(raw = true, reversed = true).withRange("0000000100", "0000000200"))),
      Some(oracleScan("WHERE row >= '0000000100' AND row < '0000000200'",
                      "row DESC, family, qualifier, ts DESC"))
    ),
    QDef(
      "q05_projection",
      (s, dir) =>
        projected(GTable.scan(co(s, dir),
          GScan(raw = true, columns = Seq("d" -> "o_totalprice"))
            .withRange("0000000100", "0000000200"))),
      Some(oracleScan(
        "WHERE row >= '0000000100' AND row < '0000000200' AND family = 'd' AND qualifier = 'o_totalprice'"))
    ),
    QDef(
      "q06_latest_view",
      (s, dir) =>
        ordered(Resolve.latest(Fixtures.cellsEventsV(s, dir), maxVersions = 1)),
      Some(Cte.withCtes(Cte.cellsEventsV, Cte.liveEventsV)(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT *, row_number() OVER (PARTITION BY row, family, qualifier ORDER BY ts DESC) AS rn
          |  FROM live_events
          |) WHERE rn <= 1 ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      "q07_timerange",
      (s, dir) =>
        ordered(Resolve.latest(Fixtures.cellsEventsV(s, dir), maxVersions = 1,
          timeRange = Some(Resolve.TimeRange(2L, 4L)))),
      Some(Cte.withCtes(Cte.cellsEventsV, Cte.liveEventsV)(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT *, row_number() OVER (PARTITION BY row, family, qualifier ORDER BY ts DESC) AS rn
          |  FROM live_events WHERE ts BETWEEN 2 AND 3
          |) WHERE rn <= 1 ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      // P2 × §2.4: qualifier projection on a NON-raw scan keeps
      // family-scoped tombstones (qualifier "") visible to masking —
      // the server reads the selected family's whole store, so a
      // DeleteFamily marker still masks the selected column's older
      // versions even though only one qualifier is projected.
      "q58_projected_resolve",
      (s, dir) =>
        projected(GTable.scan(Fixtures.cellsEventsV(s, dir),
          GScan(columns = Seq("d" -> "value"), maxVersions = 2))),
      Some(Cte.withCtes(Cte.cellsEventsV, Cte.liveEventsV)(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT *, row_number() OVER (PARTITION BY row, family, qualifier ORDER BY ts DESC) AS rn
          |  FROM live_events WHERE family = 'd' AND qualifier = 'value'
          |) WHERE rn <= 2 ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      // Coprocessor hook chain (RegionObserver preScannerOpen:1268 /
      // postScannerNext:1320): two observers apply in registration
      // order — the first narrows the scan range before planning (so
      // the tighter bound still pushes down to the source scan), the
      // second transforms the result plan (derived value-length column
      // + drop empty values). The oracle is the fully-expanded SQL —
      // proving the hooks compose declaratively, not imperatively.
      "q64_observed_scan",
      (s, dir) => {
        import graft.read.{ObservedTable, ReadObserver}
        val narrow = new ReadObserver {
          override def preScannerOpen(sc: GScan): GScan =
            sc.copy(stopRow = Some("0000000200"))
        }
        val enrich = new ReadObserver {
          override def postScannerNext(df: DataFrame): DataFrame =
            df.filter(length(col("value")) > 0)
              .withColumn("vlen", length(col("value")).cast("long"))
        }
        ObservedTable.scan(co(s, dir),
            GScan(raw = true).withRange("0000000100", "0000000300"),
            Seq(narrow, enrich))
          .select((outCols :+ "vlen").map(col): _*)
          .orderBy(GTable.cellOrder(): _*)
      },
      Some(Cte.withCtes(Cte.cellsOrders)(
        """SELECT row, family, qualifier, ts, value, CAST(length(value) AS BIGINT) AS vlen
          |FROM cells_orders
          |WHERE row >= '0000000100' AND row < '0000000200' AND length(value) > 0
          |ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      // Intra-row per-CF pagination (Scan.setMaxResultsPerColumnFamily
      // / setRowOffsetPerColumnFamily, Scan.java:514,523): skip the
      // first value of each (row, family) store, keep at most 3 after
      // it — counting VALUES (versions too) in cell order, AFTER the
      // version gate, as the server's storeLimit/storeOffset do.
      "q63_cf_pagination",
      (s, dir) =>
        projected(GTable.scan(Fixtures.cellsEventsV(s, dir),
          GScan(maxVersions = 2, maxResultsPerCf = Some(3), rowOffsetPerCf = 1))),
      Some(Cte.withCtes(Cte.cellsEventsV, Cte.liveEventsV)(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT *, row_number() OVER (PARTITION BY row, family ORDER BY qualifier, ts DESC) AS pos
          |  FROM (
          |    SELECT row, family, qualifier, ts, value FROM (
          |      SELECT *, row_number() OVER (PARTITION BY row, family, qualifier ORDER BY ts DESC) AS rn
          |      FROM live_events) WHERE rn <= 2)
          |) WHERE pos > 1 AND pos <= 4
          |ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      // S6 raw scan (Scan.setRaw, Scan.java:848): storage-level view —
      // tombstone markers surface as rows, no masking, no version gate;
      // the time range still prunes. `type` is projected to prove it.
      "q49_raw_scan",
      (s, dir) =>
        GTable.scan(Fixtures.cellsEventsV(s, dir),
            GScan(raw = true, timeRange = Some(Resolve.TimeRange(2L, 4L))))
          .select(col("row"), col("family"), col("qualifier"), col("ts"),
            col("type"), col("value"))
          .orderBy(col("row"), col("family"), col("qualifier"),
            col("ts").desc, col("type")),
      Some(Cte.withCtes(Cte.cellsEventsV)(
        """SELECT row, family, qualifier, ts, type, value FROM cells_events_v
          |WHERE ts >= 2 AND ts < 4
          |ORDER BY row, family, qualifier, ts DESC, type""".stripMargin))
    ),
    QDef(
      // S2 multi-get (Table.get(List[Get]), Table.java:176): the local
      // key list filters the store as an IN-set.
      "q50_multi_get",
      (s, dir) => {
        import s.implicits._
        val keys = Seq("0000000007", "0000000123", "0000000456").toDF("row")
        projected(GTable.multiGet(co(s, dir), keys))
      },
      Some(oracleScan("WHERE row IN ('0000000007', '0000000123', '0000000456')"))
    ),
    QDef(
      // S8 multi-table scan (MultiTableInputFormatBase.java:229): one
      // scan spec over the union of two tables' cell sets. `value`
      // joins the sort key because the same coordinate can carry
      // different values across tables.
      "q48_multi_table_scan",
      (s, dir) =>
        GTable.multiTableScan(
            Seq(Fixtures.cellsOrders(s, dir), Fixtures.cellsOrdersMut(s, dir)),
            GScan(raw = true).withRange("0000000100", "0000000140"))
          .select(outCols.map(col): _*)
          .orderBy(col("row"), col("family"), col("qualifier"),
            col("ts").desc, col("value")),
      Some(Cte.withCtes(Cte.cellsOrders, Cte.cellsOrdersMut)(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT * FROM cells_orders UNION ALL SELECT * FROM cells_orders_mut
          |) WHERE row >= '0000000100' AND row < '0000000140'
          |ORDER BY row, family, qualifier, ts DESC, value""".stripMargin))
    ),
    QDef(
      // P5 per-CF time range (Scan.setColumnFamilyTimeRange, Scan.java
      // :330 / Query.java:236): family 'm' (the props qualifiers,
      // remapped) reads [2,4) while the scan-global range [1,5) governs
      // family 'd'. Tombstones mask before the range applies, as on the
      // server.
      "q43_cf_timerange",
      (s, dir) => {
        val remapped = Fixtures.cellsEventsV(s, dir).withColumn("family",
          when(col("qualifier") === "props", lit("m")).otherwise(col("family")))
        ordered(Resolve.latest(remapped, maxVersions = 1,
          timeRange = Some(Resolve.TimeRange(1L, 5L)),
          cfTimeRanges = Map("m" -> Resolve.TimeRange(2L, 4L))))
      },
      Some(Cte.withCtes(
        Cte.cellsEventsV,
        """remap AS (SELECT row, CASE WHEN qualifier = 'props' THEN 'm' ELSE family END AS family,
          |                 qualifier, ts, type, value FROM cells_events_v)""".stripMargin,
        Cte.liveView("remap", "live_remap"))(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT *, row_number() OVER (PARTITION BY row, family, qualifier ORDER BY ts DESC) AS rn
          |  FROM live_remap
          |  WHERE CASE WHEN family = 'm' THEN ts >= 2 AND ts < 4 ELSE ts >= 1 AND ts < 5 END
          |) WHERE rn <= 1 ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      // §2.4 KEEP_DELETED_CELLS=TRUE time-travel read
      // (ColumnFamilyDescriptorBuilder.java:147 ff): with the as-of
      // range [1,3), tombstones at ts >= 3 have not happened yet — the
      // DeleteColumn(value, ts=3) markers do not mask, so pre-delete
      // values resurrect exactly as the reference serves them.
      "q44_keep_deleted",
      (s, dir) =>
        ordered(Resolve.latest(Fixtures.cellsEventsV(s, dir), maxVersions = 1,
          timeRange = Some(Resolve.TimeRange(1L, 3L)), keepDeleted = true)),
      Some(Cte.withCtes(Cte.cellsEventsV,
        Cte.liveView("cells_events_v", "live_kdc", tombVisibleBelow = Some(3L)))(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT *, row_number() OVER (PARTITION BY row, family, qualifier ORDER BY ts DESC) AS rn
          |  FROM live_kdc WHERE ts >= 1 AND ts < 3
          |) WHERE rn <= 1 ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      // §2.4 MIN_VERSIONS (ColumnFamilyDescriptorBuilder MIN_VERSIONS):
      // TTL expires cells below ts 4, but the newest 2 versions per
      // column are retained regardless — columns whose every version is
      // expired still answer with their freshest two.
      "q65_nvb_resolve",
      // NEW_VERSION_BEHAVIOR (ColumnFamilyDescriptorBuilder.java:197,
      // NewVersionBehaviorTracker.java): mvcc-sensitive resolve over a
      // seq-bearing cell set. Deterministic write order: puts carry
      // seq = ts*10; the markers interleave so each kind demonstrates
      // sequence sensitivity — DeleteColumn(ts=3, seq=25) spares the
      // ts=3 put (seq 30, written after it), DeleteFamily(ts=2,
      // seq=15) spares the ts=2 put, and the version Delete(ts=4,
      // seq=35) predates its put (seq 40) and fires not at all (the
      // default tracker would mask all of these).
      (s, dir) => {
        val seq = when(col("type") === "Put", col("ts") * 10)
          .when(col("type") === "DeleteColumn", lit(25L))
          .when(col("type") === "DeleteFamily", lit(15L))
          .otherwise(lit(35L))
        val cells = Fixtures.cellsEventsV(s, dir).withColumn("seq", seq)
        ordered(Resolve.latestNvb(cells, maxVersions = 2))
      },
      Some(Cte.withCtes(Cte.cellsEventsV,
        """sq AS (
          |  SELECT row, family, qualifier, ts, type, value,
          |         CASE type WHEN 'Put' THEN ts * 10 WHEN 'DeleteColumn' THEN 25
          |                   WHEN 'DeleteFamily' THEN 15 ELSE 35 END AS seq
          |  FROM cells_events_v),
          |puts AS (SELECT * FROM sq WHERE type = 'Put'),
          |surv AS (
          |  SELECT p.* FROM puts p
          |  WHERE NOT EXISTS (SELECT 1 FROM sq d WHERE d.type = 'DeleteColumn'
          |          AND d.row = p.row AND d.family = p.family AND d.qualifier = p.qualifier
          |          AND p.ts <= d.ts AND p.seq < d.seq)
          |    AND NOT EXISTS (SELECT 1 FROM sq f WHERE f.type = 'DeleteFamily'
          |          AND f.row = p.row AND f.family = p.family
          |          AND p.ts <= f.ts AND p.seq < f.seq)),
          |ranked AS (
          |  SELECT *,
          |         row_number() OVER (PARTITION BY row, family, qualifier ORDER BY ts DESC, seq DESC) AS rn,
          |         EXISTS (SELECT 1 FROM sq v WHERE v.type = 'Delete'
          |                 AND v.row = surv.row AND v.family = surv.family AND v.qualifier = surv.qualifier
          |                 AND v.ts = surv.ts AND surv.seq < v.seq) AS vdel
          |  FROM surv)""".stripMargin)(
        """SELECT row, family, qualifier, ts, value FROM ranked
          |WHERE rn <= 2 AND NOT vdel
          |ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      "q45_min_versions",
      (s, dir) =>
        ordered(Resolve.latest(Fixtures.cellsEventsV(s, dir), maxVersions = 3,
          ttlCutoff = Some(4L), minVersions = 2)),
      Some(Cte.withCtes(Cte.cellsEventsV, Cte.liveEventsV)(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT *, row_number() OVER (PARTITION BY row, family, qualifier ORDER BY ts DESC) AS rn
          |  FROM live_events
          |) WHERE rn <= 3 AND (ts >= 4 OR rn <= 2)
          |ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      // Per-cell TTL (Mutation.setTTL → TagType.TTL_TAG_TYPE;
      // ScanQueryMatcher.isCellTTLExpired:143): a cell with a TTL tag
      // dies once ts + ttl < now, checked in preCheck BEFORE the
      // delete tracker and version gate. Deterministic tags: props
      // puts at ts <= 2 carry ttl=2 (dead at now=5), and EVERY
      // DeleteColumn marker carries ttl=1 — so the user_id%7 masking
      // of 'value' from q06/q40 vanishes here (an expired marker is
      // inert), the sharpest observable of the pre-mask placement.
      // Family TTL floor (cutoff 2) still applies downstream.
      "q66_cell_ttl",
      (s, dir) => {
        val ttl = when(col("qualifier") === "props" && col("type") === "Put"
            && col("ts") <= 2, lit(2L))
          .when(col("type") === "DeleteColumn", lit(1L))
        val cells = Fixtures.cellsEventsV(s, dir).withColumn("ttl", ttl)
        ordered(Resolve.latest(cells.filter(Resolve.cellTtlLive(now = 5L)),
          maxVersions = 2, ttlCutoff = Some(2L)))
      },
      Some(Cte.withCtes(Cte.cellsEventsV,
        """__cttl_sq AS (
          |  SELECT row, family, qualifier, ts, type, value,
          |         CASE WHEN qualifier = 'props' AND type = 'Put' AND ts <= 2 THEN 2
          |              WHEN type = 'DeleteColumn' THEN 1 END AS ttl
          |  FROM cells_events_v),
          |__cttl_alive AS (
          |  SELECT row, family, qualifier, ts, type, value FROM __cttl_sq
          |  WHERE ttl IS NULL OR ts + ttl >= 5)""".stripMargin,
        Cte.liveView("__cttl_alive", "live_cttl"))(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT *, row_number() OVER (PARTITION BY row, family, qualifier ORDER BY ts DESC) AS rn
          |  FROM live_cttl WHERE ts >= 2
          |) WHERE rn <= 2 ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      // Visibility labels (security/visibility/: ExpressionParser
      // .java:42, VisibilityLabelFilter): per-cell policies keyed on
      // (row+ts)%5 cover the grammar — plain label, OR, AND-with-NOT,
      // and the reference's EQUAL-precedence left-assoc shape
      // 'public|secret&internal' = '(public|secret)&internal' (false
      // under Authorizations {public, finance}; C precedence would
      // say true — the oracle pins the reference parse). Enforcement
      // placement matches VisibilityLabelFilter: per-cell BEFORE the
      // version gate, so an invisible newest version frees its slot
      // (policies vary per ts, making the placement observable).
      // Masking here is label-blind (the default ScanDeleteTracker);
      // per-expression delete scoping is q70 (Resolve.latest
      // visScope — the VisibilityScanDeleteTracker port).
      "q69_visibility",
      (s, dir) => {
        import graft.functions.VisibilityFunctions.vis_match
        val m = (col("row").cast("long") + col("ts")) % 5
        val vis = when(m === 0, "secret")
          .when(m === 1, "public|internal")
          .when(m === 2, "secret&finance")
          .when(m === 3, "!secret&finance")
          .otherwise("public|secret&internal")
        val tagged = Fixtures.cellsEventsV(s, dir).withColumn("vis", vis)
        ordered(Resolve.latest(tagged, maxVersions = 2,
          cellFilter = Some(vis_match(col("vis"), Set("public", "finance")))))
      },
      Some(Cte.withCtes(Cte.cellsEventsV, Cte.liveEventsV)(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT *, row_number() OVER (PARTITION BY row, family, qualifier ORDER BY ts DESC) AS rn
          |  FROM live_events
          |  WHERE (CAST(row AS BIGINT) + ts) % 5 IN (1, 3)
          |) WHERE rn <= 2 ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      // Visibility-SCOPED delete tracking (VisibilityScanDeleteTracker
      // .java:43,181): on a labeled store a delete marker masks only
      // puts whose visibility expression delete-matches its own —
      // exact equality of sorted-tag canonical forms
      // (DefaultVisibilityLabelServiceImpl.matchVisibility:560-604),
      // the empty expression matching only untagged cells. Put
      // policies vary by (row+ts)%3 {a&b, secret, untagged}; marker
      // policies by row%3 {b&a, public, untagged}. So on row%3==0 the
      // marker ('b&a') masks exactly the puts labeled 'a&b' (canonical
      // equivalence — commuted AND still delete-matches); on row%3==1
      // the marker ('public') masks NOTHING (no put carries it —
      // label-blind masking would wrongly hide 'secret'/untagged
      // puts); on row%3==2 the untagged marker masks exactly the
      // untagged puts.
      "q70_vis_scoped_delete",
      (s, dir) => {
        val pm = (col("row").cast("long") + col("ts")) % 3
        val dm = col("row").cast("long") % 3
        val vis = when(col("type") === graft.model.CellType.Put,
            when(pm === 0, "a&b").when(pm === 1, "secret"))
          .otherwise(when(dm === 0, "b&a").when(dm === 1, "public"))
        val tagged = Fixtures.cellsEventsV(s, dir).withColumn("vis", vis)
        ordered(Resolve.latest(tagged, maxVersions = 2, visScope = Some("vis")))
      },
      Some(Cte.withCtes(Cte.cellsEventsV,
        """__q70v AS (
          |  SELECT *, CASE WHEN type = 'Put'
          |    THEN CASE (CAST(row AS BIGINT) + ts) % 3 WHEN 0 THEN 'a&b' WHEN 1 THEN 'secret' ELSE '' END
          |    ELSE CASE CAST(row AS BIGINT) % 3 WHEN 0 THEN 'a&b' WHEN 1 THEN 'public' ELSE '' END
          |  END AS vc FROM cells_events_v
          |),
          |__q70_puts AS (SELECT * FROM __q70v WHERE type = 'Put'),
          |__q70_dfam AS (SELECT row, family, vc, max(ts) AS mts FROM __q70v WHERE type = 'DeleteFamily' GROUP BY 1, 2, 3),
          |__q70_dcol AS (SELECT row, family, qualifier, vc, max(ts) AS mts FROM __q70v WHERE type = 'DeleteColumn' GROUP BY 1, 2, 3, 4),
          |__q70_dver AS (SELECT DISTINCT row, family, qualifier, ts, vc FROM __q70v WHERE type = 'Delete'),
          |live_q70 AS (
          |  SELECT p.row, p.family, p.qualifier, p.ts, p.value FROM __q70_puts p
          |  LEFT JOIN __q70_dfam f ON p.row = f.row AND p.family = f.family AND p.vc = f.vc
          |  LEFT JOIN __q70_dcol c ON p.row = c.row AND p.family = c.family AND p.qualifier = c.qualifier AND p.vc = c.vc
          |  WHERE (f.mts IS NULL OR p.ts > f.mts)
          |    AND (c.mts IS NULL OR p.ts > c.mts)
          |    AND NOT EXISTS (SELECT 1 FROM __q70_dver v WHERE v.row = p.row
          |      AND v.family = p.family AND v.qualifier = p.qualifier
          |      AND v.ts = p.ts AND v.vc = p.vc)
          |)""".stripMargin)(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT *, row_number() OVER (PARTITION BY row, family, qualifier ORDER BY ts DESC) AS rn
          |  FROM live_q70
          |) WHERE rn <= 2 ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      // Cell-level ACLs (AccessController.java:176;
      // AccessControlFilter.java:131 CHECK_CELL_DEFAULT;
      // AuthManager.authorizeCell:437): per-cell grant maps keyed on
      // (row+ts)%4 — {alice:RW}, {bob:R}, {bob:RW,@eng:R}, no-ACL —
      // read as user 'alice' in group '@eng' WITHOUT a table grant,
      // so only cells whose own ACL implies READ for alice (direct
      // grant, or via the group) survive: policies 0 and 2.
      // Enforcement is per cell BEFORE the version gate, exactly like
      // q69's visibility filter (the reference filter tracks its own
      // per-column version count, AccessControlFilter.java:100-117).
      "q72_cell_acl",
      (s, dir) => {
        import graft.functions.AclFunctions.acl_check
        val m = (col("row").cast("long") + col("ts")) % 4
        val acl = when(m === 0, "alice:RW")
          .when(m === 1, "bob:R")
          .when(m === 2, "bob:RW,@eng:R")
        val tagged = Fixtures.cellsEventsV(s, dir).withColumn("acl", acl)
        ordered(Resolve.latest(tagged, maxVersions = 2,
          cellFilter = Some(acl_check(col("acl"), "alice", Set("@eng")))))
      },
      Some(Cte.withCtes(Cte.cellsEventsV, Cte.liveEventsV)(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT *, row_number() OVER (PARTITION BY row, family, qualifier ORDER BY ts DESC) AS rn
          |  FROM live_events
          |  WHERE (CAST(row AS BIGINT) + ts) % 4 IN (0, 2)
          |) WHERE rn <= 2 ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      // §2.4 TTL (ScanInfo.getTtl) + multi-version gate: cells older
      // than the TTL floor are invisible BEFORE the version gate, and
      // the newest 2 surviving versions are returned per column.
      "q40_ttl_versions",
      (s, dir) =>
        ordered(Resolve.latest(Fixtures.cellsEventsV(s, dir), maxVersions = 2,
          ttlCutoff = Some(3L))),
      Some(Cte.withCtes(Cte.cellsEventsV, Cte.liveEventsV)(
        """SELECT row, family, qualifier, ts, value FROM (
          |  SELECT *, row_number() OVER (PARTITION BY row, family, qualifier ORDER BY ts DESC) AS rn
          |  FROM live_events WHERE ts >= 3
          |) WHERE rn <= 2 ORDER BY row, family, qualifier, ts DESC""".stripMargin))
    ),
    QDef(
      // Result.getMap 3-level assembly (Result.java getMap/getNoVersionMap):
      // the resolved multi-version read serialized per row as the sorted
      // family:qualifier@ts@value cell map — one string per row, so the
      // nested-map shape is hash-comparable across engines. groupBy(row)
      // reuses the region layout (no extra exchange over the store).
      "q59_result_map",
      (s, dir) =>
        Resolve.latest(Fixtures.cellsEventsV(s, dir), maxVersions = 3)
          .groupBy("row")
          .agg(array_join(array_sort(collect_list(
              concat_ws("@", concat_ws(":", col("family"), col("qualifier")),
                col("ts"), col("value")))), "|").as("cellmap"))
          .orderBy("row"),
      Some(Cte.withCtes(Cte.cellsEventsV, Cte.liveEventsV)(
        """SELECT row, string_agg(s, '|' ORDER BY s) AS cellmap FROM (
          |  SELECT row, family || ':' || qualifier || '@' || CAST(ts AS VARCHAR)
          |           || '@' || value AS s FROM (
          |    SELECT *, row_number() OVER (PARTITION BY row, family, qualifier
          |                                 ORDER BY ts DESC) AS rn
          |    FROM live_events
          |  ) WHERE rn <= 3
          |) GROUP BY row ORDER BY row""".stripMargin))
    ),
    QDef(
      // Scan.setFilter × Scan.setReversed: the server propagates
      // reversed-ness into the filter on scanner open
      // (filter.setReversed), so WHILE row >= K inside a reversed scan
      // keeps the DESCENDING prefix down to K — scanFiltered is the
      // graft twin of that propagation point.
      "q61_reversed_while",
      (s, dir) =>
        projected(GTable.scanFiltered(co(s, dir),
            GScan(raw = true, reversed = true),
            graft.filter.WhileMatchFilter(graft.filter.RowFilter(
              graft.filter.CompareOp.GreaterOrEqual,
              graft.filter.BinaryComparator("0000000950"))))),
      Some(oracleScan("WHERE row >= '0000000950'",
        order = "row DESC, family, qualifier, ts DESC"))
    )
  )
}
