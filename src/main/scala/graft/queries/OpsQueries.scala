package graft.queries

import org.apache.spark.sql.functions._

import graft.QDef
import graft.model.Fixtures
import graft.oracle.Cte

/** Q108+: cluster-operations tooling — pre-split planning
  * (RegionSplitter), space quotas, diagnostic printers, the canary
  * probe. Each runs the real admin surface and exposes its output (or
  * the partition/report it produces) to the DuckDB oracle.
  */
object OpsQueries {

  val defs: Seq[QDef] = Seq(
    QDef(
      // Space quotas — the QuotaObserverChore pass end-to-end
      // (QuotaObserverChore.java:141-460, TableQuotaSnapshotStore
      // .getTargetState:93, policies/*.java): five tables across two
      // namespaces report their region sizes (the RS census — here
      // one groupBy over the logical cell bytes, the
      // FileSystemUtilizationChore twin is spec-pinned on real
      // files), then one observer pass enacts per-table snapshots.
      // Branches exercised: table-quota violation (NO_WRITES), a
      // namespace NO_INSERTS quota governing the quota-less table
      // while the VIOLATED table quota shields its own (table
      // priority, :276-306), observance under DISABLE, a
      // NO_WRITES_COMPACTIONS violation, and an enacted DISABLE
      // (table offline). Limits derive from the data (⌊u·8/10⌋ etc.)
      // so every branch holds at every SF; the oracle recomputes the
      // whole pass in SQL — usage sums, namespace rollup, priority,
      // and the per-policy enforcement bits.
      "q108_space_quotas",
      (s, dir) => {
        import graft.admin.SpaceQuotas
        import graft.admin.SpaceQuotas._
        val cells = Fixtures.cellsEventsV(s, dir)
          .filter(col("type") === "Put" && col("value").isNotNull)
        val uid = col("row").cast("long")
        val tables = Seq(
          ("na", "t1", col("ts") <= 2),
          ("na", "t2", col("ts") === 3),
          ("nb", "t3", col("ts") >= 4),
          ("nb", "t4", uid % 7 === 0),
          ("nb", "t5", uid % 11 === 0))
        // the region-size census: per-(table, region) byte reports,
        // summed to table usage (bounded collect — ≤5 rows)
        val reports = tables.map { case (ns, t, pred) =>
          cells.filter(pred).select(lit(ns).as("ns"), lit(t).as("tbl"),
            (uid % 4).cast("string").as("region"),
            octet_length(col("value")).cast("long").as("len"))
        }.reduce(_ unionByName _)
          .groupBy("ns", "tbl", "region").agg(sum("len").as("bytes"))
        val usage = reports.groupBy("ns", "tbl")
          .agg(sum("bytes").as("bytes")).collect()
          .map(r => r.getAs[String]("tbl") ->
            (r.getAs[String]("ns"), r.getAs[Long]("bytes"))).toMap
        def u(t: String) = usage(t)._2
        val tq = Map(
          "t1" -> SpaceQuota(u("t1") * 8 / 10, NoWrites),
          "t3" -> SpaceQuota(u("t3") * 2, Disable),
          "t4" -> SpaceQuota(u("t4") / 2, NoWritesCompactions),
          "t5" -> SpaceQuota(u("t5") * 6 / 10, Disable))
        val nq = Map(
          "na" -> SpaceQuota((u("t1") + u("t2")) * 9 / 10, NoInserts))
        val enacted = SpaceQuotas.observe(usage, tq, nq)
        import s.implicits._
        enacted.map { e =>
          val p = e.snapshot.policy
          (e.table, e.namespace, e.snapshot.usage, e.snapshot.limit,
            e.snapshot.inViolation, p.orNull, e.source,
            mutationBlocked(p, "PUT"), mutationBlocked(p, "DELETE"),
            compactionsDisabled(p), tableDisabled(p))
        }.toDF("table", "namespace", "usage", "limit", "in_violation",
            "policy", "source", "put_blocked", "delete_blocked",
            "compactions_off", "table_off")
          .orderBy("table")
      },
      Some(Cte.withCtes(Cte.cellsEventsV,
        """__sq_cells AS (
          |  SELECT CAST(row AS BIGINT) AS uid, ts, strlen(value) AS len
          |  FROM cells_events_v WHERE type = 'Put' AND value IS NOT NULL
          |), __sq_usage(tbl, ns, u) AS (
          |  SELECT 't1', 'na', (SELECT SUM(len) FROM __sq_cells WHERE ts <= 2)
          |  UNION ALL
          |  SELECT 't2', 'na', (SELECT SUM(len) FROM __sq_cells WHERE ts = 3)
          |  UNION ALL
          |  SELECT 't3', 'nb', (SELECT SUM(len) FROM __sq_cells WHERE ts >= 4)
          |  UNION ALL
          |  SELECT 't4', 'nb', (SELECT SUM(len) FROM __sq_cells WHERE uid % 7 = 0)
          |  UNION ALL
          |  SELECT 't5', 'nb', (SELECT SUM(len) FROM __sq_cells WHERE uid % 11 = 0)
          |), __sq_tq(tbl, lim, pol) AS (
          |  SELECT 't1', (SELECT u * 8 // 10 FROM __sq_usage WHERE tbl = 't1'), 'NO_WRITES'
          |  UNION ALL
          |  SELECT 't3', (SELECT u * 2 FROM __sq_usage WHERE tbl = 't3'), 'DISABLE'
          |  UNION ALL
          |  SELECT 't4', (SELECT u // 2 FROM __sq_usage WHERE tbl = 't4'), 'NO_WRITES_COMPACTIONS'
          |  UNION ALL
          |  SELECT 't5', (SELECT u * 6 // 10 FROM __sq_usage WHERE tbl = 't5'), 'DISABLE'
          |), __sq_nsu AS (
          |  SELECT ns, SUM(u) AS nu FROM __sq_usage GROUP BY ns
          |), __sq_nsq(ns, lim, pol) AS (
          |  SELECT 'na', (SELECT (SUM(u) * 9) // 10 FROM __sq_usage WHERE ns = 'na'), 'NO_INSERTS'
          |), __sq_state AS (
          |  SELECT x.tbl, x.ns, x.u, t.lim AS tlim, t.pol AS tpol,
          |         q.lim AS nslim, q.pol AS nspol, nu.nu,
          |         (t.lim IS NOT NULL AND x.u > t.lim) AS tviol,
          |         (q.lim IS NOT NULL AND nu.nu > q.lim) AS nsviol
          |  FROM __sq_usage x
          |  LEFT JOIN __sq_tq t ON t.tbl = x.tbl
          |  LEFT JOIN __sq_nsq q ON q.ns = x.ns
          |  LEFT JOIN __sq_nsu nu ON nu.ns = x.ns
          |), __sq_enact AS (
          |  SELECT tbl, ns, u, nu, tlim, nslim, tviol, nsviol, tpol, nspol,
          |    CASE WHEN tviol THEN 'TABLE'
          |         WHEN nsviol THEN 'NAMESPACE'
          |         WHEN tlim IS NOT NULL THEN 'TABLE'
          |         WHEN nslim IS NOT NULL THEN 'NAMESPACE'
          |         ELSE 'NONE' END AS source
          |  FROM __sq_state
          |)""".stripMargin)(
        """SELECT tbl AS "table", ns AS namespace,
          |  CAST(CASE source WHEN 'TABLE' THEN u WHEN 'NAMESPACE' THEN nu ELSE u END AS BIGINT) AS usage,
          |  CAST(CASE source WHEN 'TABLE' THEN tlim WHEN 'NAMESPACE' THEN nslim ELSE -1 END AS BIGINT) AS "limit",
          |  CASE source WHEN 'TABLE' THEN tviol WHEN 'NAMESPACE' THEN nsviol ELSE FALSE END AS in_violation,
          |  CASE WHEN source = 'TABLE' AND tviol THEN tpol
          |       WHEN source = 'NAMESPACE' AND nsviol THEN nspol END AS policy,
          |  source,
          |  COALESCE(CASE WHEN source = 'TABLE' AND tviol THEN tpol
          |                WHEN source = 'NAMESPACE' AND nsviol THEN nspol END
          |    IN ('NO_INSERTS', 'NO_WRITES', 'NO_WRITES_COMPACTIONS', 'DISABLE'), FALSE) AS put_blocked,
          |  COALESCE(CASE WHEN source = 'TABLE' AND tviol THEN tpol
          |                WHEN source = 'NAMESPACE' AND nsviol THEN nspol END
          |    IN ('NO_WRITES', 'NO_WRITES_COMPACTIONS', 'DISABLE'), FALSE) AS delete_blocked,
          |  COALESCE(CASE WHEN source = 'TABLE' AND tviol THEN tpol
          |                WHEN source = 'NAMESPACE' AND nsviol THEN nspol END
          |    = 'NO_WRITES_COMPACTIONS', FALSE) AS compactions_off,
          |  COALESCE(CASE WHEN source = 'TABLE' AND tviol THEN tpol
          |                WHEN source = 'NAMESPACE' AND nsviol THEN nspol END
          |    = 'DISABLE', FALSE) AS table_off
          |FROM __sq_enact ORDER BY tbl""".stripMargin))
    ),
    QDef(
      // RegionSplitter pre-split planning (RegionSplitter.java:825,
      // :842, :1048): all three split algorithms plan a 7-way
      // pre-split (7 does NOT divide any of the keyspaces — the last
      // region absorbs the slop, the part worth pinning), then the
      // plan is USED: orders keys hash-route to their region via a
      // broadcast range join (the TotalOrderPartitioner companion
      // shape — at 100 TB the same join partitions the bulk-load).
      // HEX/UNI route md5 prefixes; DEC routes the md5-derived
      // decimal rendering. The oracle re-derives every boundary from
      // the split arithmetic (BigInteger division, lowercase
      // rendering, zero-pad) and re-counts the routing.
      "q109_region_splitter",
      (s, dir) => {
        import graft.admin.RegionSplit
        val n = 7
        val algos = Seq(
          ("DEC", "00000000", RegionSplit.decimalStringSplit(n)),
          ("HEX", "00000000", RegionSplit.hexStringSplit(n)),
          ("UNI", "", RegionSplit.uniformSplit(n).map(RegionSplit.hex)))
        // region r of n covers [start(r), end(r)): start(0) = firstRow,
        // else boundary r-1; end(n-1) = a sentinel above the keyspace
        val regionRows = algos.flatMap { case (algo, first, bs) =>
          val starts = first +: bs
          val ends = bs :+ "~" // 0x7e, sorts after every hex/dec digit
          starts.indices.map(r => (algo, r.toLong, starts(r), ends(r)))
        }
        import s.implicits._
        val regDf = regionRows.toDF("algo", "region", "start_key", "end_key")
        val o = Fixtures.orders(s, dir)
        val h = md5(col("o_orderkey").cast("string").cast("binary"))
        val keyed = o.select(lit("DEC").as("algo"),
            lpad((conv(substring(h, 1, 8), 16, 10).cast("long") % 100000000L)
              .cast("string"), 8, "0").as("key"))
          .unionByName(o.select(lit("HEX").as("algo"),
            substring(h, 1, 8).as("key")))
          .unionByName(o.select(lit("UNI").as("algo"),
            substring(h, 1, 16).as("key")))
        val counts = keyed.join(broadcast(regDf),
            keyed("algo") === regDf("algo") &&
              keyed("key") >= regDf("start_key") &&
              keyed("key") < regDf("end_key"))
          .groupBy(regDf("algo").as("algo"), col("region"))
          .agg(count(lit(1)).as("n"))
        regDf.join(counts, Seq("algo", "region"), "left")
          .select(col("algo"), col("region"),
            col("start_key"), coalesce(col("n"), lit(0L)).as("n_rows"))
          .orderBy("algo", "region")
      },
      Some(
        """WITH __rs_b(algo, idx, k) AS (
          |  SELECT 'HEX', i, lpad(lower(to_hex(i * (4294967296 // 7))), 8, '0')
          |  FROM generate_series(1, 6) t(i)
          |  UNION ALL
          |  SELECT 'DEC', i, lpad(CAST(i * (100000000 // 7) AS VARCHAR), 8, '0')
          |  FROM generate_series(1, 6) t(i)
          |  UNION ALL
          |  SELECT 'UNI', i,
          |    lpad(lower(to_hex(CAST((i::HUGEINT * (18446744073709551616::HUGEINT // 7))
          |      // 4294967296 AS BIGINT))), 8, '0') ||
          |    lpad(lower(to_hex(CAST((i::HUGEINT * (18446744073709551616::HUGEINT // 7))
          |      % 4294967296 AS BIGINT))), 8, '0')
          |  FROM generate_series(1, 6) t(i)
          |), __rs_regions AS (
          |  SELECT x.algo, x.r,
          |    CASE WHEN x.r = 0 THEN CASE x.algo WHEN 'UNI' THEN '' ELSE '00000000' END
          |         ELSE (SELECT k FROM __rs_b b WHERE b.algo = x.algo AND b.idx = x.r)
          |    END AS start_key
          |  FROM (SELECT a.algo, t.r
          |        FROM (SELECT DISTINCT algo FROM __rs_b) a
          |        CROSS JOIN generate_series(0, 6) t(r)) x
          |), __rs_keys AS (
          |  SELECT 'HEX' AS algo, substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) AS key
          |  FROM orders
          |  UNION ALL
          |  SELECT 'DEC', lpad(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
          |    % 100000000 AS VARCHAR), 8, '0')
          |  FROM orders
          |  UNION ALL
          |  SELECT 'UNI', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 16)
          |  FROM orders
          |), __rs_assign AS (
          |  SELECT k.algo,
          |    (SELECT COUNT(*) FROM __rs_b b WHERE b.algo = k.algo AND b.k <= k.key) AS r
          |  FROM __rs_keys k
          |)
          |SELECT g.algo AS algo, CAST(g.r AS BIGINT) AS region, g.start_key,
          |       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_rows
          |FROM __rs_regions g
          |LEFT JOIN (SELECT algo, r, COUNT(*) AS n FROM __rs_assign GROUP BY 1, 2) c
          |  ON g.algo = c.algo AND g.r = c.r
          |ORDER BY 1, 2""".stripMargin)
    ),
    QDef(
      // WALPrettyPrinter (WALPrettyPrinter.java:64-229): the log
      // inspection tool over REAL PB wire segments — cells_events_v
      // exports as 4 "PWAL" segments, re-read by the WALInputFormat
      // twin, then printed under the reference's three filter modes:
      // a row-PREFIX listing (values off — value_len only, the
      // default), an exact-ROW listing with values on (the
      // data-derived min row so the mode is non-empty at every SF),
      // and the row-key-only reduction (one line per CELL, like
      // printCell). Region/sequence filters are spec-pinned
      // (WalPrintSpec) — segment/sequence assignment is a
      // partitioning artifact the oracle can't re-derive.
      "q110_wal_pretty_printer",
      (s, dir) => {
        import graft.flow.WalPrint
        val out = graft.Queries.scratchDir("q110_walp")
        val cells = Fixtures.cellsEventsV(s, dir)
        graft.flow.PWalFiles.export(cells, 4, s"$out/wals")
        val entries = graft.flow.PWalFiles.importEntries(s, s"$out/wals")
        val minRow = cells.agg(min("row")).head.getString(0)
        val outCols = Seq("mode", "row", "column", "ts", "type",
          "value_len", "value").map(col)
        WalPrint.print(entries, rowPrefix = Some("0000000"))
          .withColumn("mode", lit("PREFIX")).select(outCols: _*)
          .unionByName(
            WalPrint.print(entries, row = Some(minRow), outputValues = true)
              .withColumn("mode", lit("ROW")).select(outCols: _*))
          .unionByName(
            WalPrint.print(entries, rowPrefix = Some("0000000"),
                outputOnlyRowKey = true)
              .select(lit("ROWKEY").as("mode"), col("row"),
                lit(null).cast("string").as("column"),
                lit(null).cast("long").as("ts"),
                lit(null).cast("string").as("type"),
                lit(null).cast("long").as("value_len"),
                lit(null).cast("string").as("value")))
          .orderBy("mode", "row", "column", "ts", "type", "value_len")
      },
      Some(Cte.withCtes(Cte.cellsEventsV,
        """__wp_min AS (SELECT MIN(row) AS m FROM cells_events_v)""")(
        """SELECT * FROM (
          |  SELECT 'PREFIX' AS "mode", row,
          |         family || ':' || qualifier AS "column", ts, type,
          |         CAST(strlen(COALESCE(value, '')) AS BIGINT) AS value_len,
          |         CAST(NULL AS VARCHAR) AS value
          |  FROM cells_events_v WHERE row LIKE '0000000%'
          |  UNION ALL
          |  SELECT 'ROW', row, family || ':' || qualifier, ts, type,
          |         CAST(strlen(COALESCE(value, '')) AS BIGINT),
          |         COALESCE(value, '')
          |  FROM cells_events_v WHERE row = (SELECT m FROM __wp_min)
          |  UNION ALL
          |  SELECT 'ROWKEY', row, NULL, NULL, NULL, NULL, NULL
          |  FROM cells_events_v WHERE row LIKE '0000000%'
          |) ORDER BY 1, 2, 3, 4, 5, 6""".stripMargin))
    ),
    QDef(
      // Canary region probe (CanaryTool.java:488-640): four regions
      // over the events keyspace, each answering ONE first-key-only
      // read through the RESOLVED view (rawScan off — the reference
      // default). The first region (empty start key) scans its own
      // range for the first live cell; the others Get their exact
      // start key — a boundary row that may legitimately be absent at
      // small SFs, which reports cells_read = 0 with success = true
      // (the region answered; emptiness is data, not an outage). The
      // oracle replays the probes over the live view in SQL.
      "q111_canary_probe",
      (s, dir) => {
        import graft.admin.Canary
        import graft.read.Resolve
        val latest = Resolve.latest(
          Fixtures.cellsEventsV(s, dir), maxVersions = 1)
        Canary.probeRegions(latest, Seq(
          ("r0", "", "0000000250"),
          ("r1", "0000000250", "0000000500"),
          ("r2", "0000000500", "0000000750"),
          ("r3", "0000000750", "")))
      },
      Some(Cte.withCtes(Cte.cellsEventsV, Cte.liveEventsV,
        """__cn_latest AS (
          |  SELECT row, qualifier FROM (
          |    SELECT row, qualifier, row_number() OVER (
          |      PARTITION BY row, family, qualifier ORDER BY ts DESC) AS rn
          |    FROM live_events) WHERE rn = 1
          |), __cn_regions(region, sk, ek) AS (
          |  VALUES ('r0', '', '0000000250'),
          |         ('r1', '0000000250', '0000000500'),
          |         ('r2', '0000000500', '0000000750'),
          |         ('r3', '0000000750', '')
          |), __cn_hits AS (
          |  SELECT r.region, c.row, c.qualifier,
          |         row_number() OVER (PARTITION BY r.region
          |           ORDER BY c.row, c.qualifier) AS rn
          |  FROM __cn_regions r JOIN __cn_latest c
          |    ON (r.sk = '' AND c.row < r.ek) OR (r.sk <> '' AND c.row = r.sk)
          |)""".stripMargin)(
        """SELECT r.region, r.sk AS start_key, h.row AS probe_row,
          |       h.qualifier AS first_qualifier,
          |       CAST(CASE WHEN h.row IS NULL THEN 0 ELSE 1 END AS BIGINT)
          |         AS cells_read,
          |       TRUE AS success
          |FROM __cn_regions r
          |LEFT JOIN (SELECT * FROM __cn_hits WHERE rn = 1) h USING (region)
          |ORDER BY region""".stripMargin))
    ),
    QDef(
      // SimpleLoadBalancer (SimpleLoadBalancer.java:204-470): 24
      // regions skewed across six servers as (9,6,3,3,2,1) — average
      // exactly 4, so every server must end at 4 and the plan is the
      // minimal 7 moves. Sheds take the NEWEST regions first
      // (RegionInfoComparator, id desc), the move queue drains in
      // region-name order, fills round-robin the underloaded servers
      // in (load, name) order — the twin's documented deterministic
      // stand-in for the reference's shuffled fill. Each move carries
      // the region's cell weight from orders (the data the move
      // actually relocates). The oracle replays the whole plan in
      // SQL: shed ranks, queue order, and the round-robin slot join.
      "q112_simple_balancer",
      (s, dir) => {
        import graft.admin.Balancer
        import graft.admin.Balancer.RegionInfo
        val assign = (0 until 24).map { i =>
          val server =
            if (i <= 8) "srvA" else if (i <= 14) "srvB"
            else if (i <= 17) "srvC" else if (i <= 20) "srvD"
            else if (i <= 22) "srvE" else "srvF"
          (f"r$i%02d", i.toLong, server)
        }
        val byServer = assign.groupBy(_._3).map { case (srv, rs) =>
          srv -> rs.map(t => RegionInfo(t._1, t._2))
        }
        val plans = Balancer.balanceTable(byServer)
        import s.implicits._
        val plansDf = plans.map(p => (p.region, p.source, p.dest))
          .toDF("region", "source", "dest")
        val weights = Fixtures.orders(s, dir)
          .groupBy((col("o_orderkey") % 24).cast("int").as("bucket"))
          .agg(count(lit(1)).as("region_cells"))
          .select(format_string("r%02d", col("bucket")).as("region"),
            col("region_cells"))
        plansDf.join(broadcast(weights), Seq("region"), "left")
          .select(col("region"), col("source"), col("dest"),
            coalesce(col("region_cells"), lit(0L)).as("region_cells"))
          .orderBy("region")
      },
      Some(
        """WITH __bl_assign AS (
          |  SELECT i AS idx, printf('r%02d', i) AS region,
          |    CASE WHEN i <= 8 THEN 'srvA' WHEN i <= 14 THEN 'srvB'
          |         WHEN i <= 17 THEN 'srvC' WHEN i <= 20 THEN 'srvD'
          |         WHEN i <= 22 THEN 'srvE' ELSE 'srvF' END AS server
          |  FROM generate_series(0, 23) t(i)
          |), __bl_loads AS (
          |  SELECT server, COUNT(*) AS load FROM __bl_assign GROUP BY 1
          |), __bl_shed AS (
          |  -- overloaded servers shed (load - 4) NEWEST regions (idx desc)
          |  SELECT a.region, a.server,
          |         row_number() OVER (ORDER BY a.region) AS move_rank
          |  FROM (
          |    SELECT a.*, l.load,
          |           row_number() OVER (PARTITION BY a.server
          |             ORDER BY a.idx DESC) AS rn
          |    FROM __bl_assign a JOIN __bl_loads l USING (server)
          |  ) a WHERE a.load > 4 AND a.rn <= a.load - 4
          |), __bl_slots AS (
          |  -- underloaded servers, (load, name) order, one slot per
          |  -- round-robin round until each reaches min = 4
          |  SELECT u.server AS dest, r.round, u.pos,
          |         row_number() OVER (ORDER BY r.round, u.pos) AS slot_rank
          |  FROM (
          |    SELECT server, load,
          |           row_number() OVER (ORDER BY load, server) AS pos,
          |           4 - load AS need
          |    FROM __bl_loads WHERE load < 4
          |  ) u JOIN generate_series(1, 4) r(round) ON r.round <= u.need
          |)
          |SELECT m.region, m.server AS source, s.dest,
          |       CAST(COALESCE(w.n, 0) AS BIGINT) AS region_cells
          |FROM __bl_shed m
          |JOIN __bl_slots s ON s.slot_rank = m.move_rank
          |LEFT JOIN (
          |  SELECT CAST(o_orderkey % 24 AS INT) AS bucket, COUNT(*) AS n
          |  FROM orders GROUP BY 1
          |) w ON printf('r%02d', w.bucket) = m.region
          |ORDER BY m.region""".stripMargin)
    ),
    QDef(
      // The reference's REAL split lifecycle (SplitTableRegionProcedure
      // → Reference files → daughter compaction → CatalogJanitor GC;
      // io/Reference.java, StoreFileInfo.java:613, CatalogJanitor.java:
      // 326-392 — `RegionRefs`): the split writes NO cell — each
      // parent store file gains one "PBUF"+FSProtos.Reference marker
      // per daughter (this is why a 100 TB region splits in
      // milliseconds). Stage 'refs' reads the daughters THROUGH the
      // references (HalfStoreFileReader semantics); the janitor
      // refuses to GC the parent while any reference survives; both
      // daughters compact (materializing real files, dropping refs);
      // the janitor then archives the parent; stage 'final' re-reads
      // the materialized daughters with the parent gone. Both stages
      // must reproduce the parent's exact cell stream — the oracle.
      "q113_split_lifecycle",
      (s, dir) => {
        import graft.flow.{Failpoints, HFiles, RegionRefs}
        val root = graft.Queries.scratchDir("q113_refs")
        val table = s"$root/data/t"
        val arch = s"$root/archive"
        // a third of the corpus: the lifecycle reads/writes the parent
        // ~5 times (read-through ×2 stages + 2 daughter compactions +
        // the durable refs-stage landing), so the gate trims the
        // fixture rather than pay 5 full passes — semantics unchanged
        val cells = graft.model.Fixtures.cellsOrders(s, dir)
          .filter(col("row").cast("long") % 3 === 0)
        HFiles.export(cells, 1, s"$table/p1/d", blockSize = 4096)
        val splitRow = RegionRefs.splitRegion(s, table, "p1", "d1", "d2")
        require(splitRow.nonEmpty, "parent store must be splittable")
        // the janitor must refuse while references pin the parent
        require(RegionRefs.catalogJanitor(s, table, arch).isEmpty,
          "janitor GC'd a still-referenced parent")
        // the 'refs' stage must materialize BEFORE the compactions
        // destroy the references it reads through; localCheckpoint
        // (r17-opt) instead of a scratch parquet write+re-read — the
        // store files are the declared durable artifact, the parquet
        // copy never was
        val refsStage = RegionRefs.importStore(s, table, "d1")
          .unionByName(RegionRefs.importStore(s, table, "d2"))
          .localCheckpoint()
        RegionRefs.compactRefs(s, table, "d1", blockSize = 4096)
        // one daughter compacted is NOT enough — d2 still pins p1
        require(RegionRefs.catalogJanitor(s, table, arch).isEmpty,
          "janitor GC'd with one daughter still referencing")
        RegionRefs.compactRefs(s, table, "d2", blockSize = 4096)
        require(RegionRefs.catalogJanitor(s, table, arch) == Seq("p1"),
          "janitor failed to GC the unreferenced parent")
        // 'final' (post-GC, pre-crash) and 'recovered' (post-rollback)
        // pin the SAME durable layout — assert that identity on the
        // (path, length, CRC32C-of-bytes) file census and read the
        // cells ONCE, emitting both stage labels from one physical
        // scan (the r16 trim: the rollback's claim IS that it restored
        // this exact layout; the r16 advisor's strengthening: a
        // content checksum in the census closes the path+length-
        // preserving corruption a pure metadata census would miss)
        val fsx = new org.apache.hadoop.fs.Path(table)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        def storeLayout(): Seq[(String, Long, Long)] =
          Seq("d1", "d2").flatMap { r =>
            Option(fsx.globStatus(
                new org.apache.hadoop.fs.Path(s"$table/$r/*/*")))
              .getOrElse(Array.empty)
              .map { st =>
                val crc = new java.util.zip.CRC32C
                val in = fsx.open(st.getPath)
                try {
                  val buf = new Array[Byte](64 * 1024)
                  var n = in.read(buf)
                  while (n >= 0) { crc.update(buf, 0, n); n = in.read(buf) }
                } finally in.close()
                (st.getPath.toString, st.getLen, crc.getValue)
              }.toSeq
          }.sorted
        val preCrash = storeLayout()
        // interrupted re-split of d1 (procedure-v2 crash window: da's
        // refs written, crash before db's) — the recovery sweep must
        // roll it back, leaving d1 online with its exact cell stream
        Failpoints.crashAt("split.afterFirstDaughter")(
          RegionRefs.splitRegion(s, table, "d1", "da", "db"))
        require(RegionRefs.recoverInterruptedSplits(s, table) ==
          Seq("d1" -> "rolledback"),
          "recovery must roll back the half-split daughter refs")
        require(RegionRefs.catalogJanitor(s, table, arch).isEmpty,
          "nothing may be GC-able after the rollback")
        require(storeLayout() == preCrash,
          "rollback must restore the exact pre-crash store layout")
        refsStage.withColumn("stage", lit("refs"))
          .unionByName(
            RegionRefs.importStore(s, table, "d1")
              .unionByName(RegionRefs.importStore(s, table, "d2"))
              .withColumn("stage",
                explode(array(lit("final"), lit("recovered")))))
          .select("stage", "row", "family", "qualifier", "ts", "type",
            "value")
          .orderBy("stage", "row", "family", "qualifier", "ts", "type",
            "value")
      },
      Some(Cte.withCtes(Cte.cellsOrders)(
        """SELECT st.stage, row, family, qualifier, ts, type, value
          |FROM cells_orders
          |CROSS JOIN (VALUES ('final'), ('recovered'), ('refs')) st(stage)
          |WHERE CAST(row AS BIGINT) % 3 = 0
          |ORDER BY stage, row, family, qualifier, ts, type, value""".stripMargin))
    ),
    QDef(
      // StochasticLoadBalancer — the reference's DEFAULT balancer
      // (StochasticLoadBalancer.java:571-744, DoubleArrayCost.java):
      // a greedy stochastic walk (seeded — the twin must replay)
      // accepting only cost-improving moves over the weighted
      // normalized cost functions. The regions are the orders
      // keyspace's occupied %80 buckets, skew-assigned to five
      // servers by rank fraction (50/30/12/5/3%); the INVARIANT the
      // oracle checks is the converged end state: with the count-skew
      // weight dominant the walk must land the exact floor/ceil
      // split of n regions over 5 servers — numHigh = n mod 5
      // servers at ⌈n/5⌉, the rest at ⌊n/5⌋ — regardless of the
      // random path taken (the path itself is spec-pinned:
      // StochasticBalancerSpec determinism + cost-monotonicity).
      "q114_stochastic_balancer",
      (s, dir) => {
        import graft.admin.StochasticBalancer
        import graft.admin.StochasticBalancer.RegionLoad
        val buckets = Fixtures.orders(s, dir)
          .select((col("o_orderkey") % 80).cast("int").as("b"))
          .distinct().orderBy("b").collect().map(_.getInt(0)) // ≤80 rows
        val n = buckets.length
        val cuts = Seq(0.5, 0.8, 0.92, 0.97).map(f => (n * f).toInt)
        val assignment = buckets.zipWithIndex.groupBy { case (_, r) =>
          cuts.count(_ <= r) // 0..4 → server index
        }.map { case (si, bs) =>
          f"srv$si%d" -> bs.map { case (b, _) =>
            RegionLoad(f"r$b%02d")
          }.toSeq
        }
        // the decision ring rides the real walk (BalancerDecision
        // Details / BalancerDecisionQueueService — `BalancerLog`): the
        // run's costs and plans land newest-first, chunked at 15 plans
        // per entry; ring semantics (bound, eviction, rejection leg)
        // are spec-pinned in BalancerLogSpec
        val blog = new graft.admin.BalancerLog()
        val res = StochasticBalancer.balanceTable(assignment,
            log = Some(blog), logTable = "orders")
          .getOrElse(throw new IllegalStateException(
            "skewed cluster must pass the needs-balance gate"))
        val dec = blog.decisions()
        require(dec.nonEmpty &&
          dec.forall(d => d.initTotalCost == res.initCost &&
            d.computedTotalCost == res.finalCost &&
            d.regionPlans.size <= graft.admin.BalancerLog.PlansPerEntry) &&
          dec.map(_.regionPlans.size).sum == res.plans.size,
          "decision ring must record the walk's plans and costs")
        val counts = collection.mutable.Map(
          assignment.map { case (sv, rs) => sv -> rs.size.toLong }.toSeq: _*)
        res.plans.foreach { p => counts(p.source) -= 1; counts(p.dest) += 1 }
        import s.implicits._
        counts.values.toSeq.sorted(Ordering[Long].reverse).zipWithIndex
          .map { case (c, i) => (i.toLong + 1, c) }
          .toDF("rank", "region_count").orderBy("rank")
      },
      Some(
        """WITH __sb_n AS (
          |  SELECT COUNT(DISTINCT o_orderkey % 80) AS n FROM orders
          |)
          |SELECT CAST(i AS BIGINT) AS rank,
          |       CAST(CASE WHEN i <= n % 5 THEN n // 5 + 1
          |                 ELSE n // 5 END AS BIGINT) AS region_count
          |FROM __sb_n, generate_series(1, 5) t(i)
          |ORDER BY rank""".stripMargin)
    ),
    QDef(
      // WAL splitting + crash recovery (WALSplitter.splitLogFile /
      // OutputSink, HRegion.replayRecoveredEditsIfAny — `WalRecovery`):
      // a dead regionserver's log splits into per-region
      // recovered-edits PB files (one shuffle keyed by region, the
      // OutputSink-per-region shape; files named by their first
      // sequence id through the .temp rename protocol), and region
      // open replays them SKIPPING edits at or below the store's
      // flushed max sequence id — already durable, replaying them
      // would double-apply. Each region's flushed watermark is 60% of
      // its max seq (data-derived); the oracle rebuilds the seq
      // assignment (dense_rank per region over commit order — the
      // FIXTURE construction, not the operator) and checks exactly
      // the above-watermark edits survive: none lost, none repeated.
      "q116_wal_recovery",
      (s, dir) => {
        import graft.flow.WalRecovery
        import org.apache.spark.sql.expressions.Window
        val cells = Fixtures.cellsEventsV(s, dir)
        val uid = col("row").cast("long")
        val w = Window.partitionBy(col("wal_region"))
          .orderBy(col("ts"), col("row"))
        val entries = cells
          .withColumn("wal_region",
            concat(lit("region-"), (uid % 3).cast("string")))
          .withColumn("wal_table", lit("events"))
          .withColumn("wal_seq", dense_rank().over(w).cast("long"))
          .withColumn("write_time", col("ts"))
          .withColumn("value", coalesce(col("value"), lit("")))
        val rec = graft.Queries.scratchDir("q116_rec")
        WalRecovery.splitWal(s, entries, rec)
        val maxes = entries.groupBy("wal_region")
          .agg(max("wal_seq").as("m")).collect() // 3 rows
          .map(r => r.getString(0) -> r.getLong(1))
        maxes.sortBy(_._1).map { case (region, m) =>
          WalRecovery.replayRecoveredEdits(s, rec, region, m * 6 / 10)
            .withColumn("region", lit(region))
        }.reduce(_ unionByName _)
          .select("region", "wal_seq", "row", "family", "qualifier",
            "ts", "type", "value")
          .orderBy("region", "wal_seq", "row", "family", "qualifier",
            "ts", "type")
      },
      Some(Cte.withCtes(Cte.cellsEventsV,
        """__wr_seq AS (
          |  SELECT *,
          |    CAST(dense_rank() OVER (PARTITION BY region
          |      ORDER BY ts, row) AS BIGINT) AS seq
          |  FROM (SELECT *, 'region-' || CAST(CAST(row AS BIGINT) % 3 AS VARCHAR)
          |          AS region
          |        FROM cells_events_v)
          |), __wr_max AS (
          |  SELECT region, MAX(seq) AS m FROM __wr_seq GROUP BY region
          |)""".stripMargin)(
        """SELECT s.region, s.seq AS wal_seq, s.row, s.family, s.qualifier,
          |       s.ts, s.type, COALESCE(s.value, '') AS value
          |FROM __wr_seq s JOIN __wr_max x USING (region)
          |WHERE s.seq > (x.m * 6) // 10
          |ORDER BY s.region, wal_seq, s.row, s.family, s.qualifier,
          |         s.ts, s.type""".stripMargin))
    ),
    QDef(
      // RegionMover graceful drain/reload (RegionMover.java:86-376)
      // + hbck's HFileCorruptionChecker (util/hbck/
      // HFileCorruptionChecker.java:92-140). Mover: 40 regions skewed
      // (8,16,2,8,6) over five servers; draining sB spreads its 15
      // data regions least-loaded-first over the others (meta stays —
      // RegionMover.java:348-355), and the oracle replays the greedy
      // fill as its closed water-fill form: every destination rises to
      // level t* (the max level whose fill fits the move count), the
      // remainder lands on the name-ascending servers at that level;
      // `load` then replays the saved plan back and the spread must
      // return to the original. Hbck: four real single-file region
      // stores from cells_orders, one store file overwritten with
      // garbage; checkCorruption must quarantine exactly that file
      // (mirrored under .corrupt), a second pass must see a clean
      // census, and the data consequence is pinned per region — the
      // quarantined region reads zero cells, every healthy region
      // reads its full cellified slice.
      "q118_mover_hbck",
      (s, dir) => {
        import graft.admin.RegionMover
        import graft.admin.Balancer.{RegionInfo, RegionPlan}
        import graft.flow.{HFilePrint, HFiles}
        val assign0: Map[String, Seq[RegionInfo]] = (0 until 40).map { i =>
          val srv =
            if (i <= 7) "sA" else if (i <= 23) "sB"
            else if (i <= 25) "sC" else if (i <= 33) "sD" else "sE"
          srv -> RegionInfo(f"r$i%02d", i.toLong, isMeta = i == 23)
        }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
        def applyPlans(a: Map[String, Seq[RegionInfo]],
            ps: Seq[RegionPlan]): Map[String, Seq[RegionInfo]] =
          ps.foldLeft(a) { (acc, p) =>
            val r = acc(p.source).find(_.name == p.region)
              .getOrElse(sys.error(s"${p.region} not on ${p.source}"))
            acc + (p.source -> acc(p.source).filterNot(_.name == p.region)) +
              (p.dest -> (acc.getOrElse(p.dest, Nil) :+ r))
          }
        val plans = RegionMover.unload(assign0, "sB")
        val drained = applyPlans(assign0, plans)
        val reloaded = applyPlans(drained, RegionMover.load(plans, "sB"))
        require(reloaded.view.mapValues(_.size).toMap ==
          assign0.view.mapValues(_.size).toMap,
          "reload must restore the original spread")
        val moverRows =
          drained.toSeq.map { case (srv, rs) =>
            ("mover", srv, "drained", rs.size.toLong) } ++
          reloaded.toSeq.map { case (srv, rs) =>
            ("mover", srv, "reloaded", rs.size.toLong) }

        // hbck: real stores, one corrupted, quarantine + re-census.
        // ONE export job lands all four region stores (the r16 trim:
        // per-region jobs re-scanned the corpus 4×)
        val root = graft.Queries.scratchDir("q118_store")
        val cells = Fixtures.cellsOrders(s, dir)
        val uid = col("row").cast("long")
        HFiles.exportRegions(
          cells.withColumn("rr", (uid % 4).cast("int")),
          "rr", root, i => s"t1/p$i/d/part-00000.hfile",
          blockSize = 65536)
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val victim = fs.globStatus(
          new org.apache.hadoop.fs.Path(s"$root/t1/p2/d/*.hfile")).head.getPath
        val out = fs.create(victim, true)
        try out.write(Array.fill(8192)(0x5a.toByte)) finally out.close()
        val rep = HFilePrint.checkCorruption(s, root)
        require(rep.checked == 4 && rep.failures.isEmpty &&
          rep.corrupt == Seq(victim.toString),
          s"expected exactly the garbage file corrupt, got $rep")
        val rep2 = HFilePrint.checkCorruption(s, root)
        require(rep2.checked == 3 && rep2.corrupt.isEmpty,
          s"second pass must see a clean census, got $rep2")
        // ONE aggregate over the healthy stores' union replaces the
        // per-region count jobs (the r16 trim); the quarantined region
        // keeps its files==0 → readable 0 derivation
        val fileCounts = (0 until 4).map { i =>
          i -> Option(fs.globStatus(
            new org.apache.hadoop.fs.Path(s"$root/t1/p$i/d/*.hfile")))
            .getOrElse(Array.empty).length.toLong
        }.toMap
        val readable: Map[Int, Long] = {
          val healthy = (0 until 4).filter(fileCounts(_) > 0)
          if (healthy.isEmpty) Map.empty
          else healthy.map(i => HFiles.importCells(s, s"$root/t1/p$i/d")
              .withColumn("rr", lit(i)))
            .reduce(_ unionByName _)
            .groupBy("rr").agg(count(lit(1)).as("n")).collect()
            .map(r => r.getInt(0) -> r.getLong(1)).toMap
        }
        val hbckRows = (0 until 4).flatMap { i =>
          val quar =
            if (rep.quarantined.exists(_.contains(s"/p$i/"))) 1L else 0L
          Seq(("hbck", s"p$i", "cells_readable", readable.getOrElse(i, 0L)),
            ("hbck", s"p$i", "files_ok", fileCounts(i)),
            ("hbck", s"p$i", "quarantined", quar))
        }
        import s.implicits._
        (moverRows ++ hbckRows)
          .toDF("part", "name", "phase", "n")
          .orderBy("part", "name", "phase")
      },
      Some(Cte.withCtes(Cte.cellsOrders,
        """__rm_assign AS (
          |  SELECT i AS idx, printf('r%02d', i) AS region,
          |    CASE WHEN i <= 7 THEN 'sA' WHEN i <= 23 THEN 'sB'
          |         WHEN i <= 25 THEN 'sC' WHEN i <= 33 THEN 'sD'
          |         ELSE 'sE' END AS server,
          |    (i = 23) AS is_meta
          |  FROM generate_series(0, 39) t(i)
          |), __rm_loads AS (
          |  SELECT server, COUNT(*) AS ld FROM __rm_assign GROUP BY 1
          |), __rm_m AS (
          |  SELECT COUNT(*) AS m FROM __rm_assign
          |  WHERE server = 'sB' AND NOT is_meta
          |), __rm_dest AS (
          |  SELECT server, ld FROM __rm_loads WHERE server <> 'sB'
          |), __rm_fill AS (
          |  SELECT lvl, SUM(GREATEST(0, lvl - ld)) AS moved
          |  FROM generate_series(0, 80) t(lvl), __rm_dest GROUP BY lvl
          |), __rm_t AS (
          |  SELECT MAX(lvl) AS tstar FROM __rm_fill, __rm_m WHERE moved <= m
          |), __rm_rem AS (
          |  SELECT m - (SELECT moved FROM __rm_fill, __rm_t
          |              WHERE lvl = tstar) AS rem FROM __rm_m
          |), __rm_final AS (
          |  SELECT d.server,
          |    GREATEST(d.ld, t.tstar) +
          |    CASE WHEN d.ld <= t.tstar AND
          |      row_number() OVER (ORDER BY (d.ld > t.tstar), d.server)
          |        <= r.rem THEN 1 ELSE 0 END AS n
          |  FROM __rm_dest d, __rm_t t, __rm_rem r
          |), __hb_cells AS (
          |  SELECT CAST(row AS BIGINT) % 4 AS r, COUNT(*) AS cells
          |  FROM cells_orders GROUP BY 1
          |)""".stripMargin)(
        """SELECT * FROM (
          |  SELECT 'mover' AS part, server AS name, 'drained' AS phase,
          |         CAST(n AS BIGINT) AS n FROM __rm_final
          |  UNION ALL
          |  SELECT 'mover', 'sB', 'drained',
          |         (SELECT COUNT(*) FROM __rm_assign
          |          WHERE server = 'sB' AND is_meta)
          |  UNION ALL
          |  SELECT 'mover', server, 'reloaded', CAST(ld AS BIGINT)
          |  FROM __rm_loads
          |  UNION ALL
          |  SELECT 'hbck', 'p' || CAST(t.r AS VARCHAR), 'cells_readable',
          |         CASE WHEN t.r = 2 THEN 0 ELSE c.cells END
          |  FROM generate_series(0, 3) t(r) JOIN __hb_cells c ON c.r = t.r
          |  UNION ALL
          |  SELECT 'hbck', 'p' || CAST(r AS VARCHAR), 'files_ok',
          |         CASE WHEN r = 2 THEN 0 ELSE 1 END
          |  FROM generate_series(0, 3) t(r)
          |  UNION ALL
          |  SELECT 'hbck', 'p' || CAST(r AS VARCHAR), 'quarantined',
          |         CASE WHEN r = 2 THEN 1 ELSE 0 END
          |  FROM generate_series(0, 3) t(r)
          |) ORDER BY part, name, phase""".stripMargin))
    ),
    QDef(
      // LocalityBasedCostFunction over an injected locality table
      // (hbase-balancer/.../LocalityBasedCostFunction.java: cost = 1 −
      // current/best; ServerLocalityCostFunction weight 25) — the
      // no-HDFS twin of RegionHDFSBlockLocationFinder: each occupied
      // orders %80 bucket region has locality 1.0 on its home server
      // (bucket % 5) and 0.25 on the next, zero elsewhere. Starting
      // from the q114 rank-fraction skew (50/30/12/5/3%) with the
      // locality weight dominant, the seeded greedy walk must converge
      // to the path-independent invariant: EVERY region lands on its
      // max-locality server — the reference's dominant production
      // cost term steering placement to the data.
      "q119_locality_balancer",
      (s, dir) => {
        import graft.admin.StochasticBalancer
        import graft.admin.StochasticBalancer.{RegionLoad, Weights}
        val buckets = Fixtures.orders(s, dir)
          .select((col("o_orderkey") % 80).cast("int").as("b"))
          .distinct().orderBy("b").collect().map(_.getInt(0)) // ≤80 rows
        val n = buckets.length
        val cuts = Seq(0.5, 0.8, 0.92, 0.97).map(f => (n * f).toInt)
        val assignment = buckets.zipWithIndex.groupBy { case (_, r) =>
          cuts.count(_ <= r)
        }.map { case (si, bs) =>
          f"srv$si%d" -> bs.map { case (b, _) => RegionLoad(f"r$b%02d") }.toSeq
        }
        val localityTab = buckets.flatMap { b =>
          Seq((f"r$b%02d", f"srv${b % 5}%d") -> 1.0,
            (f"r$b%02d", f"srv${(b + 1) % 5}%d") -> 0.25)
        }.toMap
        val res = StochasticBalancer.balanceTable(assignment,
          weights = Weights(regionCount = 0.0, sizeSkew = 0.0,
            readSkew = 0.0, move = 7.0, locality = 500.0),
          locality = localityTab)
          .getOrElse(throw new IllegalStateException(
            "an off-locality start must pass the needs-balance gate"))
        val placed = collection.mutable.Map(
          assignment.toSeq.flatMap { case (sv, rs) =>
            rs.map(r => r.name -> sv) }: _*)
        res.plans.foreach(p => placed(p.region) = p.dest)
        import s.implicits._
        placed.toSeq.sortBy(_._1).toDF("region", "server")
          .orderBy("region")
      },
      Some(
        """SELECT printf('r%02d', b) AS region,
          |       'srv' || CAST(b % 5 AS VARCHAR) AS server
          |FROM (SELECT DISTINCT CAST(o_orderkey % 80 AS INT) AS b
          |      FROM orders)
          |ORDER BY region""".stripMargin)
    ),
    QDef(
      // hbtop's rate half (ClusterMetrics.getRequestCountPerSecond;
      // CostFromRegionLoadAsRateFunction's sliding-window input —
      // `GAdmin.metricsRate`): q104's census is a static snapshot;
      // operators rank stores by requests/SECOND, the delta between
      // two consecutive censuses over the scrape interval. Census 1
      // sweeps the store layout at the ts<=3 file ladder (3 files per
      // region store, real trailer preads); writes land the ts 4..5
      // files; census 2 re-sweeps; the rate view LAGs each store's
      // cell count over the census ordinal — null on first sight, the
      // per-second write rate after. The oracle replays both censuses
      // and the same LAG from the fixture's %3 split rules.
      "q120_metrics_rate",
      (s, dir) => {
        import graft.admin.GAdmin
        import graft.flow.HFiles
        val puts = Fixtures.cellsEventsV(s, dir)
          .filter(col("type") === "Put" && col("value").isNotNull)
        val root = graft.Queries.scratchDir("q120_cm")
        val hconf = s.sparkContext.hadoopConfiguration
        val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(hconf)
        val uid = col("row").cast("long")
        // one-job ladder landing per census (r17-opt): the 9+6 serial
        // per-(region, ts) export jobs collapse into exportRegions'
        // single shuffle on the composite (region, ts) key — same
        // files at the same paths, writer cutting a file per key; the
        // old rename-time empty-slice guard becomes an existence check
        def land(tss: Range): Unit = {
          HFiles.exportRegions(
            puts.filter(col("ts").isin(tss.map(_.toLong): _*))
              .select(((uid % 3) * 100 + col("ts")).cast("int").as("__rt"),
                col("row"), col("family"), col("qualifier"), col("ts"),
                col("type"), col("value")),
            "__rt", s"$root/data/ta",
            k => f"r${k / 100}%d/d/part-${k % 100}%05d.hfile")
          for (r <- 0 until 3; tsv <- tss)
            require(fs.exists(new org.apache.hadoop.fs.Path(
              f"$root/data/ta/r$r%d/d/part-$tsv%05d.hfile")),
              s"empty (r=$r, ts=$tsv) slice: the fixture no longer " +
                "covers the census's file ladder")
        }
        land(1 to 3)
        // a census is a SNAPSHOT: pin census 1's sweep to its scrape
        // instant (the lazy plan would otherwise re-walk the store
        // dirs after census 2's files land). Store-count-sized collect.
        val snap1 = GAdmin.clusterMetrics(s, root)
          .withColumn("census", lit(1))
        val c1 = s.createDataFrame(
          s.sparkContext.parallelize(snap1.collect().toIndexedSeq),
          snap1.schema)
        land(4 to 5)
        val c2 = GAdmin.clusterMetrics(s, root)
          .withColumn("census", lit(2))
        GAdmin.metricsRate(c1.unionByName(c2), intervalSec = 10L)
          .select("census", "table", "region", "store", "file_count",
            "n_cells", "write_rate")
          .orderBy("census", "region")
      },
      Some(Cte.withCtes(Cte.cellsEventsV,
        """__mr_counts AS (
          |  SELECT c.census, CAST(p.row AS BIGINT) % 3 AS r,
          |         CAST(COUNT(*) AS BIGINT) AS n
          |  FROM (VALUES (1), (2)) c(census)
          |  JOIN cells_events_v p
          |    ON p.type = 'Put' AND p.value IS NOT NULL
          |   AND p.ts <= CASE WHEN c.census = 1 THEN 3 ELSE 5 END
          |  GROUP BY 1, 2
          |)""".stripMargin)(
        """SELECT census, 'ta' AS "table",
          |       'r' || CAST(r AS VARCHAR) AS region, 'd' AS store,
          |       CAST(CASE WHEN census = 1 THEN 3 ELSE 5 END AS BIGINT)
          |         AS file_count,
          |       n AS n_cells,
          |       (n - LAG(n) OVER (PARTITION BY r ORDER BY census)) / 10.0
          |         AS write_rate
          |FROM __mr_counts ORDER BY census, region""".stripMargin))
    ),
    QDef(
      // Slow-log ring (OnlineLogRecord.java, namequeues/
      // SlowLogQueueService.java — `SlowLog`): each regionserver keeps
      // a BOUNDED ring of its latest operations (state constant
      // regardless of volume — old records fall off), and
      // Admin.getSlowLogResponses returns the slow slice ranked worst
      // first under a client cap. Fixture: every event becomes an
      // operation record on server rs<user_id%3> (arrival order =
      // (ts, event_id), processing µs from the event value); rings
      // keep the latest 128 per server; 'slow' = processing above the
      // ring population's floored mean (data-derived, every SF);
      // response = top 25. The oracle replays ring windows, threshold
      // and ranking in SQL.
      "q121_slow_log",
      (s, dir) => {
        import graft.admin.SlowLog
        val recs = Fixtures.events(s, dir).select(
          concat(lit("rs"), (col("user_id") % 3).cast("string"))
            .as("server"),
          graft.model.Cellify.nsToUs(col("ts")).as("start_us"),
          col("event_type").as("method"),
          floor(abs(coalesce(col("value"), lit(0.0))) * 1000)
            .cast("long").as("processing_us"),
          coalesce(octet_length(col("props")), lit(0)).cast("long")
            .as("response_size"),
          concat(lit("region-"), (col("user_id") % 16).cast("string"))
            .as("region"),
          col("event_id"))
        val rings = SlowLog.ring(recs, 128, col("server"),
          col("start_us"), col("event_id"))
        // the warn threshold: floored mean processing time over the
        // ring population (1-row collect — ring-bounded input)
        val thr = rings.agg(floor(avg(col("processing_us"))).cast("long"))
          .collect()(0).getLong(0)
        SlowLog.slowLogResponses(rings,
            isSlow = col("processing_us") > thr, limit = 25,
            order = Seq(col("processing_us").desc, col("start_us"),
              col("event_id")))
          .select("rank", "server", "method", "start_us",
            "processing_us", "response_size", "region")
          .orderBy("rank")
      },
      Some(
        """WITH __sl_recs AS (
          |  SELECT 'rs' || CAST(user_id % 3 AS VARCHAR) AS server,
          |         epoch_us(ts) AS start_us, event_type AS method,
          |         CAST(FLOOR(ABS(COALESCE(value, 0)) * 1000) AS BIGINT)
          |           AS processing_us,
          |         CAST(COALESCE(strlen(props), 0) AS BIGINT)
          |           AS response_size,
          |         'region-' || CAST(user_id % 16 AS VARCHAR) AS region,
          |         event_id
          |  FROM events
          |), __sl_ring AS (
          |  SELECT * FROM (
          |    SELECT *, row_number() OVER (PARTITION BY server
          |      ORDER BY start_us DESC, event_id DESC) AS rn
          |    FROM __sl_recs) WHERE rn <= 128
          |), __sl_thr AS (
          |  SELECT CAST(FLOOR(AVG(processing_us)) AS BIGINT) AS thr
          |  FROM __sl_ring
          |)
          |SELECT CAST(row_number() OVER (ORDER BY processing_us DESC,
          |         start_us, event_id) AS BIGINT) AS rank,
          |       server, method, start_us, processing_us,
          |       response_size, region
          |FROM __sl_ring, __sl_thr WHERE processing_us > thr
          |ORDER BY rank LIMIT 25""".stripMargin)
    ),
    QDef(
      // RSGroup-constrained balancing (rsgroup/RSGroupBasedLoadBalancer
      // .java:130-176 + RSGroupInfoManagerImpl — `RSGroups`): tables
      // pin to named server pools; misplaced regions (hosted outside
      // their table's group) home FIRST (correctAssignments:306-345 +
      // the group-filtered round-robin), then each group balances
      // WITHIN its pool. Fixture: the occupied orders %60 buckets are
      // regions of tables t0/t1/t2 (bucket%3) bound to groups
      // g1{s10,s11} / g2{s20,s21,s22} / default{s30,s31}; every
      // bucket%5==0 region starts on a WRONG group's server, the rest
      // pile on the group's first server. Invariants the oracle
      // replays closed-form: zero cross-group assignments (require'd
      // in-plan), per-group misplaced-homing counts, and the exact
      // floor/ceil converged split of each group's regions over its
      // pool (slop = 0).
      "q124_rsgroup_balancer",
      (s, dir) => {
        import graft.admin.{Balancer, RSGroups}
        import graft.admin.Balancer.RegionInfo
        val buckets = Fixtures.orders(s, dir)
          .select((col("o_orderkey") % 60).cast("int").as("b"))
          .distinct().orderBy("b").collect().map(_.getInt(0)) // ≤60 rows
        val reg = RSGroups.Registry(
            Set("s10", "s11", "s20", "s21", "s22", "s30", "s31"))
          .addRSGroup("g1").addRSGroup("g2")
          .moveServers(Set("s10", "s11"), "default", "g1")
          .moveServers(Set("s20", "s21", "s22"), "default", "g2")
          .setTableGroup("t0", "g1").setTableGroup("t1", "g2")
        // t2 stays unbound -> the implicit default group
        def grpOf(b: Int): String = (b % 3) match {
          case 0 => "g1"; case 1 => "g2"; case _ => "default"
        }
        val home = Map("g1" -> "s10", "g2" -> "s20", "default" -> "s30")
        val wrong = Map("g1" -> "s20", "g2" -> "s30", "default" -> "s10")
        val load = buckets.groupBy(b => s"t${b % 3}").map { case (t, bs) =>
          t -> bs.groupBy { b =>
            val g = grpOf(b); if (b % 5 == 0) wrong(g) else home(g)
          }.map { case (sv, bb) =>
            sv -> bb.toSeq.map(b => RegionInfo(f"r$b%02d", b.toLong))
          }
        }
        val rep = RSGroups.balanceCluster(reg, load, slop = 0.0)
        // the zero-cross-group invariant, checked on the END STATE
        rep.finalAssignment.foreach { case (sv, rs) =>
          val g = reg.groupOfServer(sv)
          rs.foreach(r => require(
            reg.groupOfTable(s"t${r.id % 3}") == g,
            s"region ${r.name} crossed its group boundary onto $sv"))
        }
        val mis = rep.misplacedPlans
          .groupBy(p => reg.groupOfServer(p.dest))
          .map { case (g, ps) => g -> ps.size.toLong }
        import s.implicits._
        reg.listRSGroups.flatMap { g =>
          reg.serversOf(g).toSeq
            .map(sv => rep.finalAssignment.getOrElse(sv, Nil).size.toLong)
            .sorted(Ordering[Long].reverse).zipWithIndex
            .map { case (c, i) =>
              (g, i.toLong + 1, c, mis.getOrElse(g, 0L)) }
        }.toDF("grp", "rank", "region_count", "misplaced_homed")
          .orderBy("grp", "rank")
      },
      Some(
        """WITH __rg_t AS (
          |  SELECT b,
          |    CASE b % 3 WHEN 0 THEN 'g1' WHEN 1 THEN 'g2'
          |         ELSE 'default' END AS grp,
          |    CASE WHEN b % 5 = 0 THEN 1 ELSE 0 END AS mis
          |  FROM (SELECT DISTINCT CAST(o_orderkey % 60 AS INT) AS b
          |        FROM orders)
          |), __rg_g AS (
          |  SELECT grp, COUNT(*) AS n, SUM(mis) AS mis
          |  FROM __rg_t GROUP BY 1
          |), __rg_k(grp, k) AS (
          |  VALUES ('g1', 2), ('g2', 3), ('default', 2)
          |)
          |SELECT g.grp, CAST(r.i AS BIGINT) AS rank,
          |       CAST(CASE WHEN r.i <= g.n % k.k THEN g.n // k.k + 1
          |                 ELSE g.n // k.k END AS BIGINT) AS region_count,
          |       CAST(g.mis AS BIGINT) AS misplaced_homed
          |FROM __rg_g g JOIN __rg_k k USING (grp)
          |JOIN generate_series(1, 3) r(i) ON r.i <= k.k
          |ORDER BY grp, rank""".stripMargin)
    ),
    QDef(
      // Rate cost functions in the stochastic walk
      // (WriteRequestCostFunction.java:28 / MemStoreSizeCostFunction
      // .java:28, both CostFromRegionLoadAsRateFunction.java:28-46 —
      // the sliding-window mean-of-deltas with counter-reset fallback):
      // q120's two-census view becomes each region's metrics window.
      // Every occupied orders %80 bucket region carries the window
      // (c_b, c_b+40, 40) — c_b its REAL order count, so absolutes are
      // skewed but every delta is 40 (the middle step also exercises
      // the reset branch: 40 < c_b+40) — plus a memstore window of
      // uniform rate 8. With ONLY the rate costs steering (regionCount
      // weight 0) the q114 rank-fraction skew must converge to the
      // floor/ceil count split: a wiring that summed ABSOLUTES instead
      // of rates would balance toward the skewed c_b mass and miss it.
      "q125_rate_balancer",
      (s, dir) => {
        import graft.admin.StochasticBalancer
        import graft.admin.StochasticBalancer.{RegionLoad, Weights}
        val counts = Fixtures.orders(s, dir)
          .groupBy((col("o_orderkey") % 80).cast("int").as("b"))
          .agg(count(lit(1)).as("c"))
          .orderBy("b").collect()
          .map(r => (r.getInt(0), r.getLong(1))) // ≤80 rows
        val cuts = Seq(0.5, 0.8, 0.92, 0.97).map(f => (counts.length * f).toInt)
        val assignment = counts.zipWithIndex.groupBy { case (_, r) =>
          cuts.count(_ <= r)
        }.map { case (si, bs) =>
          f"srv$si%d" -> bs.map { case ((b, c), _) =>
            RegionLoad(f"r$b%02d",
              writesWindow = Seq(c, c + 40L, 40L),
              memstoreMBWindow = Seq(c.toDouble, c + 8.0))
          }.toSeq
        }
        val res = StochasticBalancer.balanceTable(assignment,
          weights = Weights(regionCount = 0.0, sizeSkew = 0.0,
            readSkew = 0.0, move = 7.0, locality = 0.0,
            writeRate = 500.0, memstoreRate = 100.0))
          .getOrElse(throw new IllegalStateException(
            "a rate-skewed cluster must pass the needs-balance gate"))
        val sCounts = collection.mutable.Map(
          assignment.map { case (sv, rs) => sv -> rs.size.toLong }.toSeq: _*)
        res.plans.foreach { p =>
          sCounts(p.source) -= 1; sCounts(p.dest) += 1 }
        import s.implicits._
        sCounts.values.toSeq.sorted(Ordering[Long].reverse).zipWithIndex
          .map { case (c, i) => (i.toLong + 1, c, c * 40.0) }
          .toDF("rank", "region_count", "server_write_rate")
          .orderBy("rank")
      },
      Some(
        """WITH __rb_n AS (
          |  SELECT COUNT(DISTINCT o_orderkey % 80) AS n FROM orders
          |)
          |SELECT CAST(i AS BIGINT) AS rank,
          |       CAST(CASE WHEN i <= n % 5 THEN n // 5 + 1
          |                 ELSE n // 5 END AS BIGINT) AS region_count,
          |       CAST(CASE WHEN i <= n % 5 THEN n // 5 + 1
          |                 ELSE n // 5 END AS DOUBLE) * 40.0
          |         AS server_write_rate
          |FROM __rb_n, generate_series(1, 5) t(i)
          |ORDER BY rank""".stripMargin)
    ),
    QDef(
      // TableSkewCostFunction (hbase-balancer/.../TableSkewCostFunction
      // .java:28 — one DoubleArrayCost of per-server counts PER TABLE,
      // summed): a cluster can be count-balanced globally while one
      // table piles on one server. Fixture: occupied %80 buckets split
      // into tables t0/t1 (bucket%2), each table starting ENTIRELY on
      // its own single server of five — globally mild, per-table
      // maximal skew. With tableSkew steering (35-weight family scaled
      // to 500 here so the gate trips at any SF), the walk must land
      // EVERY table at its own floor/ceil split across all 5 servers.
      "q126_table_skew_balancer",
      (s, dir) => {
        import graft.admin.StochasticBalancer
        import graft.admin.StochasticBalancer.{RegionLoad, Weights}
        val buckets = Fixtures.orders(s, dir)
          .select((col("o_orderkey") % 80).cast("int").as("b"))
          .distinct().orderBy("b").collect().map(_.getInt(0)) // ≤80 rows
        val assignment = (0 until 5).map { si =>
          f"srv$si%d" -> (
            if (si < 2)
              buckets.filter(_ % 2 == si).toSeq
                .map(b => RegionLoad(f"r$b%02d", table = s"t${b % 2}"))
            else Seq.empty[RegionLoad])
        }.toMap
        val res = StochasticBalancer.balanceTable(assignment,
          weights = Weights(regionCount = 0.0, sizeSkew = 0.0,
            readSkew = 0.0, move = 7.0, locality = 0.0,
            tableSkew = 500.0))
          .getOrElse(throw new IllegalStateException(
            "a table-skewed cluster must pass the needs-balance gate"))
        val where = collection.mutable.Map(
          assignment.toSeq.flatMap { case (sv, rs) =>
            rs.map(r => r.name -> sv) }: _*)
        res.plans.foreach(p => where(p.region) = p.dest)
        val perTable = where.toSeq
          .groupBy { case (r, _) => s"t${r.drop(1).toInt % 2}" }
        import s.implicits._
        perTable.toSeq.sortBy(_._1).flatMap { case (t, rs) =>
          val bySrv = (0 until 5).map(si =>
            rs.count { case (_, sv) => sv == f"srv$si%d" }.toLong)
          bySrv.sorted(Ordering[Long].reverse).zipWithIndex.map {
            case (c, i) => (t, i.toLong + 1, c) }
        }.toDF("tbl", "rank", "region_count").orderBy("tbl", "rank")
      },
      Some(
        """WITH __ts_n AS (
          |  SELECT b % 2 AS t, COUNT(*) AS n
          |  FROM (SELECT DISTINCT CAST(o_orderkey % 80 AS INT) AS b
          |        FROM orders)
          |  GROUP BY 1
          |)
          |SELECT 't' || CAST(t AS VARCHAR) AS tbl,
          |       CAST(i AS BIGINT) AS rank,
          |       CAST(CASE WHEN i <= n % 5 THEN n // 5 + 1
          |                 ELSE n // 5 END AS BIGINT) AS region_count
          |FROM __ts_n, generate_series(1, 5) t2(i)
          |ORDER BY tbl, rank""".stripMargin)
    ),
    QDef(
      // Crash-safe multi-step DDL through the shared ProcedureJournal
      // (CloneSnapshotProcedure / RestoreSnapshotProcedure +
      // hbase.snapshot.restore.take.failsafe.snapshot; hbase-procedure's
      // executeFromState/rollbackState shape — `GAdmin.cloneSnapshot/
      // restoreSnapshot/recoverInterruptedDdl`): a restore interrupted
      // AFTER its rewrite landed must come back as the PRE-restore
      // contents (the failsafe snapshot re-imposed), a clone
      // interrupted mid-write must vanish (catalog + files), and the
      // clean retries of both must land exactly. Stages pin the cell
      // counts through the whole lifecycle; the oracle re-derives every
      // count from the fixture slices.
      "q127_ddl_recovery",
      (s, dir) => {
        import graft.admin.GAdmin
        import graft.flow.Failpoints
        val root = graft.Queries.scratchDir("q127_ddl")
        val failsafes = s"$root/failsafes"
        // a tenth of the corpus: the lifecycle rewrites the table ~8
        // times (snapshot, failsafe, restore x2, recover, clone x2),
        // so the gate trims the slice rather than pay 8 full passes
        val cells = Fixtures.cellsOrders(s, dir)
          .filter(col("row").cast("long") % 10 === 3)
        GAdmin.deleteTable(s, "q127t"); GAdmin.deleteTable(s, "q127c")
        GAdmin.createTable(s, "q127t", root, families = Seq("d"),
          buckets = 4)
        GAdmin.put(s, "q127t", cells)
        GAdmin.snapshot(s, "q127t", "s0", root)
        val snapN = GAdmin.table(s, "q127t").count()
        // diverge: new versions at a fresh ts for the %3==0 sub-slice
        GAdmin.put(s, "q127t", cells.filter(col("row").cast("long") % 3 === 0)
          .withColumn("ts", lit(99L)))
        val divergedN = GAdmin.table(s, "q127t").count()
        // crash AFTER the restore's rewrite landed → the sweep must
        // re-impose the PRE-restore (diverged) contents
        GAdmin.disableTable(s, "q127t")
        Failpoints.crashAt("journaledRewrite.afterRewrite")(
          GAdmin.restoreSnapshot(s, "q127t", s"$root/s0", failsafes))
        require(GAdmin.recoverInterruptedDdl(s, root, failsafes) ==
          Seq("graft_q127t" -> "rolledback"),
          "restore recovery must roll back to the failsafe")
        GAdmin.enableTable(s, "q127t")
        val recoveredN = GAdmin.table(s, "q127t").count()
        // the clean restore then lands the snapshot contents exactly
        GAdmin.disableTable(s, "q127t")
        GAdmin.restoreSnapshot(s, "q127t", s"$root/s0", failsafes)
        GAdmin.enableTable(s, "q127t")
        val restoredN = GAdmin.table(s, "q127t").count()
        // clone crash → rollback leaves no trace; the retry lands
        Failpoints.crashAt("clone.afterJournal")(
          GAdmin.cloneSnapshot(s, s"$root/s0", "q127c", root, buckets = 4))
        // the partial store file a crash mid-write leaves behind
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "graft_q127c"))
          .resolve("part-00000-dead-attempt.parquet").toFile.createNewFile()
        require(GAdmin.recoverInterruptedDdl(s, root, failsafes) ==
          Seq("graft_q127c" -> "rolledback"),
          "clone recovery must drop the half-clone")
        require(!GAdmin.tableExists(s, "q127c"),
          "a rolled-back clone must not exist")
        GAdmin.cloneSnapshot(s, s"$root/s0", "q127c", root, buckets = 4)
        val clonedN = GAdmin.table(s, "q127c").count()
        require(GAdmin.recoverInterruptedDdl(s, root, failsafes).isEmpty,
          "no journal may survive the committed retries")
        GAdmin.deleteTable(s, "q127t"); GAdmin.deleteTable(s, "q127c")
        import s.implicits._
        Seq(("snap", snapN), ("diverged", divergedN),
          ("recovered", recoveredN), ("restored", restoredN),
          ("cloned", clonedN))
          .toDF("stage", "n_cells").orderBy("stage")
      },
      Some(Cte.withCtes(Cte.cellsOrders,
        """__dd_base AS (
          |  SELECT * FROM cells_orders WHERE CAST(row AS BIGINT) % 10 = 3
          |), __dd_n AS (
          |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
          |         CAST(COUNT(CASE WHEN CAST(row AS BIGINT) % 3 = 0
          |                     THEN 1 END) AS BIGINT) AS m
          |  FROM __dd_base
          |)""".stripMargin)(
        """SELECT stage, CASE stage WHEN 'diverged' THEN n + m
          |                        WHEN 'recovered' THEN n + m
          |                        ELSE n END AS n_cells
          |FROM __dd_n, (VALUES ('cloned'), ('diverged'), ('recovered'),
          |              ('restored'), ('snap')) s(stage)
          |ORDER BY stage""".stripMargin))
    ),
    QDef(
      // Balancer conditionals: META/SYSTEM-table isolation
      // (hbase-balancer/.../BalancerConditionals.java,
      // MetaTableIsolationConditional / TableIsolationConditional
      // .isViolatingServer — `StochasticBalancer.balanceTable
      // (isolated=…)`): an isolated region may only share a server
      // with other isolated regions, and no user region may move onto
      // its server — every violating candidate is vetoed before
      // costing. Fixture: the meta region alone on the last of five
      // servers, the occupied %80 user regions rank-fraction-skewed
      // on the other four. The walk must balance the USER regions to
      // their floor/ceil over exactly FOUR servers while the meta
      // server finishes the walk still hosting meta alone — the
      // conditional is the only thing standing between the count-skew
      // cost and the underloaded meta server.
      "q128_isolation_balancer",
      (s, dir) => {
        import graft.admin.StochasticBalancer
        import graft.admin.StochasticBalancer.RegionLoad
        val buckets = Fixtures.orders(s, dir)
          .select((col("o_orderkey") % 80).cast("int").as("b"))
          .distinct().orderBy("b").collect().map(_.getInt(0)) // ≤80 rows
        val n = buckets.length
        val cuts = Seq(0.5, 0.8, 0.95).map(f => (n * f).toInt)
        val assignment = buckets.zipWithIndex.groupBy { case (_, r) =>
          cuts.count(_ <= r) // 0..3 — user regions on srv0..srv3
        }.map { case (si, bs) =>
          f"srv$si%d" -> bs.map { case (b, _) => RegionLoad(f"r$b%02d") }.toSeq
        } + ("srv4" -> Seq(RegionLoad("meta")))
        val res = StochasticBalancer.balanceTable(assignment,
          isolated = Set("meta"))
          .getOrElse(throw new IllegalStateException(
            "the skewed start must pass the needs-balance gate"))
        val counts = collection.mutable.Map(
          assignment.map { case (sv, rs) => sv -> rs.size.toLong }.toSeq: _*)
        val where = collection.mutable.Map("meta" -> "srv4")
        res.plans.foreach { p =>
          counts(p.source) -= 1; counts(p.dest) += 1
          if (p.region == "meta") where("meta") = p.dest
        }
        require(where("meta") == "srv4" && counts("srv4") == 1L,
          s"isolation violated: meta on ${where("meta")}, " +
            s"srv4 holds ${counts("srv4")}")
        import s.implicits._
        counts.values.toSeq.sorted(Ordering[Long].reverse).zipWithIndex
          .map { case (c, i) => (i.toLong + 1, c) }
          .toDF("rank", "region_count").orderBy("rank")
      },
      Some(
        """WITH __ib_n AS (
          |  SELECT COUNT(DISTINCT o_orderkey % 80) AS n FROM orders
          |)
          |SELECT CAST(i AS BIGINT) AS rank,
          |       CAST(CASE WHEN i <= n % 4 THEN n // 4 + 1
          |                 WHEN i <= 4 THEN n // 4
          |                 ELSE 1 END AS BIGINT) AS region_count
          |FROM __ib_n, generate_series(1, 5) t(i)
          |ORDER BY rank""".stripMargin)
    ),
    QDef(
      // CacheAwareLoadBalancer (hbase-balancer/.../CacheAwareLoad
      // Balancer.java: CacheAwareCostFunction + the CacheAware
      // candidate-generator pair) — the persistent-bucket-cache
      // balancer: regions should live where their blocks are already
      // cached. The injected (region, server) → cached-ratio table is
      // the q119 pattern (the no-telemetry twin of getRegionCachedInfo
      // + regionCacheRatioOnOldServerMap). Fixture: every occupied
      // orders %80 bucket region is FULLY cached on its home server
      // (b mod 5) and starts one server off; with the cache weight
      // dominant the converged END STATE the oracle replays closed-form
      // is every region back on its max-cache server — regardless of
      // the seeded path (q114's invariant pattern).
      "q129_cache_balancer",
      (s, dir) => {
        import graft.admin.StochasticBalancer
        import graft.admin.StochasticBalancer.{RegionLoad, Weights}
        val buckets = Fixtures.orders(s, dir)
          .select((col("o_orderkey") % 80).cast("int").as("b"))
          .distinct().orderBy("b").collect().map(_.getInt(0)) // ≤80 rows
        // start: one step round the ring off home; sizes 1 so every
        // region weighs equally in the cache ratio
        val assignment = (0 until 5).map { si =>
          f"srv$si%d" -> buckets.filter(b => (b + 1) % 5 == si).toSeq
            .map(b => RegionLoad(f"r$b%02d", sizeBytes = 1L))
        }.toMap
        val ratio = buckets
          .map(b => (f"r$b%02d", f"srv${b % 5}%d") -> 1.0).toMap
        val res = StochasticBalancer.balanceTable(assignment,
          weights = Weights(regionCount = 20.0, sizeSkew = 0.0,
            readSkew = 0.0, move = 7.0, cache = 500.0),
          cacheRatio = ratio)
          .getOrElse(throw new IllegalStateException(
            "a fully-miscached cluster must pass the needs-balance gate"))
        val where = collection.mutable.Map(
          assignment.toSeq.flatMap { case (sv, rs) =>
            rs.map(r => r.name -> sv) }: _*)
        res.plans.foreach(p => where(p.region) = p.dest)
        import s.implicits._
        where.toSeq.sortBy(_._1).toDF("region", "server")
          .orderBy("region")
      },
      Some(
        """SELECT printf('r%02d', b) AS region,
          |       'srv' || CAST(b % 5 AS VARCHAR) AS server
          |FROM (SELECT DISTINCT CAST(o_orderkey % 80 AS INT) AS b
          |      FROM orders)
          |ORDER BY region""".stripMargin)
    ),
    QDef(
      // HeterogeneousRegionCountCostFunction (hbase-balancer/.../
      // HeterogeneousRegionCountCostFunction.java:139-155, 263-279):
      // per-server capacity rules (hostname-regex → region limit,
      // first match wins, default otherwise); cost fills every server
      // LINEARLY — at global usage u each server should hold u of ITS
      // capacity, and only servers above that proportional fill pay.
      // Fixture: q114's rank-fraction pile-up over capacities
      // 10/10/20/20/40 (Σ=100); with the hetero weight steering
      // (regionCount 0, per the reference's own warning) the zero-cost
      // state at n regions forces EXACTLY round(cap·n/100) per server
      // — Σ round == n at the %80 fixture, so the converged counts are
      // unique and the oracle replays them closed-form.
      "q130_hetero_balancer",
      (s, dir) => {
        import graft.admin.StochasticBalancer
        import graft.admin.StochasticBalancer.{RegionLoad, Weights}
        val buckets = Fixtures.orders(s, dir)
          .select((col("o_orderkey") % 80).cast("int").as("b"))
          .distinct().orderBy("b").collect().map(_.getInt(0)) // ≤80 rows
        val n = buckets.length
        val cuts = Seq(0.5, 0.8, 0.92, 0.97).map(f => (n * f).toInt)
        val assignment = buckets.zipWithIndex.groupBy { case (_, r) =>
          cuts.count(_ <= r)
        }.map { case (si, bs) =>
          f"srv$si%d" -> bs.map { case (b, _) =>
            RegionLoad(f"r$b%02d") }.toSeq
        }
        val caps = Map("srv0" -> 10, "srv1" -> 10, "srv2" -> 20,
          "srv3" -> 20, "srv4" -> 40)
        val sumRound = caps.values
          .map(c => math.round(c * n.toDouble / 100.0)).sum
        require(sumRound == n,
          s"degenerate fixture: capacity rounds sum $sumRound != $n")
        val res = StochasticBalancer.balanceTable(assignment,
          weights = Weights(regionCount = 0.0, sizeSkew = 0.0,
            readSkew = 0.0, move = 7.0, heterogeneous = 500.0),
          heteroRules = Seq("srv[01]" -> 10, "srv[23]" -> 20),
          heteroDefault = 40)
          .getOrElse(throw new IllegalStateException(
            "an over-capacity pile-up must pass the needs-balance gate"))
        val counts = collection.mutable.Map(
          assignment.map { case (sv, rs) => sv -> rs.size.toLong }.toSeq: _*)
        res.plans.foreach { p => counts(p.source) -= 1; counts(p.dest) += 1 }
        import s.implicits._
        caps.toSeq.sorted.map { case (sv, cap) =>
          (sv, cap.toLong, counts(sv)) }
          .toDF("server", "capacity", "region_count").orderBy("server")
      },
      Some(
        """WITH __hb_n AS (
          |  SELECT COUNT(DISTINCT o_orderkey % 80) AS n FROM orders
          |), __hb_s(server, capacity) AS (
          |  VALUES ('srv0', 10), ('srv1', 10), ('srv2', 20),
          |         ('srv3', 20), ('srv4', 40)
          |)
          |SELECT s.server, CAST(s.capacity AS BIGINT) AS capacity,
          |       CAST(ROUND(s.capacity * t.n / 100.0) AS BIGINT)
          |         AS region_count
          |FROM __hb_s s, __hb_n t
          |ORDER BY server""".stripMargin)
    ),
    QDef(
      // hbtop NAMESPACE + REGIONSERVER modes (hbase-hbtop/.../
      // NamespaceModeStrategy.java:66-77, RegionServerModeStrategy
      // .java:77-100 — `GAdmin.hbtopNamespaces/hbtopServers`),
      // completing the mode set q104 (REGION/TABLE) started: region
      // records roll up by namespace (split back out of graft's
      // `ns:table` catalog names; no `:` = default) and by hosting
      // server (the injected assignment table), REGION_COUNT counting
      // distinct regions and every metric summing (ModeStrategyUtils
      // .aggregateRecords). The census derives from cellsOrders so
      // the oracle re-derives both rollups entirely in SQL; the
      // real-file census path is q104's covered ground. CLIENT/USER
      // modes need per-RPC attribution no batch engine records —
      // out of scope (SURVEY §2.10).
      "q131_hbtop_modes",
      (s, dir) => {
        import graft.admin.GAdmin
        val uid = col("row").cast("long")
        val census = Fixtures.cellsOrders(s, dir)
          .withColumn("table",
            when(uid % 3 === 0, lit("ns0:t0"))
              .when(uid % 3 === 1, lit("ns1:t1"))
              .otherwise(lit("tplain")))
          .withColumn("region", concat(lit("r"), (uid % 8).cast("string")))
          .groupBy(col("table"), col("region"), col("family").as("store"))
          .agg(count(lit(1)).as("n_cells"),
            coalesce(sum(octet_length(col("value"))), lit(0L))
              .cast("long").as("store_bytes"),
            countDistinct(col("qualifier")).as("file_count"))
        val assign = census.select("table", "region").distinct()
          .withColumn("server",
            concat(lit("rs"),
              (substring(col("region"), 2, 10).cast("long") % 3)
                .cast("string")))
        GAdmin.hbtopNamespaces(census)
          .withColumnRenamed("namespace", "key")
          .withColumn("mode", lit("namespace"))
          .unionByName(
            GAdmin.hbtopServers(census, assign)
              .withColumnRenamed("server", "key")
              .withColumn("mode", lit("regionserver")))
          .select("mode", "key", "region_count", "n_cells",
            "store_bytes", "file_count")
          .orderBy("mode", "key")
      },
      Some(Cte.withCtes(Cte.cellsOrders,
        """__ht_t AS (
          |  SELECT CASE CAST(row AS BIGINT) % 3
          |           WHEN 0 THEN 'ns0:t0' WHEN 1 THEN 'ns1:t1'
          |           ELSE 'tplain' END AS tbl,
          |         'r' || CAST(CAST(row AS BIGINT) % 8 AS VARCHAR)
          |           AS region,
          |         family AS store, qualifier, value
          |  FROM cells_orders
          |), __ht_census AS (
          |  SELECT tbl, region, store,
          |         CAST(COUNT(*) AS BIGINT) AS n_cells,
          |         CAST(COALESCE(SUM(strlen(value)), 0) AS BIGINT)
          |           AS store_bytes,
          |         CAST(COUNT(DISTINCT qualifier) AS BIGINT) AS file_count
          |  FROM __ht_t GROUP BY 1, 2, 3
          |)""".stripMargin)(
        """SELECT mode, key, region_count, n_cells, store_bytes,
          |       file_count FROM (
          |  SELECT 'namespace' AS mode,
          |         CASE WHEN strpos(tbl, ':') > 0
          |              THEN split_part(tbl, ':', 1)
          |              ELSE 'default' END AS key,
          |         CAST(COUNT(DISTINCT tbl || '#' || region) AS BIGINT)
          |           AS region_count,
          |         CAST(SUM(n_cells) AS BIGINT) AS n_cells,
          |         CAST(SUM(store_bytes) AS BIGINT) AS store_bytes,
          |         CAST(SUM(file_count) AS BIGINT) AS file_count
          |  FROM __ht_census GROUP BY 2
          |  UNION ALL
          |  SELECT 'regionserver' AS mode,
          |         'rs' || CAST(CAST(substr(region, 2) AS BIGINT) % 3
          |           AS VARCHAR) AS key,
          |         CAST(COUNT(DISTINCT tbl || '#' || region) AS BIGINT)
          |           AS region_count,
          |         CAST(SUM(n_cells) AS BIGINT) AS n_cells,
          |         CAST(SUM(store_bytes) AS BIGINT) AS store_bytes,
          |         CAST(SUM(file_count) AS BIGINT) AS file_count
          |  FROM __ht_census GROUP BY 2
          |) ORDER BY mode, key""".stripMargin))
    ),
    QDef(
      // WAL event tracker (regionserver/wal/WALEventTrackerListener
      // .java:40-76 + namequeues/WALEventTrackerTableAccessor.java —
      // `stream/WalEventTracker`): every roll records ROLLING(old),
      // ROLLED(old, final length), ACTIVE(new) into the durable
      // REPLICATION.WALEVENTTRACKER table keyed walName_ts_state.
      // Four real PB WAL segments land, their roll lifecycle derives
      // (timestamps fixture-injected so the log replays), the flush
      // runs TWICE to pin put-overwrite idempotency, and the ROLLED
      // lengths are require'd against the actual files (byte sizes
      // are codec-dependent — exposed by the surface, excluded from
      // the declared row like q104's physical bytes).
      "q132_wal_event_tracker",
      (s, dir) => {
        import graft.stream.WalEventTracker
        val out = graft.Queries.scratchDir("q132_walevt")
        val cells = Fixtures.cellsEventsV(s, dir)
        graft.flow.PWalFiles.export(cells, 4, s"$out/wals")
        val fs = new org.apache.hadoop.fs.Path(out)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val segs = fs.globStatus(
            new org.apache.hadoop.fs.Path(s"$out/wals/wal-*.pwal"))
          .map(st => (st.getPath.getName, st.getLen))
          .sortBy(_._1).toSeq
        require(segs.size == 4 && segs.forall(_._2 > 0),
          s"expected 4 rolled segments, got $segs")
        val rank = Map("ROLLING" -> 0L, "ROLLED" -> 1L, "ACTIVE" -> 2L)
        val events = WalEventTracker.eventsForSegments(segs, "rs1",
          (i, st) => i * 10L + rank(st))
        // ROLLED events must carry the real landed lengths
        val lens = segs.init.map(_._2)
        require(events.filter(_.wal_state == "ROLLED")
          .map(_.wal_length) == lens,
          "ROLLED lengths must match the files")
        WalEventTracker.append(s, s"$out/tracker", events)
        WalEventTracker.append(s, s"$out/tracker", events) // replayed flush
        val t = WalEventTracker.read(s, s"$out/tracker")
        require(t.count() == events.size,
          "a replayed flush must overwrite, never duplicate")
        t.select(col("row_key"), col("region_server_name"),
            col("wal_name"), col("timestamp"), col("wal_state"),
            (col("wal_length") > 0).as("has_bytes"))
          .orderBy("row_key")
      },
      Some(
        """WITH __we_r AS (SELECT i FROM generate_series(1, 3) t(i)),
          |__we_ev AS (
          |  SELECT 'wal-00000.pwal' AS wal_name, CAST(2 AS BIGINT) AS ts,
          |         'ACTIVE' AS wal_state, FALSE AS has_bytes
          |  UNION ALL
          |  SELECT printf('wal-%05d.pwal', i - 1), CAST(i*10 AS BIGINT),
          |         'ROLLING', FALSE FROM __we_r
          |  UNION ALL
          |  SELECT printf('wal-%05d.pwal', i - 1), CAST(i*10+1 AS BIGINT),
          |         'ROLLED', TRUE FROM __we_r
          |  UNION ALL
          |  SELECT printf('wal-%05d.pwal', i), CAST(i*10+2 AS BIGINT),
          |         'ACTIVE', FALSE FROM __we_r
          |)
          |SELECT wal_name || '_' || CAST(ts AS VARCHAR) || '_' || wal_state
          |         AS row_key,
          |       'rs1' AS region_server_name, wal_name,
          |       ts AS "timestamp", wal_state, has_bytes
          |FROM __we_ev ORDER BY row_key""".stripMargin)
    ),
    QDef(
      // Region-replica distribution (DistributeReplicasConditional
      // .java:36-93 + DistributeReplicasCandidateGenerator.java:45-92,
      // RegionReplicaHostCostFunction.java — `StochasticBalancer`
      // replica support): every %80 bucket region gets a read replica
      // CO-HOSTED with its primary (the worst case the conditional
      // exists for); the walk runs with the conditional's per-move
      // veto + repair generator. The converged invariant the oracle
      // replays closed-form is DISTRIBUTION itself: every group ends
      // split across two servers (the veto makes separation monotone —
      // a separated group can never re-co-host, and the dominant
      // RegionReplicaHostCostFunction multiplier accepts every repair).
      // The exact servers are walk-dependent (q114's seeded-path
      // divergence), so the declared row is the per-group separation
      // fact, not the placement.
      "q133_replica_balancer",
      (s, dir) => {
        import graft.admin.StochasticBalancer
        import graft.admin.StochasticBalancer.RegionLoad
        val buckets = Fixtures.orders(s, dir)
          .select((col("o_orderkey") % 80).cast("int").as("b"))
          .distinct().orderBy("b").collect().map(_.getInt(0)) // ≤80 rows
        // start fully co-hosted: group b's primary AND secondary both
        // on srv(b%4) — counts are balanced, so the run is carried by
        // the replica cost, not count skew
        val assignment = (0 until 4).map { si =>
          f"srv$si%d" -> buckets.filter(_ % 4 == si).toSeq.flatMap(b =>
            Seq(RegionLoad(f"r$b%02d-p"),
              RegionLoad(f"r$b%02d-s", primary = f"r$b%02d-p")))
        }.toMap
        val res = StochasticBalancer.balanceTable(assignment,
          distributeReplicas = true)
          .getOrElse(throw new IllegalStateException(
            "a fully co-hosted cluster must pass the needs-balance gate"))
        val where = collection.mutable.Map(
          assignment.toSeq.flatMap { case (sv, rs) =>
            rs.map(r => r.name -> sv) }: _*)
        res.plans.foreach(p => where(p.region) = p.dest)
        import s.implicits._
        buckets.toSeq.map { b =>
          (f"r$b%02d",
            where(f"r$b%02d-p") != where(f"r$b%02d-s"))
        }.toDF("region", "separated").orderBy("region")
      },
      Some(
        """SELECT printf('r%02d', b) AS region, TRUE AS separated
          |FROM (SELECT DISTINCT CAST(o_orderkey % 80 AS INT) AS b
          |      FROM orders)
          |ORDER BY region""".stripMargin)
    ),
    QDef(
      // SimpleLoadBalancer's cluster-OVERALL mode — the default
      // hbase.master.loadbalance.bytable=false deployment
      // (SimpleLoadBalancer.java:115-129 setClusterLoad, :166-182
      // overallNeedsBalance, :458-606 balanceOverall —
      // `Balancer.balanceCluster`). The fixture is the reference's own
      // testImpactOfBalanceClusterOverall shape (mockUniformCluster
      // [5,5,5,5,5,0] WITH tables): five tables, each one region on
      // each of srv00-srv04 — every table is perfectly balanced, so
      // the bytable strategy can NEVER drain srv05; only the shared
      // cluster load list can. The deterministic walk peels one
      // ceil-slack region per table onto srv05 until the totals close
      // the [4,5] band: exactly four moves whose sources rotate
      // srv04→srv01 (each table's un-peel pass spares the
      // name-rotating survivor) — replayed closed-form.
      "q134_overall_balancer",
      (s, dir) => {
        import graft.admin.Balancer
        import graft.admin.Balancer.RegionInfo
        val a = (0 until 5).map { t =>
          s"t$t" -> ((0 until 6).map { si =>
            f"srv$si%02d" -> (if (si < 5)
              Seq(RegionInfo(f"t$t%d-s$si%02d-r000", si.toLong))
            else Seq.empty[RegionInfo])
          }.toMap)
        }.toMap
        // per-table passes alone must refuse every table (the shape's
        // entire point) — loudly pin that before the overall run
        require((0 until 5).forall(t =>
          Balancer.balanceTable(a(s"t$t"), slop = 0.0).isEmpty),
          "fixture drift: a table balanced bytable")
        val plans = Balancer.balanceCluster(a, slop = 0.0)
        val totals = collection.mutable.Map(
          (0 until 6).map(si => f"srv$si%02d" -> 0): _*)
        a.values.foreach(_.foreach { case (sv, rs) => totals(sv) += rs.size })
        plans.values.flatten.foreach { p =>
          totals(p.source) -= 1; totals(p.dest) += 1
        }
        require(totals.values.max <= 5 && totals.values.min >= 4,
          s"overall band violated: $totals")
        import s.implicits._
        plans.toSeq.flatMap { case (t, ps) =>
          ps.map(p => (t, p.region, p.source, p.dest))
        }.sortBy(_._1).toDF("tbl", "region", "source", "dest")
          .orderBy("tbl")
      },
      Some(
        """SELECT 't' || CAST(i AS VARCHAR) AS tbl,
          |       printf('t%d-s%02d-r000', i, 4 - i) AS region,
          |       printf('srv%02d', 4 - i) AS source,
          |       'srv05' AS dest
          |FROM generate_series(0, 3) t(i)
          |ORDER BY tbl""".stripMargin)
    )
  )
}
