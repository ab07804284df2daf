package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QDef
import graft.model.Fixtures
import graft.stream.WalStream

/** Q34–Q35: the streaming surface (SURVEY §2.8). Q34 runs a REAL
  * Structured Streaming query (AvailableNow trigger, memory sink) whose
  * result must equal the batch/DuckDB oracle — the batch-equivalence
  * guarantee of the Dataflow model. Q35 is the batch (gaps-and-islands)
  * realization of session windows; the streaming `session_window` twin
  * is exercised in StreamSpec.
  */
object StreamQueries {

  val defs: Seq[QDef] = Seq(
    QDef(
      "q34_stream_window",
      (s, dir) => {
        val stream = WalStream.sourceNs(s, s"$dir/events.parquet", Fixtures.eventsSchema)
        val agg    = WalStream.tumblingCounts(stream, "1 hour")
        val out    = WalStream.runAvailableNow(agg, "q34_sink")
        out.select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
            col("event_type"),
            col("n"),
            round(col("sum_value"), 4).as("sum_value"))
          .orderBy("w_start", "event_type")
      },
      Some("""SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
             |       event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    ),
    QDef(
      "q35_session_window",
      (s, dir) => {
        // gaps-and-islands on µs-truncated event time (exactly the
        // resolution DuckDB sees, so boundary gaps agree)
        val gapUs = 30L * 60 * 1000 * 1000
        val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
        Fixtures.events(s, dir)
          .withColumn("tus", graft.model.Cellify.nsToUs(col("ts")))
          .withColumn("prev", lag(col("tus"), 1).over(w))
          .withColumn("new_session",
            when(col("prev").isNull || col("tus") - col("prev") > gapUs, 1).otherwise(0))
          .groupBy("user_id")
          .agg(sum(col("new_session")).as("n_sessions"))
          .orderBy("user_id")
      },
      // CAST: DuckDB's integer SUM yields HUGEINT (decimal128) — the
      // driver's value hash then sees Decimal vs Spark's int64.
      Some("""SELECT user_id, CAST(SUM(ns) AS BIGINT) AS n_sessions FROM (
             |  SELECT user_id,
             |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             |                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
             |              THEN 1 ELSE 0 END AS ns
             |  FROM events
             |) GROUP BY user_id ORDER BY user_id""".stripMargin)
    ),
    QDef(
      "q60_stream_stream_join",
      // REAL stream-stream interval join (two watermarked unbounded
      // inputs, state bounded by watermark + interval), run to
      // completion with AvailableNow; batch oracle = the same interval
      // join in SQL on µs-truncated event time.
      (s, dir) => {
        val stream = WalStream.sourceNs(s, s"$dir/events.parquet", Fixtures.eventsSchema)
        val joined = WalStream.clickAttribution(stream)
        // 4 state partitions: a stream-stream join keeps FOUR state
        // stores per partition, and the bounded run's store lifecycle
        // dwarfs its 46-row match volume (dev/PLANS.md q60 row) — a
        // perpetual stream sizes this to throughput at stream start
        WalStream.runAvailableNow(joined, "q60_sink",
            mode = "append", statePartitions = 4)
          .orderBy("user_id", "click_id", "purchase_id")
      },
      Some("""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             |       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
             |FROM events c JOIN events p
             |  ON p.user_id = c.user_id
             | AND c.event_type = 'click' AND p.event_type = 'purchase'
             | AND epoch_us(p.ts) >= epoch_us(c.ts)
             | AND epoch_us(p.ts) <= epoch_us(c.ts) + 600000000
             |ORDER BY c.user_id, click_id, purchase_id""".stripMargin)
    ),
    QDef(
      // Synchronous replication (HBASE-19064 — `SyncReplication`): the
      // ACTIVE cluster dual-writes every in-scope WAL entry to a
      // REMOTE WAL on the standby's filesystem (DualAsyncFSWAL — one
      // encode, bytes teed to both logs), the async shipper delivers
      // only up to a per-region watermark (60% of max seq) before the
      // active cluster dies, and failover is the state-machine walk:
      // STANDBY -> DOWNGRADE_ACTIVE (remote-WAL catch-up replay above
      // the shipped watermark: ReplicationSyncUp /
      // ReplaySyncReplicationWALCallable) -> ACTIVE. Illegal
      // transitions (STANDBY -> ACTIVE direct) and STANDBY write
      // rejection are asserted in-line. Scope: the peer covers table
      // events_a only — events_b entries never reach the remote WAL.
      // Oracle: the complete scoped source slice, each edit labeled
      // with the leg that delivered it (seq <= watermark = shipped,
      // above = replayed) — none lost, none duplicated.
      "q117_sync_replication",
      (s, dir) => {
        import graft.stream.SyncReplication
        import graft.stream.SyncReplication._
        val cells = Fixtures.cellsEventsV(s, dir)
        val uid = col("row").cast("long")
        val w = Window.partitionBy(col("wal_region"))
          .orderBy(col("ts"), col("row"))
        val entries = cells
          .withColumn("wal_region",
            concat(lit("region-"), (uid % 3).cast("string")))
          .withColumn("wal_table",
            when(uid % 2 === 0, lit("events_a")).otherwise(lit("events_b")))
          .withColumn("wal_seq", dense_rank().over(w).cast("long"))
          .withColumn("write_time", col("ts"))
          .withColumn("value", coalesce(col("value"), lit("")))
        val scoped = entries.filter(col("wal_table") === "events_a")
        val local = graft.Queries.scratchDir("q117_local")
        val remote = graft.Queries.scratchDir("q117_remote")
        val standby = SyncPeer("p1", remote, Standby)
        // the lattice's guards: a standby rejects client writes, and
        // can never jump straight to ACTIVE
        require(scala.util.Try(SyncReplication.checkWrite(standby)).isFailure,
          "STANDBY must reject client writes")
        require(scala.util.Try(SyncReplication.transit(standby, Active)).isFailure,
          "STANDBY -> ACTIVE direct must be illegal")
        val active = SyncPeer("p1", remote, Active)
        SyncReplication.dualWrite(active, scoped, local)
        // active cluster dies; standby transits to DOWNGRADE_ACTIVE
        // and replays the remote WAL above each region's shipped mark
        val da = SyncReplication.transit(standby, DowngradeActive)
        val maxes = scoped.groupBy("wal_region")
          .agg(max("wal_seq").as("m")).collect() // 3 rows, bounded
          .map(r => r.getString(0) -> r.getLong(1))
        val out = maxes.sortBy(_._1).map { case (region, m) =>
          val wm = m * 6 / 10
          val shipped = scoped
            .filter(col("wal_region") === region && col("wal_seq") <= wm)
            .select(col("wal_seq"), col("row"), col("family"),
              col("qualifier"), col("ts"), col("type"), col("value"))
            .withColumn("via", lit("shipped"))
          val replayed = SyncReplication.syncUpReplay(s, da, region, wm)
            .withColumn("via", lit("replayed"))
          shipped.unionByName(replayed).withColumn("region", lit(region))
        }.reduce(_ unionByName _)
        // caught up: DOWNGRADE_ACTIVE -> ACTIVE is now legal
        require(SyncReplication.transit(da, Active).state == Active)
        out
          .select("region", "wal_seq", "row", "family", "qualifier",
            "ts", "type", "value", "via")
          .orderBy("region", "wal_seq", "row", "family", "qualifier",
            "ts", "type")
      },
      Some(graft.oracle.Cte.withCtes(graft.oracle.Cte.cellsEventsV,
        """__sr_seq AS (
          |  SELECT *,
          |    CAST(dense_rank() OVER (PARTITION BY region
          |      ORDER BY ts, row) AS BIGINT) AS seq
          |  FROM (SELECT *,
          |          'region-' || CAST(CAST(row AS BIGINT) % 3 AS VARCHAR)
          |            AS region,
          |          CASE WHEN CAST(row AS BIGINT) % 2 = 0
          |               THEN 'events_a' ELSE 'events_b' END AS tbl
          |        FROM cells_events_v)
          |), __sr_scoped AS (
          |  SELECT * FROM __sr_seq WHERE tbl = 'events_a'
          |), __sr_max AS (
          |  SELECT region, MAX(seq) AS m FROM __sr_scoped GROUP BY region
          |)""".stripMargin)(
        """SELECT s.region, s.seq AS wal_seq, s.row, s.family, s.qualifier,
          |       s.ts, s.type, COALESCE(s.value, '') AS value,
          |       CASE WHEN s.seq <= (x.m * 6) // 10 THEN 'shipped'
          |            ELSE 'replayed' END AS via
          |FROM __sr_scoped s JOIN __sr_max x USING (region)
          |ORDER BY s.region, wal_seq, s.row, s.family, s.qualifier,
          |         s.ts, s.type""".stripMargin))
    )
  )
}
