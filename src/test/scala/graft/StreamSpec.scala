package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.Fixtures
import graft.stream.WalStream

class StreamSpec extends SparkSpec {

  /** Checkpoint dirs, and sink views on the caller and `children`,
    * that bounded runs named `name` left. */
  private def leftovers(name: String, children: SparkSession*): Seq[String] = {
    val ck = new java.io.File(if (new java.io.File("/dev/shm").canWrite) "/dev/shm"
      else sys.props("java.io.tmpdir"), "graft-ck")
    (Option(ck.list()).toSeq.flatten ++ (spark +: children)
      .flatMap(_.catalog.listTables().collect().map(_.name))).filter(_.startsWith(name))
  }

  /** The cached child session that bounded runs at `statePartitions` stream in. */
  private def child(statePartitions: Int = 8) = WalStream.streamSession(spark, statePartitions)

  /** Partition counts of the shuffles `df` plans (AQE's initial plan). */
  private def exchangePartitions(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.executedPlan
      .asInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec].executedPlan
      .collect { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning.numPartitions }

  test("streaming tumbling window equals batch computation") {
    val stream = WalStream.sourceNs(spark, s"$sf0001/events.parquet", Fixtures.eventsSchema)
    val out = WalStream.runAvailableNow(
      WalStream.tumblingCounts(stream), "streamspec_tumble")
    val batch = Fixtures.events(spark, sf0001)
      .withColumn("ets", graft.model.Cellify.tsUtc(col("ts")))
      .groupBy(window(col("ets"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
    assert(out.count() === batch.count())
    val diff = out.select("window.start", "event_type", "n")
      .exceptAll(batch.select("window.start", "event_type", "n"))
    assert(diff.isEmpty)
    assert(leftovers("streamspec_tumble", child()).isEmpty)
  }

  test("a bounded run plans its state at statePartitions and its result at the caller's count") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val stateParts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(o => stateParts.add(o.numShufflePartitions))
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = done.countDown()
    }
    child(3).streams.addListener(listener) // 3 state partitions under a caller at 4
    try {
      val stream = WalStream.sourceNs(spark, s"$sf0001/events.parquet", Fixtures.eventsSchema)
      val out = WalStream.runAvailableNow(
        WalStream.tumblingCounts(stream), "streamspec_parts", statePartitions = 3)
      assert(done.await(1, java.util.concurrent.TimeUnit.MINUTES) && !stateParts.isEmpty)
      stateParts.forEach(n => assert(n === 3L))
      assert(exchangePartitions(out.groupBy("event_type").count()) === Seq(4))
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    } finally child(3).streams.removeListener(listener)
  }

  test("streaming session_window groups events by 30-min gaps") {
    val stream = WalStream.sourceNs(spark, s"$sf0001/events.parquet", Fixtures.eventsSchema)
    val sessions = WalStream.runAvailableNow(
      WalStream.sessionCounts(stream), "streamspec_sessions")
    // total events across sessions == total events
    val total = sessions.agg(sum("events")).head().getLong(0)
    assert(total === Fixtures.events(spark, sf0001).count())
    // session counts per user match the batch gaps-and-islands query
    val perUser = sessions.groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
    val batch = graft.SparkEntry.queries("q35_session_window")(spark, sf0001)
    val diff = perUser.exceptAll(batch).count()
    assert(diff === 0)
  }

  test("applySink is idempotent on replayed batches") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("wal").toString
    val cells = Fixtures.cellsOrders(spark, sf0001).limit(100)
    cells.write.parquet(s"$tmp/log")
    val stream = WalStream.source(spark, s"$tmp/log", graft.model.CellSchema.schema)
    val q = WalStream.applySink(stream, s"$tmp/ckpt", s"$tmp/out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val n1 = spark.read.parquet(s"$tmp/out").count()
    assert(n1 === 100)
  }

  test("applySink preserves per-key serial order across micro-batches (serial-peer contract)") {
    // The reference's serial replication mode guarantees a sink applies
    // a region's WAL entries in sequenceId order (ReplicationSourceManager,
    // serial peer). graft's mapping (SURVEY §2.8): micro-batches apply in
    // WAL-append order and batch_id surfaces on read as the ordering
    // key, so an ordering-sensitive consumer reading batch_id-ascending
    // replays each key's mutations in source (seq) order; within a
    // batch, seqCol resolves same-coordinate double-writes.
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("serial").toString
    val log = Paths.get(tmp, "log"); Files.createDirectories(log)
    // two WAL segments appended in seq order; the same coordinate is
    // rewritten across segments, plus an intra-segment double-write at
    // one (row,ts) where seq must pick the winner deterministically
    def seg(name: String, mtime: Long, rows: (String, Long, String, Long)*): Unit = {
      val stage = s"$tmp/stage_$name"
      rows.toSeq.toDF("row", "ts", "value", "seq")
        .select(col("row"), lit("d").as("family"), lit("q").as("qualifier"),
          col("ts"), lit("Put").as("type"), col("value"), col("seq"))
        .coalesce(1).write.parquet(stage)
      import scala.jdk.CollectionConverters._
      val src = Files.list(Paths.get(stage)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val dst = log.resolve(s"$name.parquet")
      Files.move(src, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val t0 = System.currentTimeMillis() - 60000
    seg("000", t0, ("r1", 1L, "v1", 1L), ("r1", 1L, "v1b", 2L), ("r2", 1L, "a1", 3L))
    seg("001", t0 + 5000, ("r1", 2L, "v2", 4L), ("r2", 2L, "a2", 5L))
    val schema = graft.model.CellSchema.schema
      .add(org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.LongType, nullable = false))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(log.toString)
    val q = WalStream.applySink(stream, s"$tmp/ckpt", s"$tmp/out", seqCol = Some("seq"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.read.parquet(s"$tmp/out")
      .select("batch_id", "row", "ts", "value").as[(Long, String, Long, String)]
      .collect().sorted
    // segment 0 (older mtime) is micro-batch 0; the seq winner took the
    // intra-batch double-write
    assert(out.toSeq === Seq(
      (0L, "r1", 1L, "v1b"), (0L, "r2", 1L, "a1"),
      (1L, "r1", 2L, "v2"), (1L, "r2", 2L, "a2")), s"got: ${out.toSeq}")
    // per-key serial order: replaying batch_id-ascending never steps a
    // key's ts backwards — the ordering-sensitive-consumer contract
    val perKey = out.groupBy(_._2).values
    assert(perKey.forall(rows => rows.sortBy(_._1).map(_._3).sliding(2)
      .forall(w => w.length < 2 || w(0) <= w(1))))
  }

  test("batch sessionizer matches the gaps-and-islands window form") {
    import graft.stream.Sessionize
    val typed = Sessionize.sessionize(Fixtures.events(spark, sf0001))
      .toDF().select("user_id", "session_idx", "n_events")
    val gapUs = Sessionize.GapUs
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
    val island = Fixtures.events(spark, sf0001)
      .withColumn("tus", graft.model.Cellify.nsToUs(col("ts")))
      .withColumn("prev", lag(col("tus"), 1).over(w))
      .withColumn("ns",
        when(col("prev").isNull || col("tus") - col("prev") > gapUs, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("ns")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_idx").agg(count(lit(1)).as("n_events"))
    assert(typed.exceptAll(island).isEmpty && island.exceptAll(typed).isEmpty)
  }

  test("streaming sessionizer closes sessions across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.stream.Sessionize
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long)] // (event_id, tsNanos, user_id)
    val us = 1000L
    val min = 60L * 1000 * 1000 // µs per minute
    val df = mem.toDF().toDF("event_id", "ts", "user_id")
      .withColumn("ts", col("ts")) // epoch nanos long, as Fixtures.events
    val sessions = Sessionize.sessionizeStream(df)
    val q = sessions.writeStream.format("memory").queryName("sess_test")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: user 1 has events at t=base and t=base+5min (base > 0
      // so nothing collides with the initial epoch-0 watermark)
      val base = 600 * min
      mem.addData((1L, base * us, 1L), (2L, (base + 5 * min) * us, 1L))
      q.processAllAvailable()
      // batch 2: an event at base+90min closes the first session
      // (watermark = base+60min > base+5min + 30min gap)
      mem.addData((3L, (base + 90 * min) * us, 1L))
      q.processAllAvailable()
      // batch 3: advance watermark far enough to time out session 2
      mem.addData((4L, (base + 300 * min) * us, 2L))
      q.processAllAvailable()
      var out = spark.table("sess_test")
        .select("user_id", "session_idx", "n_events").as[(Long, Long, Long)]
        .collect().toSet
      assert(out.contains((1L, 1L, 2L)), s"first session (2 events) closed: $out")
      assert(out.contains((1L, 2L, 1L)), s"second session timed out: $out")
      // batch 4: user 1 reappears AFTER a timeout closed session 2 —
      // the session counter must continue at 3, not reset to 1
      mem.addData((5L, (base + 600 * min) * us, 1L), (6L, (base + 900 * min) * us, 2L))
      q.processAllAvailable()
      mem.addData((7L, (base + 2000 * min) * us, 3L))
      q.processAllAvailable()
      out = spark.table("sess_test")
        .select("user_id", "session_idx", "n_events").as[(Long, Long, Long)]
        .collect().toSet
      assert(out.contains((1L, 3L, 1L)), s"post-timeout session continues idx: $out")
    } finally q.stop()
  }

  test("streaming dedup keeps first arrival per fingerprint within watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.ext.Dedup
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)] // (doc_id, tsUs, text)
    val min = 60L * 1000 * 1000
    val base = 600 * min
    val df = mem.toDF().toDF("doc_id", "tus", "text")
    val deduped = Dedup.streamDedup(df,
      eventTime = timestamp_micros(col("tus")), watermark = "30 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1: two distinct texts + one duplicate (whitespace-normalized)
      mem.addData((1L, base, "hello world"), (2L, base + min, "HELLO  world"),
        (3L, base + 2 * min, "unique one"))
      q.processAllAvailable()
      // batch 2: duplicate arrives within watermark → dropped
      mem.addData((4L, base + 3 * min, "hello world"))
      q.processAllAvailable()
      val kept = spark.table("dedup_test").select("doc_id").as[Long].collect().toSet
      assert(kept === Set(1L, 3L), s"first arrival wins within watermark: $kept")
    } finally q.stop()
  }

  test("walPlayer + backup/restore compose with Resolve") {
    import graft.flow.Jobs
    val wal = Fixtures.cellsEventsV(spark, sf0001)
    // bulk-load mode drops tombstones; plain mode keeps them
    val puts = Jobs.walPlayer(wal, timeRange = Some((1L, 6L)), bulkLoadMode = true)
    assert(puts.filter(col("type") =!= graft.model.CellType.Put).count() === 0)
    val replayAll = Jobs.walPlayer(wal, rowRemap = Some(r => concat(lit("x:"), r)))
    assert(replayAll.count() === wal.count())
    assert(replayAll.filter(!col("row").startsWith("x:")).count() === 0)
    // restore-to-watermark == resolve over the ts<=W subset
    val restored = Jobs.restore(Jobs.fullBackup(wal, 3L),
      Seq(Jobs.incrementalBackup(wal, 3L, 5L)))
    assert(restored.count() === wal.filter(col("ts") <= 5L).count())
    val pitr = graft.read.Resolve.latest(
      Jobs.restore(Jobs.fullBackup(wal, 2L), Seq(Jobs.incrementalBackup(wal, 2L, 4L))))
    val direct = graft.read.Resolve.latest(wal.filter(col("ts") <= 4L))
    assert(pitr.exceptAll(direct).isEmpty && direct.exceptAll(pitr).isEmpty)
  }

  test("late-but-unsealed events widen the open session (documented policy)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.stream.Sessionize
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long)]
    val us = 1000L; val min = 60L * 1000 * 1000; val base = 600 * min
    val df = mem.toDF().toDF("event_id", "ts", "user_id")
    val q = Sessionize.sessionizeStream(df).writeStream.format("memory")
      .queryName("late_test").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // open a session at base+40min (watermark stays at base+10min)
      mem.addData((1L, (base + 40 * min) * us, 9L))
      q.processAllAvailable()
      // a late event at base+12min (>= watermark, 28min gap below the
      // open session) merges: one widened session, n=2
      mem.addData((2L, (base + 12 * min) * us, 9L))
      q.processAllAvailable()
      // advance watermark far enough to close it
      mem.addData((3L, (base + 500 * min) * us, 8L))
      q.processAllAvailable()
      val out = spark.table("late_test")
        .select("user_id", "session_idx", "n_events", "start_us", "end_us")
        .as[(Long, Long, Long, Long, Long)].collect().filter(_._1 == 9L)
      assert(out.toSeq === Seq((9L, 1L, 2L, base + 12 * min, base + 40 * min)),
        s"widened single session expected: ${out.toSeq}")
    } finally q.stop()
  }

  test("WAL log cleaner: TTL and the replication high-water mark guard segments") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("walclean").toString
    graft.flow.PWalFiles.export(
      (0 until 30).map(j => (f"r$j%05d", "d", "q", 1L, "Put", s"v$j"))
        .toDF("row", "family", "qualifier", "ts", "type", "value"),
      3, s"$dir/wals")
    val future = System.currentTimeMillis() + 20L * 60000
    // TimeToLiveLogCleaner: young segments never delete
    assert(graft.flow.PWalFiles.cleanupWals(spark, s"$dir/wals",
      ttlMillis = Long.MaxValue / 2).isEmpty)
    // ReplicationLogCleaner: shipped through wal-00001 — the queued
    // tail segment stays even past the TTL
    assert(graft.flow.PWalFiles.cleanupWals(spark, s"$dir/wals", 1, future,
      shippedThrough = Some("wal-00001.pwal")) ==
      Seq("wal-00000.pwal", "wal-00001.pwal"))
    // no replication consumer: TTL alone reaps the rest
    assert(graft.flow.PWalFiles.cleanupWals(spark, s"$dir/wals", 1, future)
      == Seq("wal-00002.pwal"))
  }

  test("bulk-load replication imports exactly the descriptor-named files") {
    import spark.implicits._
    import graft.stream.WalMeta
    // two bulk-loaded store files; a third landed file is NOT named by
    // the descriptor and must not replicate (the reference ships only
    // what the BulkLoadDescriptor lists)
    val dir = java.nio.file.Files.createTempDirectory("blrep").toString
    def mk(name: String, rows: Seq[String], v: String): String = {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      graft.flow.HFiles.export(
        rows.map(r => (r, "d", "q", 1L, "Put", v))
          .toDF("row", "family", "qualifier", "ts", "type", "value"),
        numRegions = 1, outPath = tmp)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.rename(new org.apache.hadoop.fs.Path(s"$tmp/part-00000.hfile"),
        new org.apache.hadoop.fs.Path(s"$dir/$name.hfile"))
      s"$dir/$name.hfile"
    }
    val f1 = mk("bl1", Seq("a1", "a2"), "x")
    val f2 = mk("bl2", Seq("b1"), "y")
    mk("stray", Seq("c1"), "z")
    val walCells = Seq(("w1", "d", "q", 2L, "Put", "wv"))
      .toDF("row", "family", "qualifier", "ts", "type", "value")
    val wal = walCells.unionByName(
      WalMeta.bulkLoadMarker(spark, "region0", 3L, Seq(f1, f2)))
    // payload parse roundtrip
    assert(WalMeta.bulkLoadFilesOf(s"files=$f1,$f2") == Seq(f1, f2))
    assert(WalMeta.bulkLoadFilesOf("open").isEmpty)
    assert(WalMeta.bulkLoadFilesOf(null).isEmpty)
    // the replicator reads only the named files
    val rep = WalStream.replicateBulkLoads(wal)
    assert(rep.select("row").as[String].collect().sorted.toSeq ==
      Seq("a1", "a2", "b1"))
    // the full sink: WAL cells + bulk-loaded cells, no markers, no stray
    val applied = WalStream.applyBatchWithBulkLoads(wal)
    assert(applied.select("row").as[String].collect().sorted.toSeq ==
      Seq("a1", "a2", "b1", "w1"))
    // a batch with no descriptor replicates nothing extra
    assert(WalStream.replicateBulkLoads(walCells).count() == 0)
    assert(WalStream.applyBatchWithBulkLoads(walCells).count() == 1)
    // serial form: a sequenced WAL write at the same coordinates beats
    // the unsequenced bulk-loaded cell
    val conflict = Seq(("a1", "d", "q", 1L, "Put", "newer", 7L))
      .toDF("row", "family", "qualifier", "ts", "type", "value", "seq")
    val walSeq = wal.withColumn("seq", lit(5L)).unionByName(conflict)
    val r = WalStream.applyBatchWithBulkLoads(walSeq, seqCol = Some("seq"))
    assert(r.filter(col("row") === "a1" && col("ts") === 1L)
      .select("value").as[String].head() == "newer")
  }

  test("WAL meta markers pass scopes, surface to consumers, never land as cells") {
    import spark.implicits._
    import graft.stream.WalMeta
    val data = Seq(
      ("r1", "d", "q1", 1L, "Put", "v1"),
      ("r2", "m", "q2", 2L, "Put", "v2")
    ).toDF("row", "family", "qualifier", "ts", "type", "value")
    val marks = WalMeta.markers(spark, Seq(
      ("region0", WalMeta.Compaction, 3L, "files=2"),
      ("region0", WalMeta.BulkLoad, 4L, "hfiles=1"),
      ("region1", WalMeta.RegionEvent, 5L, "open")))
    val wal = data.unionByName(marks)

    // family scope filters DATA only; markers ride through every peer
    val sc = WalStream.scoped(wal, Seq("d"))
    assert(sc.filter(!WalMeta.isMeta(col("family")))
      .select("family").distinct().as[String].collect().toSeq === Seq("d"))
    assert(WalMeta.metaOnly(sc).count() === 3)

    // the sink never applies a marker as a table cell
    val applied = WalStream.applyBatch(wal)
    assert(applied.filter(col("family") === WalMeta.MetaFamily).count() === 0)
    assert(applied.count() === 2)

    // WALPlayer replays data edits only, in or out of a time range
    assert(graft.flow.Jobs.walPlayer(wal).count() === 2)
    assert(graft.flow.Jobs.walPlayer(wal,
      timeRange = Some((0L, 10L))).count() === 2)

    // the consumer slice sees the markers in WAL order
    assert(WalMeta.metaOnly(wal).orderBy("ts")
      .select("qualifier").as[String].collect().toSeq ===
      Seq(WalMeta.Compaction, WalMeta.BulkLoad, WalMeta.RegionEvent))

    // end-to-end through a real scoped STREAM: markers survive
    val tmp = java.nio.file.Files.createTempDirectory("walmeta").toString
    wal.write.parquet(s"$tmp/log")
    val stream = WalStream.source(spark, s"$tmp/log",
      graft.model.CellSchema.schema)
    val out = WalStream.runAvailableNow(
      WalStream.scoped(stream, Seq("d"))
        .groupBy("family").agg(count(lit(1)).as("n")),
      "walmeta_scope")
    val byFam = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byFam === Map("d" -> 1L, WalMeta.MetaFamily -> 3L))
  }

  test("replication peer admin: scope semantics and per-peer fan-out") {
    import graft.stream.ReplicationAdmin
    ReplicationAdmin.removeAllPeers()
    try {
      ReplicationAdmin.addPeer("all")
      ReplicationAdmin.addPeer("evd", Map("events" -> Seq("d")))
      ReplicationAdmin.addPeer("other", Map("orders" -> Nil))
      ReplicationAdmin.addPeer("off", enabled = false)
      // duplicate and illegal ids throw (ReplicationException twins)
      intercept[IllegalArgumentException](ReplicationAdmin.addPeer("all"))
      intercept[IllegalArgumentException](ReplicationAdmin.addPeer("a-b"))

      // scope semantics (ReplicationPeerConfig.needToReplicate)
      assert(ReplicationAdmin.scopeFor("all", "events") === Some(Nil))
      assert(ReplicationAdmin.scopeFor("evd", "events") === Some(Seq("d")))
      assert(ReplicationAdmin.scopeFor("evd", "orders") === None)
      assert(ReplicationAdmin.scopeFor("other", "orders") === Some(Nil))
      assert(ReplicationAdmin.scopeFor("off", "events") === None)

      // fan-out: one scoped stream per enabled in-scope peer
      val cells = Fixtures.cellsEventsV(spark, sf0001)
      val outs = ReplicationAdmin.replicate("events", cells)
      assert(outs.keySet === Set("all", "evd"))
      assert(outs("all").count() === cells.count())
      assert(outs("evd").count() === cells.filter(col("family") === "d").count())
      assert(outs("evd").filter(col("family") =!= "d").count() === 0)

      // disable drops a peer from the fan-out; enable restores it
      ReplicationAdmin.disablePeer("all")
      assert(ReplicationAdmin.replicate("events", cells).keySet === Set("evd"))
      ReplicationAdmin.enablePeer("all")
      ReplicationAdmin.removePeer("evd")
      assert(ReplicationAdmin.replicate("events", cells).keySet === Set("all"))
      intercept[IllegalArgumentException](ReplicationAdmin.removePeer("evd"))
    } finally ReplicationAdmin.removeAllPeers()
  }

  test("peer bandwidth throttle: admission trace matches the clock-injected limiter") {
    import graft.stream.ReplicationAdmin
    ReplicationAdmin.removeAllPeers()
    try {
      // 10 KB/s peer → 1000 bytes per 100 ms cycle (the reference's
      // ReplicationThrottler budget shape); an unthrottled control
      ReplicationAdmin.addPeer("slow", bandwidth = 10000L)
      ReplicationAdmin.addPeer("fast")
      // batches: (id, arrivalMs, sizeBytes) from one serial shipper
      val batches = Seq(
        (1L, 0L, 600L),    // fresh bucket: ships on arrival
        (2L, 0L, 600L),    // only 400 left → waits 20 ms (200B @ 10B/ms)
        (3L, 10L, 400L),   // queued behind #2, then 40 ms for 400B
        (4L, 500L, 5000L), // OVERSIZED (5 cycles) — admits at full bucket,
                           // drives the balance 4000B negative
        (5L, 510L, 100L)   // pays the amortization: ~410 ms behind #4
      )
      val trace = ReplicationAdmin.admissionTrace("slow", batches)
      assert(trace.map(_._1) === Seq(1L, 2L, 3L, 4L, 5L))
      val admit = trace.map(t => t._1 -> t._2).toMap
      assert(admit(1L) === 0L)
      assert(admit(2L) === 20L)  // waitInterval(600 @ avail 400) = 20 ms
      assert(admit(3L) === 60L)  // 20 + 40 ms for the next 400 bytes
      // #4: bucket refills to full 1000 by t=160; arrival 500 → ships
      // at 500 (full bucket), consumes 5000 → avail -4000
      assert(admit(4L) === 500L)
      // #5 needs avail ≥ 100 from -4000: 4100 bytes = 410 ms after 500
      assert(admit(5L) === 910L)
      // sleeps are admit - arrival, serial order preserved
      assert(trace.map(_._3) === Seq(0L, 20L, 50L, 0L, 400L))
      assert(trace.map(_._2) === trace.map(_._2).sorted)

      // the unthrottled peer ships every batch on arrival
      assert(ReplicationAdmin.admissionTrace("fast", batches) ===
        batches.map { case (id, at, _) => (id, at, 0L) })
      // live-reconfig (updateReplicationPeerConfig): a 10× bandwidth
      // gives a 10 KB cycle budget — every batch here fits the fresh
      // bucket's refill and ships with at most the tiny residual wait
      ReplicationAdmin.setPeerBandwidth("slow", 100000L)
      val fast10 = ReplicationAdmin.admissionTrace("slow", batches)
      assert(fast10.map(_._3).sum < trace.map(_._3).sum / 10)
    } finally ReplicationAdmin.removeAllPeers()
  }

  test("live shipper throttle: real micro-batch admissions match the deterministic trace; unthrottled peer identical") {
    import graft.stream.ReplicationAdmin
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    ReplicationAdmin.removeAllPeers()
    try {
      ReplicationAdmin.addPeer("thr", bandwidth = 10000L) // 1000 B/cycle
      ReplicationAdmin.addPeer("ctl")                     // unthrottled
      val out = graft.Queries.scratchDir("ship_throttle")
      // 3 one-file micro-batches, each ~1320 wire bytes (> one cycle's
      // 1000 B budget → every batch is the oversized amortizing case)
      def mk(i: Int) = Seq.tabulate(20)(j =>
          (f"r$i%02d$j%02d", "d", "q", 1L, "Put", "v" * 50))
        .toDF("row", "family", "qualifier", "ts", "type", "value")
      (0 until 3).foreach(i =>
        mk(i).coalesce(1).write.mode("append").parquet(s"$out/wal"))
      def src = spark.readStream.schema(mk(0).schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$out/wal")

      // scripted arrival clock + recording sleeper: the REAL sink runs,
      // but admission time is deterministic and wall-clock-free
      val script = Seq(0L, 5L, 10L)
      val calls = new java.util.concurrent.atomic.AtomicInteger(0)
      val th = new ReplicationAdmin.PeerThrottle(10000L,
        nowMs = () =>
          script(math.min(calls.getAndIncrement(), script.size - 1)),
        sleeper = _ => ())
      val q1 = ReplicationAdmin.shippedSink("thr", src, s"$out/ck1",
          s"$out/thr", throttle = Some(th))
        .trigger(Trigger.AvailableNow()).start()
      q1.awaitTermination()
      val q2 = ReplicationAdmin.shippedSink("ctl", src, s"$out/ck2",
          s"$out/ctl")
        .trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination()

      // the live bucket's admissions ARE the deterministic trace over
      // the same (id, arrival, size) batch list
      val live = th.admissions.toSeq
      assert(live.size === 3)
      assert(live.forall(_._3 > 1000L), s"batches must exceed one cycle: $live")
      val batches = live.zipWithIndex.map {
        case ((at, _, sz), i) => (i.toLong, at, sz)
      }
      val trace = ReplicationAdmin.admissionTrace("thr", batches)
      assert(live.map(_._2) === trace.map(_._2), "admit instants diverge")
      assert(live.map(t => t._2 - t._1) === trace.map(_._3), "sleeps diverge")
      assert(live.map(t => t._2 - t._1).exists(_ > 0), "nothing throttled")

      // unthrottled control peer applies the identical cell set
      val thrRows = spark.read.parquet(s"$out/thr").drop("batch_id")
      val ctlRows = spark.read.parquet(s"$out/ctl").drop("batch_id")
      assert(thrRows.count() === 60 && ctlRows.count() === 60)
      assert(thrRows.exceptAll(ctlRows).isEmpty &&
        ctlRows.exceptAll(thrRows).isEmpty)
      // and an unthrottled PeerThrottle admits on arrival (no sleeps)
      val free = new ReplicationAdmin.PeerThrottle(0L,
        nowMs = () => 7L, sleeper = _ => fail("unthrottled peer slept"))
      assert(free.admit(999999L) === 0L)
    } finally ReplicationAdmin.removeAllPeers()
  }

  test("updatePeerConfig narrows scope mid-stream: next batch honors it, no in-scope entry lost") {
    import graft.stream.ReplicationAdmin
    import spark.implicits._
    ReplicationAdmin.removeAllPeers()
    try {
      ReplicationAdmin.addPeer("upd") // empty map = replicate everything
      val out = graft.Queries.scratchDir("upd_scope")
      def mk(i: Int, fams: Seq[String]) = fams.flatMap(f =>
          Seq.tabulate(5)(j => (f"r$i$j", f, "q", 1L, "Put", "v")))
        .toDF("row", "family", "qualifier", "ts", "type", "value")
      mk(0, Seq("f1", "f2")).coalesce(1).write.mode("append")
        .parquet(s"$out/wal")
      val src = spark.readStream.schema(mk(0, Seq("f1")).schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$out/wal")
      val q = ReplicationAdmin.scopedSink("upd", "t", src,
        s"$out/ck", s"$out/dst").start()
      try {
        q.processAllAvailable()
        // batch 0 under the full scope: both families land
        val b0 = spark.read.parquet(s"$out/dst")
        assert(b0.count() === 10 &&
          b0.select("family").distinct().count() === 2)
        // the swap: scope narrows to t's f1 — NEXT batch must honor it
        ReplicationAdmin.updatePeerConfig("upd", Map("t" -> Seq("f1")))
        mk(1, Seq("f1", "f2")).coalesce(1).write.mode("append")
          .parquet(s"$out/wal")
        q.processAllAvailable()
        val b1 = spark.read.parquet(s"$out/dst")
          .filter(col("row").startsWith("r1"))
        assert(b1.count() === 5, "an in-scope f1 entry was lost")
        assert(b1.select("family").distinct().collect()
          .map(_.getString(0)).toSeq === Seq("f1"),
          "out-of-scope f2 leaked past the narrowed config")
        // table drops out of scope entirely: its batches skip
        ReplicationAdmin.updatePeerConfig("upd", Map("other" -> Nil))
        mk(2, Seq("f1")).coalesce(1).write.mode("append")
          .parquet(s"$out/wal")
        q.processAllAvailable()
        assert(spark.read.parquet(s"$out/dst")
          .filter(col("row").startsWith("r2")).count() === 0)
      } finally q.stop()
    } finally ReplicationAdmin.removeAllPeers()
  }

  test("WAL event tracker: roll lifecycle derivation and put-overwrite append") {
    import graft.stream.WalEventTracker
    import graft.stream.WalEventTracker.WalEvent
    // listener twin: ACTIVE birth, then ROLLING/ROLLED/ACTIVE per roll
    val ts = (i: Int, st: String) =>
      i * 10L + Map("ROLLING" -> 0L, "ROLLED" -> 1L, "ACTIVE" -> 2L)(st)
    assert(WalEventTracker.eventsForSegments(Nil, "rs", ts).isEmpty)
    assert(WalEventTracker.eventsForSegments(
      Seq(("w0", 5L)), "rs", ts) ==
      Seq(WalEvent("rs", "w0", 2L, "ACTIVE", 0L)))
    val two = WalEventTracker.eventsForSegments(
      Seq(("w0", 5L), ("w1", 9L)), "rs", ts)
    assert(two == Seq(
      WalEvent("rs", "w0", 2L, "ACTIVE", 0L),
      WalEvent("rs", "w0", 10L, "ROLLING", 0L),
      WalEvent("rs", "w0", 11L, "ROLLED", 5L),
      WalEvent("rs", "w1", 12L, "ACTIVE", 0L)))
    // row key = walName_ts_state (WALEventTrackerTableAccessor.getRowKey)
    assert(two.head.rowKey == "w0_2_ACTIVE")
    // accessor twin: replayed flushes overwrite, never duplicate
    val dir = graft.Queries.scratchDir("walevt_spec")
    WalEventTracker.append(spark, dir, two)
    WalEventTracker.append(spark, dir, two)
    assert(WalEventTracker.read(spark, dir).count() == 4)
  }

  test("disabled peer stalls the scoped sink; re-enable resumes losslessly") {
    // the r16 advisor's medium finding: a DISABLED peer must FAIL the
    // micro-batch (checkpoint must not advance — the reference pauses
    // shipping but retains the WAL queue, ReplicationSourceManager),
    // never silently drop it; only a table genuinely out of scope skips
    import graft.stream.ReplicationAdmin
    import org.apache.spark.sql.streaming.StreamingQueryException
    import spark.implicits._
    ReplicationAdmin.removeAllPeers()
    try {
      ReplicationAdmin.addPeer("dis")
      val out = graft.Queries.scratchDir("dis_scope")
      def mk(i: Int) = Seq.tabulate(5)(j =>
          (f"r$i$j", "f1", "q", 1L, "Put", "v"))
        .toDF("row", "family", "qualifier", "ts", "type", "value")
      mk(0).coalesce(1).write.mode("append").parquet(s"$out/wal")
      val src = spark.readStream.schema(mk(0).schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$out/wal")
      def start() = ReplicationAdmin.scopedSink("dis", "t", src,
        s"$out/ck", s"$out/dst").start()
      val q1 = start()
      try {
        q1.processAllAvailable()
        assert(spark.read.parquet(s"$out/dst").count() === 5)
        // disable, write a batch: the query must FAIL, not skip
        ReplicationAdmin.disablePeer("dis")
        mk(1).coalesce(1).write.mode("append").parquet(s"$out/wal")
        intercept[StreamingQueryException] {
          q1.processAllAvailable()
        }
      } finally q1.stop()
      // re-enable and restart from the SAME checkpoint: the failed
      // batch replays — nothing lost
      ReplicationAdmin.enablePeer("dis")
      val q2 = start()
      try {
        q2.processAllAvailable()
        val rows = spark.read.parquet(s"$out/dst")
        assert(rows.filter(col("row").startsWith("r1")).count() === 5,
          "the batch written while disabled must land after re-enable")
      } finally q2.stop()
    } finally ReplicationAdmin.removeAllPeers()
  }

  test("peer table-cfs append/remove follow ReplicationPeerConfigUtil's merge rules") {
    import graft.stream.ReplicationAdmin
    ReplicationAdmin.removeAllPeers()
    try {
      ReplicationAdmin.addPeer("m",
        Map("ta" -> Seq("a"), "tb" -> Nil, "tc" -> Seq("x")))
      // append: explicit∪explicit unions; all-families absorbs; new
      // tables join the scope
      ReplicationAdmin.appendPeerTableCfs("m",
        Map("ta" -> Seq("b"), "tb" -> Seq("z"), "td" -> Seq("y")))
      val m = ReplicationAdmin.listPeers().find(_.id == "m").get
      assert(m.tableCfs === Map("ta" -> Seq("a", "b"), "tb" -> Nil,
        "tc" -> Seq("x"), "td" -> Seq("y")))
      // a replicate-everything peer NARROWS to the appended map (the
      // reference's preTableCfs == null branch)
      ReplicationAdmin.addPeer("n")
      ReplicationAdmin.appendPeerTableCfs("n", Map("ta" -> Seq("a")))
      assert(ReplicationAdmin.listPeers().find(_.id == "n").get
        .tableCfs === Map("ta" -> Seq("a")))
      // remove: explicit minus explicit; empty result drops the table;
      // an all-families removal needs an all-families entry
      ReplicationAdmin.removePeerTableCfs("m", Map("ta" -> Seq("a")))
      ReplicationAdmin.removePeerTableCfs("m", Map("tb" -> Nil))
      ReplicationAdmin.removePeerTableCfs("m", Map("td" -> Seq("y")))
      assert(ReplicationAdmin.listPeers().find(_.id == "m").get
        .tableCfs === Map("ta" -> Seq("b"), "tc" -> Seq("x")))
      // the reference's hard-error branches
      intercept[IllegalArgumentException](
        ReplicationAdmin.removePeerTableCfs("m", Map("zz" -> Nil)))
      intercept[IllegalArgumentException]( // tc names cfs; all-removal illegal
        ReplicationAdmin.removePeerTableCfs("m", Map("tc" -> Nil)))
      ReplicationAdmin.addPeer("o", Map("ta" -> Nil))
      intercept[IllegalArgumentException]( // ta is all; cf-removal illegal
        ReplicationAdmin.removePeerTableCfs("o", Map("ta" -> Seq("a"))))
      // errors must not have mutated the scope (atomic swap)
      assert(ReplicationAdmin.listPeers().find(_.id == "m").get
        .tableCfs === Map("ta" -> Seq("b"), "tc" -> Seq("x")))
    } finally ReplicationAdmin.removeAllPeers()
  }

  test("streaming HFile backup sink: epochs land as byte-format files, markers excluded, redelivery idempotent") {
    import graft.stream.{WalMeta, WalStream}
    import spark.implicits._
    val out = graft.Queries.scratchDir("hfile_stream_sink")
    // a tiny WAL log on disk drives the real file-source path
    val walDir = s"$out/wal"
    val cells = Seq(
      ("r1", "d", "q1", 1L, "Put", "a"),
      ("r2", "d", "q1", 1L, "Put", "b"),
      ("r3", "d", "q2", 2L, "Put", "c"))
      .toDF("row", "family", "qualifier", "ts", "type", "value")
    val withMarker = cells.unionByName(WalMeta.markers(spark,
      Seq(("r0", WalMeta.Flush, 5L, "flush-descriptor"))))
    withMarker.write.mode("overwrite").parquet(walDir)
    val stream = spark.readStream.schema(withMarker.schema).parquet(walDir)
    WalStream.hfileBackupSink(stream, s"$out/bk", numRegions = 2,
      queryName = "hfsink_t")
    val back = graft.flow.HFiles.importCells(spark, s"$out/bk",
      glob = "epoch=*/part-*.hfile")
    // data cells roundtrip; the marker never lands as a cell
    assert(back.count() === 3)
    assert(back.filter(col("family") === WalMeta.MetaFamily).count() === 0)
    assert(back.select("row", "value").as[(String, String)].collect().toSet ===
      Set(("r1", "a"), ("r2", "b"), ("r3", "c")))
    // redelivery: a fresh stream run (new checkpoint) replays epoch 0 —
    // the epoch directory is rewritten, not duplicated
    WalStream.hfileBackupSink(
      spark.readStream.schema(withMarker.schema).parquet(walDir),
      s"$out/bk", numRegions = 2, queryName = "hfsink_t2")
    assert(graft.flow.HFiles.importCells(spark, s"$out/bk",
      glob = "epoch=*/part-*.hfile").count() === 3)
    assert(leftovers("hfsink_t").isEmpty)
  }

  test("WAL log cleaner compares parsed segment indices, not raw names") {
    val dir = java.nio.file.Files.createTempDirectory("walnum").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // past the 5-digit pad, wal-100000 sorts BEFORE wal-99999 as a
    // string; the shipped guard must still protect the later segment
    Seq("wal-99999.pwal", "wal-100000.pwal", "wal-100001.pwal").foreach { n =>
      val o = fs.create(new org.apache.hadoop.fs.Path(dir, n), true)
      try o.write(1) finally o.close()
    }
    assert(graft.flow.PWalFiles.segmentIndex("wal-100000.pwal") == 100000L)
    assert(graft.flow.PWalFiles.segmentIndex("nodigits") == -1L)
    val future = System.currentTimeMillis() + 20L * 60000
    assert(graft.flow.PWalFiles.cleanupWals(spark, dir, 1, future,
      shippedThrough = Some("wal-99999.pwal")) == Seq("wal-99999.pwal"))
    assert(graft.flow.PWalFiles.cleanupWals(spark, dir, 1, future,
      shippedThrough = Some("wal-100000.pwal")) == Seq("wal-100000.pwal"))
  }

  test("bulk-load replication: staging pins bytes, missing files degrade per-file") {
    import spark.implicits._
    import graft.stream.WalMeta
    val dir = java.nio.file.Files.createTempDirectory("blstage").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mk(name: String, rows: Seq[String], v: String): String = {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      graft.flow.HFiles.export(
        rows.map(r => (r, "d", "q", 1L, "Put", v))
          .toDF("row", "family", "qualifier", "ts", "type", "value"),
        numRegions = 1, outPath = tmp)
      fs.rename(new org.apache.hadoop.fs.Path(s"$tmp/part-00000.hfile"),
        new org.apache.hadoop.fs.Path(s"$dir/$name.hfile"))
      s"$dir/$name.hfile"
    }
    val f1 = mk("s1", Seq("a1", "a2"), "x")
    val f2 = mk("s2", Seq("b1"), "y")
    // staging at marker-append time copies the named files; the marker
    // names the STAGED paths, so later source-side rewrites cannot race
    val staged = WalMeta.stageBulkLoadFiles(spark, Seq(f1, f2), s"$dir/staging")
    assert(staged.map(new org.apache.hadoop.fs.Path(_).getName).sorted ==
      Seq("s1.hfile", "s2.hfile"))
    val wal = WalMeta.bulkLoadMarker(spark, "region0", 3L, staged)
    // source compaction retires the ORIGINAL files — replication still
    // reads the pinned staged bytes
    fs.delete(new org.apache.hadoop.fs.Path(f1), false)
    fs.delete(new org.apache.hadoop.fs.Path(f2), false)
    assert(WalStream.replicateBulkLoads(wal)
      .select("row").as[String].collect().sorted.toSeq == Seq("a1", "a2", "b1"))
    // unstaged marker naming a vanished file: the batch degrades
    // per-file (surviving files apply, the missing one is reported)
    // instead of failing permanently
    val f3 = mk("s3", Seq("c1"), "z")
    val wal2 = WalMeta.bulkLoadMarker(spark, "region0", 4L, Seq(f3, s"$dir/gone.hfile"))
    var missed = Seq.empty[String]
    val rep = WalStream.replicateBulkLoads(wal2, onMissing = missed = _)
    assert(rep.select("row").as[String].collect().toSeq == Seq("c1"))
    assert(missed == Seq(s"$dir/gone.hfile"))
    // all named files gone: empty result, not an exception
    val wal3 = WalMeta.bulkLoadMarker(spark, "region0", 5L, Seq(s"$dir/gone2.hfile"))
    assert(WalStream.replicateBulkLoads(wal3).count() == 0)
  }

  test("snapshot-mode VerifyReplication pins both sides against live divergence") {
    import spark.implicits._
    import graft.flow.{Jobs, SnapshotShip}
    def cells(rows: (String, String)*) =
      rows.map { case (r, v) => (r, "d", "q", 1L, "Put", v) }
        .toDF("row", "family", "qualifier", "ts", "type", "value")
    val src = cells("a" -> "1", "b" -> "2", "c" -> "3")
    val peer = cells("a" -> "1", "b" -> "XX", "d" -> "4")
    val out = java.nio.file.Files.createTempDirectory("vrsnap").toString
    SnapshotShip.exportSnapshot(src, 1, s"$out/src", "s1", "tsrc")
    SnapshotShip.exportSnapshot(peer, 1, s"$out/peer", "p1", "tpeer")
    def classes(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long)].collect().toMap
    val pinned = classes(Jobs.verifyReplicationSnapshots(spark,
      s"$out/src", "s1", s"$out/peer", "p1"))
    assert(pinned == Map("good" -> 1L, "bad" -> 1L,
      "only_in_source" -> 1L, "only_in_target" -> 1L))
    // the live peer diverges AFTER the snapshots (replication caught
    // up on b and d, a new row e landed): a live comparison sees the
    // new state, the snapshot-pinned one must NOT
    val livePeer = cells("a" -> "1", "b" -> "2", "c" -> "3",
      "e" -> "5")
    val live = classes(Jobs.verifyReplication(src, livePeer))
    assert(live == Map("good" -> 3L, "only_in_target" -> 1L))
    assert(classes(Jobs.verifyReplicationSnapshots(spark,
      s"$out/src", "s1", s"$out/peer", "p1")) == pinned)
  }

  test("pending bulk-load refs protect archived files until shipped") {
    import spark.implicits._
    import graft.stream.WalMeta
    val dir = java.nio.file.Files.createTempDirectory("blrefs").toString
    // a WAL with one BULK_LOAD marker naming part-00000.hfile, exported
    // as pwal segments; nothing shipped yet → the file name is pending
    val wal = Seq(("w1", "d", "q", 2L, "Put", "wv"))
      .toDF("row", "family", "qualifier", "ts", "type", "value")
      .unionByName(WalMeta.bulkLoadMarker(spark, "region0", 3L,
        Seq(s"$dir/store/part-00000.hfile")))
    graft.flow.PWalFiles.export(wal, 1, s"$dir/wals")
    val refs = graft.flow.PWalFiles.pendingBulkLoadRefs(spark, s"$dir/wals")
    assert(refs == Set("part-00000.hfile"))
    // shipped past the only segment → nothing pending
    assert(graft.flow.PWalFiles.pendingBulkLoadRefs(spark, s"$dir/wals",
      shippedThrough = Some("wal-00000.pwal")).isEmpty)
    // the archive cleaner honors the pending set as a third plugin
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val arch = new org.apache.hadoop.fs.Path(
      s"$dir/archive/data/default/t/part-00000.hfile")
    val o = fs.create(arch, true); try o.write(1) finally o.close()
    val future = System.currentTimeMillis() + 10L * 60000
    assert(graft.flow.SnapshotShip.cleanupArchive(spark, dir, 1, future,
      extraRefs = refs).isEmpty)
    assert(graft.flow.SnapshotShip.cleanupArchive(spark, dir, 1, future) ==
      Seq("part-00000.hfile"))
  }

  test("overlapping q34/q60 runs never write the session conf: batch plans keep its partition count") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    // (conf value, shuffle partitions a batch groupBy plans at) right now
    def observe(): (String, Int) = spark.conf.get("spark.sql.shuffle.partitions") ->
      exchangePartitions(spark.range(64).groupBy(col("id") % 5).count()).head
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val seen = scala.collection.mutable.Set[(String, Int)]()
    try {
      val q34 = Future(SparkEntry.queries("q34_stream_window")(spark, sf0001).count())
      Thread.sleep(200) // staggered, overlapping starts
      val q60 = Future(SparkEntry.queries("q60_stream_stream_join")(spark, sf0001).count())
      while (!(q34.isCompleted && q60.isCompleted)) { seen += observe(); Thread.sleep(5) }
      assert(Await.result(q34, 5.minutes) > 0 && Await.result(q60, 5.minutes) > 0)
    } finally pool.shutdown()
    assert(seen.nonEmpty)
    assert((seen += observe()) === Set("4" -> 4))
  }

  test("a failed bounded run leaves no checkpoint dir or sink view") {
    val events = WalStream.sourceNs(spark, s"$sf0001/events.parquet", Fixtures.eventsSchema)
    // both fail in their first micro-batch (events carry no cell columns)
    intercept[Exception](WalStream.runAvailableNow(
      events.withColumn("boom", assert_true(col("ts") < 0)), "leak_fail", mode = "append"))
    intercept[Exception](WalStream.hfileBackupSink(events,
      graft.Queries.scratchDir("leak_bk"), numRegions = 1, queryName = "leak_bk_fail"))
    for (n <- Seq("leak_fail", "leak_bk_fail")) assert(leftovers(n, child()).isEmpty, n)
  }
}
