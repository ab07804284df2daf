package graft.stream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import graft.model.Cellify

/** The reference's only continuous dataflow is WAL-based replication
  * (CDC): ReplicationSource tails the WAL per peer
  * (hbase-server/.../replication/regionserver/ReplicationSource.java:87),
  * filters by table/family scope, and ReplicationSink re-applies
  * batches. graft maps this onto Structured Streaming (SURVEY §2.8):
  * readStream over an append-only log dir → declarative transforms →
  * foreachBatch idempotent merge sink, plus event-time windowed
  * analytics the reference cannot express.
  */
/** WAL meta entries — the reference's in-band coordination markers
  * (hbase-server/.../wal/WALEdit.java:92-130): compaction, flush,
  * region-event and bulk-load descriptors travel IN the WAL as cells
  * under the reserved `METAFAMILY` family, marker kind in the
  * qualifier, descriptor payload in the value. They are metadata, not
  * data: CDC consumers key off them (a downstream cache invalidates on
  * a compaction marker, an incremental-backup client on a bulk-load
  * marker), but they must NEVER be applied as table cells —
  * [[WalStream.applyBatch]] and WALPlayer exclude them, while
  * [[WalStream.scoped]] passes them through every peer scope (the
  * markers describe the region, not a column family, so family scoping
  * does not apply to them). Marker kind strings are the reference's
  * wire constants (WALEdit.java: `HBASE::COMPACTION`,
  * `HBASE::FLUSH`, `HBASE::REGION_EVENT`, `HBASE::BULK_LOAD`) for
  * consumer compatibility — format fidelity, same policy as OBytesHb. */
object WalMeta {
  /** WALEdit.METAFAMILY (WALEdit.java:92). */
  val MetaFamily = "METAFAMILY"
  /** Marker-kind qualifiers (WALEdit.java:97-130). */
  val Compaction = "HBASE::COMPACTION"
  val Flush = "HBASE::FLUSH"
  val RegionEvent = "HBASE::REGION_EVENT"
  val BulkLoad = "HBASE::BULK_LOAD"

  /** WALEdit.isMetaEditFamily twin. */
  def isMeta(family: Column): Column = family === MetaFamily

  /** Marker rows in the WAL cell schema: the marker rides the region's
    * start row (the reference writes markers against the region row),
    * `ts` is the event's sequence point, payload is the descriptor
    * (the reference serializes a protobuf descriptor; graft carries an
    * opaque string the consumer parses). */
  def markers(spark: SparkSession,
      rows: Seq[(String, String, Long, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (row, kind, ts, payload) =>
      (row, MetaFamily, kind, ts, graft.model.CellType.Put, payload)
    }.toDF("row", "family", "qualifier", "ts", "type", "value")
  }

  /** The meta slice of a WAL stream/batch — what a coordination-aware
    * consumer subscribes to. */
  def metaOnly(wal: DataFrame): DataFrame = wal.filter(isMeta(col("family")))

  /** The data slice — every entry that may land as a table cell. */
  def dataOnly(wal: DataFrame): DataFrame = wal.filter(!isMeta(col("family")))

  /** BULK_LOAD descriptor carrying the loaded store files — the
    * reference serializes a BulkLoadDescriptor protobuf naming every
    * landed file (WALEdit.createBulkLoadEvent, HRegion's bulk-load
    * event append); graft carries the same content as
    * `files=<p1>,<p2>,…`. A bulk load writes its store files DIRECTLY
    * (no per-cell WAL entries), so this marker is the ONLY trace the
    * WAL has of the loaded data. */
  def bulkLoadMarker(spark: SparkSession, row: String, ts: Long,
      files: Seq[String]): DataFrame =
    markers(spark, Seq((row, BulkLoad, ts, "files=" + files.mkString(","))))

  /** Parse a BULK_LOAD payload back to its file list. */
  def bulkLoadFilesOf(payload: String): Seq[String] =
    Option(payload).filter(_.startsWith("files="))
      .map(_.stripPrefix("files=").split(",").toSeq.filter(_.nonEmpty))
      .getOrElse(Nil)

  /** Stage the bulk-loaded store files for replication at marker-append
    * time — the HFileReplicator staging half (HFileReplicator.java
    * copies named files into a peer-side staging dir before loading).
    * The source's live store files keep compacting/retiring after the
    * load; a descriptor that names LIVE paths races those rewrites
    * (the reference guards the race with ReplicationHFileCleaner +
    * hfile-refs ZK nodes). Copying into `stagingDir` when the marker is
    * written pins the exact bytes the descriptor promised; return the
    * staged paths and write THOSE into [[bulkLoadMarker]]. Driver-side
    * per-file copy — bulk-load events are rare and file-count-sized,
    * never data-row-sized. */
  def stageBulkLoadFiles(spark: SparkSession, files: Seq[String],
      stagingDir: String): Seq[String] = {
    val hc = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(stagingDir)
    val dfs = dst.getFileSystem(hc)
    fsMkdirs(dfs, dst)
    files.map { f =>
      val src = new org.apache.hadoop.fs.Path(f)
      val out = new org.apache.hadoop.fs.Path(dst, src.getName)
      org.apache.hadoop.fs.FileUtil.copy(
        src.getFileSystem(hc), src, dfs, out, false, true, hc)
      out.toString
    }
  }

  private def fsMkdirs(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit = { fs.mkdirs(p); () }
}

object WalStream {

  /** CDC source: tail an append-only parquet log (the graft WAL).
    * Micro-batches play the role of ReplicationSourceWALReader's entry
    * batches (ReplicationSourceWALReader.java:56). */
  def source(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(asDir(path))

  /** [[source]] with `ts` normalized to epoch-nanos via the footer's
    * TIMESTAMP unit ([[graft.model.Fixtures.eventsTsNanosMult]]) — use
    * for the driver's events.parquet, whose unit varies by generation. */
  def sourceNs(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val mult = graft.model.Fixtures.eventsTsNanosMult(spark, path)
    val s = source(spark, path, schema)
    if (mult == 1L) s else s.withColumn("ts", col("ts") * lit(mult))
  }

  /** The file-stream source lists a *directory*; when handed a single
    * parquet file (the driver fixtures), expose it through a stable
    * symlinked dir. */
  private def asDir(path: String): String = {
    import java.nio.file.{Files, Paths}
    // absolute target: a relative path would be stored relative to the
    // LINK's directory and dangle; keyed on the absolute form so the
    // same file reached via different cwds shares one dir
    val p = Paths.get(path).toAbsolutePath.normalize
    if (!Files.isRegularFile(p)) path
    else {
      val dir = Paths.get(sys.props("java.io.tmpdir"), "graft-stream",
        Integer.toHexString(p.toString.hashCode))
      val link = dir.resolve(p.getFileName)
      // isSymbolicLink, not exists: exists() FOLLOWS a dangling link
      // and returns false, which would re-create and crash
      if (!Files.isSymbolicLink(link)) {
        Files.createDirectories(dir)
        Files.createSymbolicLink(link, p)
      }
      dir.toString
    }
  }

  /** Per-peer scope filtering (ChainWALEntryFilter /
    * NamespaceTableCfWALEntryFilter): keep only the replicated
    * families/tables. META entries pass through every scope — family
    * scoping describes data cells; markers describe the region
    * (WALEdit.isMetaEditFamily guards them out of the cell filters in
    * the reference's filter chain too). */
  def scoped(stream: DataFrame, families: Seq[String]): DataFrame =
    if (families.isEmpty) stream
    else stream.filter(col("family").isin(families: _*) ||
      WalMeta.isMeta(col("family")))

  /** Tumbling-window analytics over the event stream (extension beyond
    * the reference — watermarked event-time aggregation). `tsNanos` is
    * the epoch-nanos event time. */
  def tumblingCounts(stream: DataFrame, window: String = "1 hour"): DataFrame =
    stream
      .withColumn("ets", Cellify.tsUtc(col("ts")))
      .groupBy(org.apache.spark.sql.functions.window(col("ets"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Stream-stream interval join: click→purchase attribution within
    * `within`, per user — the two-unbounded-inputs join the reference
    * cannot express. Both sides carry a watermark, so Spark bounds the
    * join state to watermark + interval (state is evicted as event time
    * advances — the property that keeps a perpetual attribution
    * pipeline at O(window), not O(stream)). Inner joins emit matches as
    * they arrive; event time is µs-truncated epoch time, so the batch
    * oracle's epoch_us arithmetic sees identical boundaries. */
  def clickAttribution(stream: DataFrame, within: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame = {
    val base = stream.withColumn("ets", Cellify.tsUtc(col("ts")))
    val clicks = base.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ets").as("ct"))
      .withWatermark("ct", watermark)
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ets").as("pt"))
      .withWatermark("pt", watermark)
    clicks
      .join(purchases,
        col("user_id") === col("p_user") &&
          col("pt") >= col("ct") &&
          col("pt") <= col("ct") + expr(s"INTERVAL $within"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("pt")) - unix_micros(col("ct"))).as("lag_us"))
  }

  /** Run a streaming aggregation to completion over the current log
    * contents (Trigger.AvailableNow + in-memory sink) and return the
    * materialized result — the batch-equivalence harness for Q34.
    * `mode` is "complete" for aggregations, "append" for joins.
    *
    * Stateful operators instantiate one state store per shuffle
    * partition per store kind (a stream-stream join keeps FOUR per
    * partition), and every micro-batch commits each store — for a
    * bounded harness run that fixed cost dwarfs the data (32 -> 4
    * partitions is 6x wall-clock on q60). So the stream runs in a child
    * session pinned to `statePartitions`, never touching the caller's
    * conf, and its result is bound back to the caller's session, where
    * anything stacked on it plans at the caller's count. A perpetual
    * stream instead sizes this to throughput at stream START (the first
    * checkpoint fixes state partitioning). */
  def runAvailableNow(agg: DataFrame, queryName: String,
      mode: String = "complete", statePartitions: Int = 8): DataFrame = {
    val child = streamSession(agg.sparkSession, statePartitions)
    val run = runName(queryName)
    // the sink's temp view goes: the returned plan holds the rows itself
    try {
      runBounded(run)(ck => shim.ofRows(child, agg.queryExecution.analyzed)
        .writeStream.format("memory").queryName(run)
        .option("checkpointLocation", ck).outputMode(mode))
      shim.ofRows(agg.sparkSession, child.table(run).queryExecution.analyzed)
    } finally { child.catalog.dropTempView(run); () }
  }

  /** One child session per (caller, state partitions), reused: every
    * session that starts a stream keeps a listener on the SparkContext. */
  private val streamSessions =
    new java.util.WeakHashMap[SparkSession, Map[Int, SparkSession]]()

  private[graft] def streamSession(spark: SparkSession, statePartitions: Int)
      : SparkSession = streamSessions.synchronized {
    val byCount = streamSessions.getOrDefault(spark, Map.empty)
    byCount.getOrElse(statePartitions, {
      // own SQL conf and temp views over the caller's SparkContext
      val child = spark.newSession()
      child.sessionState.conf.setConfString(
        "spark.sql.shuffle.partitions", statePartitions.toString)
      streamSessions.put(spark, byCount + (statePartitions -> child))
      child
    })
  }

  /** Unique per run: concurrent runs share no query name, view or
    * checkpoint. */
  private def runName(queryName: String): String =
    s"${queryName}_${java.util.UUID.randomUUID().toString.take(8)}"

  /** Run the stream `writer` builds around a checkpoint dir until the
    * AvailableNow trigger drains it; however it ends, stop the query
    * and delete the checkpoint. */
  private def runBounded(run: String)(writer: String => DataStreamWriter[_]): Unit = {
    // offset/commit logs on tmpfs when available: the bounded
    // availableNow run needs durability only for the run itself, and
    // checkpoint fsyncs are a fifth of its wall-clock on disk
    val ckBase = if (new java.io.File("/dev/shm").canWrite) "/dev/shm"
      else sys.props("java.io.tmpdir")
    val ckDir = java.nio.file.Paths.get(s"$ckBase/graft-ck/$run")
    try {
      val q = writer(ckDir.toString).trigger(Trigger.AvailableNow()).start()
      // stopping a finished query would log a cancel warning for its jobs
      try q.awaitTermination() finally if (q.isActive) q.stop()
    } finally // best-effort: never fail a good run or mask a failed one's error
      try graft.Queries.deleteTree(ckDir)
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
  }

  /** Streaming incremental-backup sink: every micro-batch of the WAL
    * data slice lands as comparator-sorted HFile-v3 region files under
    * `outDir/epoch=<batchId>/` — the reference's incremental backup
    * shape (WALs → HFileOutputFormat2 store files,
    * `hbase-backup/.../mapreduce/MapReduceBackupCopyJob.java`) with
    * graft's byte-faithful writer inside. Delete-then-write of the
    * whole epoch directory makes re-delivery idempotent: a restarted
    * stream that replays a batch rewrites the same epoch in place
    * (same policy as the DedupIndex epoch gate). META-family marker
    * entries are excluded — they describe regions, not cells
    * (WALEdit.METAFAMILY contract), exactly like applyBatch.
    * Runs the bounded AvailableNow form, like [[runAvailableNow]]. */
  def hfileBackupSink(cells: DataFrame, outDir: String, numRegions: Int,
      queryName: String, encoding: Int = 0, compression: Int = 2): Unit =
    runBounded(runName(queryName)) { ck =>
      cells.writeStream
        .foreachBatch { (batch: DataFrame, epochId: Long) =>
          val dir = s"$outDir/epoch=$epochId"
          val p = new org.apache.hadoop.fs.Path(dir)
          val fs = p.getFileSystem(
            batch.sparkSession.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.delete(p, true)
          graft.flow.HFiles.export(WalMeta.dataOnly(batch), numRegions, dir,
            encoding = encoding, compression = compression)
        }
        .option("checkpointLocation", ck)
    }

  /** Same-coordinate conflict resolution of the sink, batch form: the
    * entry with the highest WAL sequence id wins (the reference's
    * per-region sequenceId ordering, serial-peer mode —
    * ReplicationSourceManager); without a seq column, value ordering
    * keeps the winner deterministic — an arbitrary dropDuplicates
    * winner would let a replica diverge from its source on
    * double-writes at one timestamp. type is part of the identity: a
    * Put and a tombstone may share (row,family,qualifier,ts) — both
    * must replicate. One shuffle on the cell coordinates; at 100 TB
    * this is the same key the cell store is bucketed on, so the
    * exchange disappears against a stored target. */
  def applyBatch(batch: DataFrame, seqCol: Option[String] = None): DataFrame = {
    val ord = seqCol.map(col).getOrElse(col("value"))
    // meta markers never land as table cells (WALEdit.isMetaEdit guard
    // in the reference's ReplicationSink.replicateEntries)
    WalMeta.dataOnly(batch)
      .groupBy("row", "family", "qualifier", "ts", "type")
      .agg(max_by(col("value"), ord).as("value"))
  }

  /** Bulk-load replication — the HFileReplicator half of the sink
    * (HBASE-13153: ReplicationSink.replicateEntries splits out
    * bulk-load descriptors and HFileReplicator copies + loads the
    * named store files when hbase.replication.bulkload.enabled). A
    * bulk load lands store files with NO per-cell WAL entries — only
    * the BULK_LOAD descriptor names them — so a peer that applies WAL
    * cells alone silently misses every bulk-loaded cell. This reads
    * the batch's descriptors (driver-side collect: markers are
    * metadata, one row per bulk-load EVENT, never data-sized) and
    * imports the referenced store files as cells — one task per file,
    * the peer reads ONLY what the descriptor names.
    *
    * Degrades per-file like the reference's copy loop: a named file
    * that has vanished (retired by a source-side compaction before the
    * batch applied — the race ReplicationHFileCleaner exists to
    * prevent; see [[WalMeta.stageBulkLoadFiles]] for the staging fix
    * and [[graft.flow.PWalFiles.pendingBulkLoadRefs]] for the cleaner
    * guard) is reported through `onMissing` and skipped instead of
    * failing the whole replication batch permanently. */
  def replicateBulkLoads(batch: DataFrame,
      onMissing: Seq[String] => Unit = _ => ()): DataFrame = {
    val spark = batch.sparkSession
    val files = WalMeta.metaOnly(batch)
      .filter(col("qualifier") === WalMeta.BulkLoad)
      .select("value").distinct().collect()
      .flatMap(r => Option(r.getString(0)))
      .flatMap(WalMeta.bulkLoadFilesOf)
      .distinct.toSeq.sorted
    if (files.isEmpty) WalMeta.dataOnly(batch).limit(0)
    else {
      val fs = new org.apache.hadoop.fs.Path(files.head)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val (present, missing) = files.map { f =>
        f -> scala.util.Try(
          fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen)
      }.partition(_._2.isSuccess)
      if (missing.nonEmpty) onMissing(missing.map(_._1))
      if (present.isEmpty) WalMeta.dataOnly(batch).limit(0)
      else graft.flow.HFiles.importFiles(spark,
        present.map { case (f, len) => (f, len.get) })
    }
  }

  /** [[applyBatch]] with bulk-load replication enabled — the full
    * ReplicationSink. Bulk-loaded cells enter the same conflict
    * resolution as arriving WAL cells; under serial ordering they rank
    * below any sequenced WAL write at the same coordinates (bulk loads
    * carry no WAL sequence in the reference either). */
  def applyBatchWithBulkLoads(batch: DataFrame,
      seqCol: Option[String] = None): DataFrame = {
    val bulk = replicateBulkLoads(batch)
    val bulkSeq = seqCol.fold(bulk)(sc =>
      bulk.withColumn(sc, lit(Long.MinValue)))
    applyBatch(WalMeta.dataOnly(batch).unionByName(bulkSeq), seqCol)
  }

  /** Exactly-once apply: the ReplicationSink analogue
    * (replication/regionserver/ReplicationSink.java). Each micro-batch
    * is appended idempotently through [[applyBatch]]'s conflict
    * resolution. */
  def applySink(cellStream: DataFrame, checkpointDir: String, outDir: String,
      seqCol: Option[String] = None): DataStreamWriter[org.apache.spark.sql.Row] =
    cellStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // idempotent under retries: each micro-batch owns a batch_id
        // partition and OVERWRITES it, so a replayed batch (crash
        // between sink write and checkpoint commit) cannot double-apply.
        // batch_id surfaces on read as the sequence-id analogue of the
        // reference's per-region WAL ordering.
        applyBatch(batch, seqCol)
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }

  /** Session windows per key (30-min-gap style), streaming form.
    * Batch twin: gaps-and-islands (see StreamQueries.q35). */
  def sessionCounts(stream: DataFrame, gap: String = "30 minutes"): DataFrame =
    stream
      .withColumn("ets", Cellify.tsUtc(col("ts")))
      .groupBy(session_window(col("ets"), gap), col("user_id"))
      .agg(count(lit(1)).as("events"))
}
