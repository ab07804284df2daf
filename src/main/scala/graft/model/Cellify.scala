package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types.StringType

/** Relational table → canonical CellSet transposition.
  *
  * The reference's data model is a sorted multi-version cell map; a
  * relational row becomes one cell per column, all sharing the row key
  * (SURVEY.md §1). This module builds the deterministic cellified
  * fixtures of FIXTURES.md §2 as *lazy* DataFrames — pure column
  * transformations over the driver parquet, so Catalyst can pipeline
  * them into downstream plans (no materialization step is required,
  * and at scale the explode is map-side only: no shuffle).
  */
object Cellify {

  /** Canonical value rendering: doubles as fixed-point strings,
    * timestamps as UTC seconds — deterministic across engines. */
  def money(c: Column): Column = format_string("%.2f", c)
  def dbl4(c: Column): Column  = format_string("%.4f", c)
  def tsStr(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Exact integral epoch-nanos → epoch-micros. `/` on longs is DOUBLE
    * division in Spark SQL — at 1.7e18 ns that loses µs precision
    * (2^53 ≈ 9e15), so divide in decimal and truncate. */
  def nsToUs(c: Column): Column =
    (c.cast("decimal(20,0)") / 1000).cast("long")

  /** Event-time as micros TimestampType from an epoch-nanos long
    * (truncation matches DuckDB's ns→µs parquet read). */
  def tsUtc(c: Column): Column =
    timestamp_micros(nsToUs(c))

  /** Transpose one DataFrame row into `quals.size` Put cells.
    * Map-side only (explode of a literal-built array — no shuffle). */
  def cellify(
      df: DataFrame,
      rowKey: Column,
      family: String,
      quals: Seq[(String, Column)],
      ts: Column = lit(1L)
  ): DataFrame = {
    val cellArr = array(quals.map { case (q, v) =>
      struct(lit(q).as("qualifier"), v.cast(StringType).as("value"))
    }: _*)
    df.select(
        rowKey.as("row"),
        lit(family).as("family"),
        explode(cellArr).as("cell"),
        ts.as("ts")
      )
      .select(
        col("row"),
        col("family"),
        col("cell.qualifier").as("qualifier"),
        col("ts"),
        lit(CellType.Put).as("type"),
        col("cell.value").as("value")
      )
  }

  /** Zero-padded ASCII row key: string order == reference byte order.
    * Keys longer than `len` raise instead of silently TRUNCATING (lpad
    * truncates!) — a truncated key would collide and corrupt ordering. */
  def padKey(c: Column, len: Int = 10): Column = {
    val s = c.cast(StringType)
    when(length(s) > len,
      raise_error(concat(lit(s"padKey: key longer than $len chars: "), s)))
      .otherwise(lpad(s, len, "0"))
  }
}

/** Parquet table loading with scan-parallelism repair.
  *
  * The driver fixture files are single-row-group parquet, so Spark's
  * byte-range file splitting yields ONE scan partition per table and
  * all map-side work (cellify explode, hashing, regex) runs on one
  * core. At production scale inputs have many row groups / files and
  * Spark splits them naturally (≅ one split per HBase region,
  * TableInputFormatBase.java:229); `load` repairs only the
  * pathologically under-split case with a round-robin rebalance.
  * Filters still reach the parquet scan — Catalyst pushes predicates
  * below the exchange — so the shuffle carries only surviving rows.
  */
object Tables {
  def load(spark: SparkSession, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val reader = schema.fold(spark.read)(spark.read.schema)
    val df = reader.parquet(path)
    val target = spark.sparkContext.defaultParallelism
    // Hash-repartition on the leading (id) column: a plain exchange.
    // Round-robin repartition() would local-sort every row first for
    // retry determinism (SPARK-23207) — pure overhead here.
    // Estimated split count = relation bytes / maxPartitionBytes (the
    // same arithmetic FilePartition packing uses), clamped below by
    // the file count — no RDD lineage materialized per load (df.rdd
    // would), and a big many-row-group single file is not punished
    // with a pointless shuffle the way a file-count proxy would.
    val maxSplit = BigInt(spark.sessionState.conf.filesMaxPartitionBytes.max(1L))
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes.max(BigInt(0))
    val estSplits = ((bytes + maxSplit - 1) / maxSplit).max(1).min(1 << 20).toInt
    if (math.max(estSplits, df.inputFiles.length) < target / 2)
      df.repartition(target, col(df.columns.head))
    else df
  }
}

/** The materialized canonical cell store. The reference *stores* its
  * tables in cell form (MemStore + HFiles); graft's cellified tables
  * are the same canonical layout, derived here from the driver's
  * row-oriented parquet. Deriving them is a load-time job, not a
  * per-query one — so each (session, sf, table) is materialized once:
  * the build runs when the store is first asked for, and its result is
  * cached (memory-and-disk, filled by the first action over it) as a
  * plain scan that keeps the build's partitioning and ordering
  * ([[shim.cachedRun]]). Every query plans
  * against the in-memory columnar store, exactly how a deployment would
  * write the cell store once as bucketed parquet and query that, and a
  * read that needs no exchange plans no adaptive stages. Raw row tables
  * (`Tables.load`) stay uncached so parquet filter pushdown is
  * preserved where the scan IS the query.
  */
object CellStore {
  /** One store of one session, built at most once: the first caller
    * builds it and concurrent ones wait for that build. */
  private final class Entry(val spark: SparkSession, build: () => DataFrame) {
    lazy val df: DataFrame =
      shim.cachedRun(build(), org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  private val cache = scala.collection.concurrent.TrieMap.empty[(Int, String, String), Entry]

  def materialize(spark: SparkSession, name: String, sfDir: String)(
      build: => DataFrame): DataFrame = {
    // drop entries of stopped sessions (their persisted blocks are gone
    // with the session; keeping them would leak map entries forever and
    // an identityHashCode reused by a new session could serve a frame
    // bound to the dead one)
    cache.filterInPlace { case (_, e) => !e.spark.sparkContext.isStopped }
    val mine = new Entry(spark, () => build)
    cache.putIfAbsent((System.identityHashCode(spark), name, sfDir), mine) match {
      case Some(e) if e.spark eq spark => e.df
      case _ => mine.df
    }
  }
}

/** The deterministic cellified fixtures of FIXTURES.md §2, derived from
  * the driver parquet tables at `sfDir`. Each has an equivalent DuckDB
  * CTE in [[graft.oracle.Cte]] — both sides must stay in lockstep.
  */
object Fixtures {
  import Cellify._

  /** The orders five-qualifier cell mapping, in qualifier order — ONE
    * definition shared by cells_orders and the mutated replica fixture,
    * so a qualifier change cannot desynchronize them and surface as
    * phantom Q29/Q30 diff classes. */
  private def ordersQuals: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "o_custkey"       -> col("o_custkey"),
    "o_orderdate"     -> tsStr(col("o_orderdate")),
    "o_orderpriority" -> col("o_orderpriority"),
    "o_orderstatus"   -> col("o_orderstatus"),
    "o_totalprice"    -> money(col("o_totalprice"))
  )

  /** Hash layout for a materialized cell table: hash-partitioned on
    * the row key and sorted within partitions on the cell coordinate.
    * Row-keyed joins, windows and groupBys satisfy their
    * ClusteredDistribution from the cache (partitioning on a SUBSET of
    * the keys clusters the superset), and two tables hashed on the same
    * key into the same count are co-partitioned, so a join between them
    * (the sync/verify diffs) plans with no exchange. */
  private def hashLayout(df: DataFrame, key: Column, sort: Column*): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)
      .sortWithinPartitions(sort: _*)

  /** Region layout for a cell table built from a narrow source, the
    * HBase layout: each partition holds one contiguous range of row keys
    * (a region) in cell order (an HFile). The source rows are
    * range-partitioned and sorted on their row key BEFORE they explode
    * into cells, so the split-point sampling and the sort read one
    * narrow row per table row, and `cellify` then emits each row's
    * cells in qualifier order. Row-keyed groupBys, windows and the
    * resolve pass satisfy their ClusteredDistribution(row) from the
    * cache, and forward scans over it sort locally
    * ([[graft.read.Resolve.rowRanged]]). Spark never co-partitions two
    * range layouts, so a join of this table with another re-exchanges
    * one side. */
  private def rangeLayout(df: DataFrame, key: String): DataFrame =
    df.repartitionByRange(df.sparkSession.sparkContext.defaultParallelism, col(key))
      .sortWithinPartitions(key)

  def orders(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, s"$sfDir/orders.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, s"$sfDir/lineitem.parquet")

  /** events.ts ships as parquet TIMESTAMP — the driver has generated
    * both TIMESTAMP(NANOS) and TIMESTAMP(MICROS) variants across
    * rounds. Read it as raw LongType via an explicit schema (NANOS is
    * rejected by the vectorized TimestampType reader anyway), then
    * normalize to epoch-nanos with the footer-derived multiplier
    * ([[eventsTsNanosMult]]) so every downstream consumer sees one
    * unit. `tsUtc` derives a micros TimestampType column when
    * event-time semantics are needed (truncation matches DuckDB's
    * ns→µs read). */
  val eventsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", LongType), // epoch nanos
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)
    ))
  }

  /** ts-unit multiplier to epoch-nanos for a parquet file's `ts`
    * column, read from the footer's logical type (one driver-side
    * footer read, memoized per path). Plain INT64 (our own WAL logs)
    * is already nanos → 1. */
  // path → (probed file's mtime, multiplier): ONE entry per path — a
  // regeneration replaces the entry instead of accumulating stale keys
  private val tsMultMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  def eventsTsNanosMult(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(hp).isDirectory) {
        val parts = fs.listStatus(hp).map(_.getPath)
          .filter(_.getName.endsWith(".parquet"))
        require(parts.nonEmpty, s"no .parquet files under $path to " +
          "probe the ts unit from")
        parts.minBy(_.getName.toString)
      } else hp
    // the memo entry is validated against the probed file's mtime: the
    // driver regenerates the fixtures between rounds, and a
    // NANOS↔MICROS flip under a live session must not serve the stale
    // multiplier
    val mtime = fs.getFileStatus(file).getModificationTime
    tsMultMemo.compute(path, { (_, prev) =>
      if (prev != null && prev._1 == mtime) prev
      else {
        import org.apache.parquet.hadoop.ParquetFileReader
        import org.apache.parquet.hadoop.util.HadoopInputFile
        import org.apache.parquet.schema.LogicalTypeAnnotation
        val reader =
          ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
        val mult =
          try {
            reader.getFileMetaData.getSchema.getType(Seq("ts"): _*)
              .getLogicalTypeAnnotation match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                t.getUnit match {
                  case LogicalTypeAnnotation.TimeUnit.NANOS  => 1L
                  case LogicalTypeAnnotation.TimeUnit.MICROS => 1000L
                  case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000000L
                }
              case _ => 1L
            }
          } finally reader.close()
        (mtime, mult)
      }
    })._2
  }

  /** The raw events frame with `ts` normalized to epoch-nanos —
    * EVERY reader of events.parquet must come through here (or apply
    * [[eventsTsNanosMult]] itself) so unit drift in the driver's
    * generator cannot skew time-range semantics. */
  def eventsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    val mult = eventsTsNanosMult(spark, path)
    val df = Tables.load(spark, path, Some(eventsSchema))
    if (mult == 1L) df else df.withColumn("ts", col("ts") * lit(mult))
  }

  def events(spark: SparkSession, sfDir: String): DataFrame =
    CellStore.materialize(spark, "events", sfDir)(
      hashLayout(
        eventsRaw(spark, sfDir),
        col("user_id"), col("user_id"), col("ts"), col("event_id")))

  /** cells_orders — single-version cell view of `orders`, in the
    * region layout ([[rangeLayout]]): the store the read path serves. */
  def cellsOrders(spark: SparkSession, sfDir: String): DataFrame =
    CellStore.materialize(spark, "cells_orders", sfDir) {
    // the one parquet scan feeds the range exchange directly: the
    // exchange spreads the cellify work, so `Tables.load`'s parallelism
    // repair would only add a shuffle
    val narrow = spark.read.parquet(s"$sfDir/orders.parquet").select(
      padKey(col("o_orderkey")).as("row") +: ordersQuals.map { case (q, v) => v.as(q) }: _*)
    cellify(
      rangeLayout(narrow, "row"),
      rowKey = col("row"),
      family = "d",
      quals = ordersQuals.map { case (q, _) => q -> col(q) }
    )
  }

  /** cells_events_v — multi-version + tombstone fixture from `events`.
    *
    * Per user: first 5 events by (ts, event_id) become versions ts=1..5
    * of qualifiers event_type/value/props. Deterministic tombstones:
    * user_id%7==0 → DeleteColumn(d,value,ts=3); %13==0 →
    * DeleteFamily(ts=2); %17==0 → Delete(d,props,ts=4).
    */
  def cellsEventsV(spark: SparkSession, sfDir: String): DataFrame =
    CellStore.materialize(spark, "cells_events_v", sfDir) {
    import org.apache.spark.sql.expressions.Window
    val e = events(spark, sfDir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val versioned = e
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= 5)
    val puts = cellify(
      versioned,
      rowKey = padKey(col("user_id")),
      family = "d",
      quals = Seq(
        "event_type" -> col("event_type"),
        "value"      -> dbl4(col("value")),
        "props"      -> col("props")
      ),
      ts = col("r").cast("long")
    )
    // All three deterministic tombstone kinds in ONE pass over the
    // distinct user set (one shuffle; the per-kind branches would each
    // re-scan and re-distinct the events table).
    def t(pred: Column, qual: String, ts: Long, typ: String): Column =
      when(pred, struct(lit(qual).as("qualifier"), lit(ts).as("ts"), lit(typ).as("type")))
    val tombs = e
      .select(col("user_id"))
      .distinct()
      .select(padKey(col("user_id")).as("row"),
        explode(filter(array(
          t(col("user_id") % 7 === 0, "value", 3L, CellType.DeleteColumn),
          t(col("user_id") % 13 === 0, "", 2L, CellType.DeleteFamily),
          t(col("user_id") % 17 === 0, "props", 4L, CellType.Delete)
        ), x => x.isNotNull)).as("t"))
      .select(
        col("row"),
        lit("d").as("family"),
        col("t.qualifier").as("qualifier"),
        col("t.ts").as("ts"),
        col("t.type").as("type"),
        lit(null).cast(StringType).as("value")
      )
    hashLayout(puts.unionByName(tombs),
      col("row"), col("row"), col("family"), col("qualifier"), col("ts").desc)
  }

  /** cells_orders_mut — deterministically mutated copy of cells_orders
    * for the SyncTable/VerifyReplication diff jobs (Q29–Q30):
    * every 19th row dropped, every 11th row's o_totalprice perturbed,
    * 500 re-keyed copies (key+1e9 of keys < 500) added.
    */
  def cellsOrdersMut(spark: SparkSession, sfDir: String): DataFrame =
    CellStore.materialize(spark, "cells_orders_mut", sfDir) {
    val o    = orders(spark, sfDir)
    val base = cellsOrders(spark, sfDir)
      .withColumn("k", col("row").cast("long"))
      .filter(col("k") % 19 =!= 0)
      .withColumn(
        "value",
        when(col("k") % 11 === 0 && col("qualifier") === "o_totalprice",
             concat(col("value"), lit("_mut"))).otherwise(col("value"))
      )
      .drop("k")
    val extra = cellify(
      o.filter(col("o_orderkey") < 500),
      rowKey = padKey(col("o_orderkey") + 1000000000L),
      family = "d",
      quals = ordersQuals
    )
    hashLayout(base.unionByName(extra),
      col("row"), col("row"), col("family"), col("qualifier"))
  }

  /** chain — ITBLL-style linked list with deterministic broken links
    * (reference: IntegrationTestBigLinkedList.java:215,273). Nodes
    * 0..9999 chained prev=id-1; every node with id%997==0 is missing,
    * so its successor's prev dangles.
    */
  def chain(spark: SparkSession): DataFrame =
    CellStore.materialize(spark, "chain", "") {
    import spark.implicits._
    spark
      .range(10000)
      .select(
        col("id"),
        when(col("id") === 0, lit(null).cast("long")).otherwise(col("id") - 1).as("prev"),
        Cellify.padKey(col("id"), 16).as("rowkey")
      )
      .filter(col("id") % 997 =!= 0)
  }
}
