package graftbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.flow.HFiles
import graft.model.{CellSchema, CellType}
import graft.read.{GTable, Resolve}
import graft.stream.WalStream
import graft.write.{BucketedStore, Mutations}

/** Seeded mutation batches on the write path. Each batch mixes Puts, all
  * four delete kinds, an increment fold and a check-and-mutate; it lands as
  * a new bucketed table, is appended to a WAL log and replayed into a
  * replica by a bounded stream run, and is read back with Gets. Every few
  * batches the table is exported as HFiles and imported back.
  *
  * The op stream is a cycle per batch: commit, replay, two read-your-writes
  * checks (rows the batch put; rows it deleted, incremented or guarded) and
  * a bulk load. */
final class WriteCdc(args: Args) {
  import WriteCdc._
  import ReadMix.digest

  private val nRows: Int = Inputs.lines(args, "cdc.txt").head.trim.toInt
  private var env: Env = _
  private var batch = 0
  private var table: String = _
  private var step = 0
  private var putRows: Seq[String] = Nil
  private var otherRows: Seq[String] = Nil
  private var drift = 0

  private def spark: SparkSession = env.spark
  private def walDir = s"${env.scratch}/wal"
  private def replicaDir = s"${env.scratch}/replica"
  private def ckDir = s"${env.scratch}/checkpoint"

  def setup(e: Env): Unit = {
    env = e
    batch = 0
    step = 0
    table = s"primary_${e.rep}_0"
    env.phase("land") {
      val base = spark.read.parquet(s"${e.inputs}/base.parquet")
      BucketedStore.write(base, table, s"${e.scratch}/$table", buckets = Buckets)
      appendWal(base, 0)
      replay(replayWriter())
    }
  }

  private def user(cell: (String, String, Long, String, String)): Row =
    Row(cell._1, "d", cell._2, cell._3, cell._4, cell._5)

  /** Land a batch's cells as one new file of the WAL log directory. */
  private def appendWal(cells: DataFrame, b: Int): Long = {
    val staging = s"${env.scratch}/wal-staging-$b"
    cells.coalesce(1).write.mode("overwrite").parquet(staging)
    new File(walDir).mkdirs()
    var bytes = 0L
    new File(staging).listFiles().filter(_.getName.startsWith("part-")).foreach { f =>
      bytes += f.length()
      java.nio.file.Files.move(f.toPath, new File(walDir, f"batch-$b%06d-${f.getName}").toPath)
    }
    deleteTree(new File(staging))
    bytes
  }

  /** Bounded replay of the WAL into the replica: the stream writer, whose
    * `start` runs every WAL file not yet replayed (AvailableNow). */
  private def replayWriter() =
    WalStream.applySink(WalStream.source(spark, walDir, CellSchema.schema), ckDir, replicaDir)
      .trigger(Trigger.AvailableNow())

  /** Run a replay and count any session-conf change it leaves behind. */
  private def replay(writer: org.apache.spark.sql.streaming.DataStreamWriter[Row]): Unit = {
    val before = Main.confSnapshot(spark)
    writer.start().awaitTermination()
    drift += Main.drift(before, Main.confSnapshot(spark))
  }

  private def primary: DataFrame = BucketedStore.read(spark, table)

  private def replica: DataFrame =
    Resolve.latest(spark.read.parquet(replicaDir).drop("batch_id"))

  private def digestOf(df: DataFrame): (Long, Long) = {
    val r = digest(df).collect().head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def next(rng: Random): Op = {
    val op = step match {
      case 0 => commit(rng)
      case 1 => replayOp()
      case 2 => verifyGet(putRows)
      case 3 => verifyGet(otherRows)
      case _ => bulkLoad()
    }
    step = (step + 1) % Steps
    op
  }

  private def key(rng: Random): String = f"${rng.nextInt(nRows)}%010d"

  private def commit(rng: Random): Op = {
    batch += 1
    val b = batch
    val tB = 10L * b
    // puts: unique (row, qualifier) per batch, newer than every delete
    val puts = mutable.LinkedHashMap.empty[(String, String), String]
    while (puts.size < PutsPerBatch) {
      val q = Seq("a", "b", "status")(rng.nextInt(3))
      val v = if (q == "status") Statuses(rng.nextInt(3)) else s"v${rng.nextInt(1000000)}"
      puts((key(rng), q)) = v
    }
    val dcol = Seq.fill(5)((key(rng), Seq("a", "b")(rng.nextInt(2))))
    val dver = Seq.fill(5)((key(rng), Seq("a", "b", "status")(rng.nextInt(3))))
    val dfam = Seq.fill(2)(key(rng))
    val dfamv = Seq.fill(2)(key(rng))
    val incs = Seq.fill(30)((f"${rng.nextInt(HotRows)}%010d", 1 + rng.nextInt(10)))
    val cam = Seq.fill(10)(key(rng)).distinct
    val cells: Seq[Row] =
      puts.toSeq.map { case ((r, q), v) => user((r, q, tB + 5, CellType.Put, v)) } ++
        dcol.map { case (r, q) => user((r, q, tB, CellType.DeleteColumn, null)) } ++
        dver.map { case (r, q) => user((r, q, 1L, CellType.Delete, null)) } ++
        dfam.map(r => user((r, "", tB, CellType.DeleteFamily, null))) ++
        dfamv.map(r => user((r, "", 1L, CellType.DeleteFamilyVersion, null)))
    val params = Json.obj("batch" -> b,
      "puts" -> puts.toSeq.map { case ((r, q), v) => Seq(r, q, v) },
      "delete_column" -> dcol.map { case (r, q) => Seq(r, q) },
      "delete" -> dver.map { case (r, q) => Seq(r, q) },
      "delete_family" -> dfam, "delete_family_version" -> dfamv,
      "increments" -> incs.map { case (r, d) => Seq(r, d) }, "check_and_mutate" -> cam)
    putRows = puts.keys.map(_._1).toSeq.distinct.take(4)
    otherRows = (dcol.map(_._1).take(1) ++ dver.map(_._1).take(1) ++ dfam.take(1) ++
      dfamv.take(1) ++ incs.map(_._1).take(1) ++ cam.take(1)).distinct
    val nextTable = s"primary_${env.rep}_$b"
    Op("write.commit", params, () => {
      val s = spark
      import s.implicits._
      val state = primary
      val direct = spark.createDataFrame(spark.sparkContext.parallelize(cells, 1),
        CellSchema.schema)
      // increment: fold the deltas per row, add the current counter value
      val folded = Mutations.incrementFold(incs.toDF("row", "delta"), Seq(col("row")),
        col("delta"))
      val counters = folded.as("f")
        .join(state.filter(col("qualifier") === "cnt").as("s"), Seq("row"), "left")
        .select(Mutations.putCell(col("row"), "d", "cnt", lit(tB + 6),
          (coalesce(col("s.value").cast("long"), lit(0L)) + col("f.value")).cast("string")): _*)
      // check-and-mutate: rows whose status is 'hold' get a flag cell
      val candidates = state.filter(col("row").isin(cam: _*))
      val flags = Mutations.checkAndMutate(candidates,
          Mutations.Guard("d", "status", col("value") === "hold"),
          rows => rows.unionByName(rows.select("row").distinct()
            .select(Mutations.putCell(col("row"), "d", "flag", lit(tB + 7), lit(s"b$b")): _*)))
        .filter(col("qualifier") === "flag" && col("ts") === tB + 7)
      // cached: the new table and the WAL file are both written from it
      val m = direct.unionByName(counters).unionByName(flags).persist()
      val next = Mutations.mergeLatest(state, m)
      next.queryExecution.executedPlan
      () => {
        try {
          BucketedStore.write(next, nextTable, s"${env.scratch}/$nextTable", buckets = Buckets)
          val acc = m.select(count(lit(1)), sum(length(col("row")) + length(col("family")) +
            length(col("qualifier")) + lit(8) + length(col("type")) +
            coalesce(length(col("value")), lit(0)))).head()
          val (n, userBytes) = (acc.getLong(0), acc.getLong(1))
          val walBytes = appendWal(m, b)
          val old = table
          table = nextTable
          spark.sql(s"DROP TABLE IF EXISTS $old")
          deleteTree(new File(s"${env.scratch}/$old"))
          val landed = dirBytes(new File(s"${env.scratch}/$nextTable")) + walBytes
          Outcome(Json.obj("cells" -> n, "landed_bytes" -> landed, "user_bytes" -> userBytes),
            n, n)
        } finally m.unpersist()
      }
    })
  }

  private def replayOp(): Op =
    Op("stream.replay", Json.obj("batch" -> batch), () => {
      val writer = replayWriter()
      () => {
        replay(writer)
        // the replica is listed only now, after the replay wrote it
        val (n, h) = digestOf(replica)
        val (pn, ph) = digestOf(primary)
        if ((n, h) != (pn, ph))
          throw new IllegalStateException(s"replica ($n, $h) != primary ($pn, $ph)")
        Outcome(Json.obj("n" -> n, "h" -> h), n, n)
      }
    })

  private def verifyGet(keys: Seq[String]): Op = {
    ReadMix.collectOp("write.verify_get", Json.obj("batch" -> batch, "keys" -> keys), () => {
      val s = spark
      import s.implicits._
      GTable.multiGet(primary, keys.toDF("row"))
    })
  }

  private def bulkLoad(): Op =
    Op("flow.bulkload", Json.obj("batch" -> batch), () => {
      val dir = s"${env.scratch}/hfiles-$batch"
      val state = primary
      state.queryExecution.executedPlan
      () => {
        HFiles.export(state, 2, dir)
        val (n, h) = digestOf(HFiles.importCells(spark, dir))
        val bytes = dirBytes(new File(dir))
        deleteTree(new File(dir))
        Outcome(Json.obj("n" -> n, "h" -> h, "bytes" -> bytes), n, n)
      }
    })

  def confDrift: Int = drift

  /** Whether the next op commits a new batch. */
  def atCycleStart: Boolean = step == 0

  def extras(traced: Seq[Rec]): Seq[(String, Double)] = {
    def field(r: Rec, k: String): Double =
      s""""$k":(\\d+)""".r.findFirstMatchIn(r.result).map(_.group(1).toDouble).getOrElse(0.0)
    val commits = traced.filter(r => r.ok && r.kind == "write.commit")
    val loads = traced.filter(r => r.ok && r.kind == "flow.bulkload")
    (if (commits.isEmpty) Nil else Seq("write.bytes_per_user_byte" ->
      commits.map(field(_, "landed_bytes")).sum / commits.map(field(_, "user_bytes")).sum.max(1.0))) ++
      (if (loads.isEmpty) Nil else Seq("flow.bulkload.bytes_per_cell" ->
        loads.map(field(_, "bytes")).sum / loads.map(field(_, "n")).sum.max(1.0)))
  }
}

object WriteCdc {
  /** Ops per batch cycle. */
  val Steps = 5
  val Buckets = 2
  val PutsPerBatch = 60
  /** Increments go to the first HotRows rows. */
  val HotRows = 200
  val Statuses = Seq("hold", "open", "done")

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
      .map(dirBytes).sum

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
