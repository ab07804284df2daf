package graft

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col

import graft.codec.{BlockEncoding, HFileV3}
import graft.codec.HFileV3.HCell
import graft.filter.ParseFilter
import graft.model.Fixtures
import graft.read.{GScan, GTable}

/** Diagnostic (dev-only, not a declared surface) micro harness.
  *
  * Codec case: single-threaded HFileV3 encode/decode throughput — the
  * per-cell codec cost that underlies q113/q85/q99/q101 and the
  * c-suite. Prints cells/s per phase; rep 1 absorbs JIT, read the last
  * rep. Args: [nCells] [reps] (defaults 1000000 3).
  *
  * Resolve case: the resolve pass's per-read cost over the
  * `cells_orders` store of an SF directory. Args: `resolve <sfDir>
  * [rounds]` (default 60).
  */
object ProfileCodec {
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("resolve"))
      resolve(args(1), if (args.length > 2) args(2).toInt else 60)
    else codec(args)

  /** Steady-state build / plan / exec medians (ms) of a Get and a
    * 100-row scan, each through GTable and as the same cells filtered
    * and locally sorted with no pass, and of an SCVF-filtered 100-row
    * scan and a 50-key multi-get through GTable, over one materialized
    * store. Each round reads one drawn key (range) in all six forms, so
    * host noise lands on every form alike; the first third of the
    * rounds warms up and is not counted. A form whose cell count
    * differs from its no-pass twin fails the run. Each form's line says
    * whether its executed plan is adaptive. */
  private def resolve(sfDir: String, rounds: Int): Unit = {
    val spark = GraftSession.local()
    val cells = Fixtures.cellsOrders(spark, sfDir)
    cells.count()
    val rows = cells.select("row").distinct().orderBy("row").collect().map(_.getString(0))
    def noPass(p: Column): DataFrame = cells.filter(p).sortWithinPartitions(GTable.cellOrder(): _*)
    val scvf = ParseFilter.parse("SingleColumnValueFilter('d', 'o_orderstatus', =, 'binary:F')")
    import spark.implicits._
    val forms: Seq[(String, Int => DataFrame)] = Seq(
      "get.gtable" -> (i => GTable.get(cells, rows(i))),
      "get.nopass" -> (i => noPass(col("row") === rows(i))),
      "scan.gtable" -> (i => GTable.scan(cells, GScan().withRange(rows(i), rows(i + 100)))),
      "scan.nopass" -> (i => noPass(col("row") >= rows(i) && col("row") < rows(i + 100))),
      "fscan.gtable" -> (i => GTable.scanFiltered(cells, GScan().withRange(rows(i), rows(i + 100)), scvf)),
      "mget.gtable" -> (i => GTable.multiGet(cells, (i until i + 100 by 2).map(rows(_)).toDF("row"))))
    val warm = rounds / 3
    val times = forms.map(_._1 -> Array.fill(rounds - warm, 3)(0.0)).toMap
    val adaptive = scala.collection.mutable.Map.empty[String, Boolean]
    val rng = new scala.util.Random(7)
    (0 until rounds).foreach { r =>
      val i = rng.nextInt(rows.length - 100)
      val counts = forms.map { case (name, read) =>
        val t0 = System.nanoTime()
        val df = read(i)
        val t1 = System.nanoTime()
        adaptive(name) = df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec]
        val t2 = System.nanoTime()
        val n = df.collect().length
        val t3 = System.nanoTime()
        if (r >= warm) times(name)(r - warm) = Array(t1 - t0, t2 - t1, t3 - t2).map(_ / 1e6)
        name -> n
      }.toMap
      Seq("get", "scan").foreach(k => require(counts(s"$k.gtable") == counts(s"$k.nopass"),
        s"$k at row index $i: ${counts(s"$k.gtable")} cells through GTable, ${counts(s"$k.nopass")} with no pass"))
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    println(s"resolve case: ${cells.count()} cells, ${rounds - warm} rounds after $warm warmup")
    forms.foreach { case (name, _) =>
      val t = times(name)
      val Seq(build, plan, exec) = (0 until 3).map(j => median(t.map(_(j)).toSeq))
      println(f"  $name%-12s build $build%6.1f  plan $plan%6.1f  exec $exec%6.1f  total ${median(t.map(_.sum).toSeq)}%6.1f ms" +
        s"  adaptive ${adaptive(name)}")
    }
    spark.stop()
  }

  private def codec(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 1000000
    val reps = if (args.length > 1) args(1).toInt else 3
    val fam = "d".getBytes("UTF-8")
    val cells: IndexedSeq[HCell] = (0 until n).map { i =>
      val row = f"r${i / 3}%08d".getBytes("UTF-8")
      val qual = s"c${i % 3}".getBytes("UTF-8")
      val value = f"v$i%012d-payload".getBytes("UTF-8")
      HCell(row, fam, qual, 1000L + (i % 7), HFileV3.TypePut, value)
    }
    def time(label: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val out = body
      val s = (System.nanoTime() - t0) / 1e9
      println(f"  $label%-28s ${s}%7.3f s  ${n / s / 1000}%9.0f kcells/s  (chk $out)")
    }
    (1 to reps).foreach { rep =>
      println(s"===== rep $rep (n=$n) =====")
      var bytes4k: Array[Byte] = null
      var bytes64k: Array[Byte] = null
      var bytesFd: Array[Byte] = null
      time("write NONE bs=4096") {
        val bos = new ByteArrayOutputStream(64 << 20)
        HFileV3.write(bos, cells.iterator, blockSize = 4096)
        bytes4k = bos.toByteArray
        bytes4k.length.toLong
      }
      time("write NONE bs=65536") {
        val bos = new ByteArrayOutputStream(64 << 20)
        HFileV3.write(bos, cells.iterator, blockSize = 65536)
        bytes64k = bos.toByteArray
        bytes64k.length.toLong
      }
      time("write FAST_DIFF bs=65536") {
        val bos = new ByteArrayOutputStream(64 << 20)
        HFileV3.write(bos, cells.iterator, blockSize = 65536,
          encoding = BlockEncoding.IdFastDiff)
        bytesFd = bos.toByteArray
        bytesFd.length.toLong
      }
      time("read NONE bs=4096") {
        var k = 0L
        HFileV3.readCells(bytes4k).foreach(c => k += c.value.length)
        k
      }
      time("read NONE bs=65536") {
        var k = 0L
        HFileV3.readCells(bytes64k).foreach(c => k += c.value.length)
        k
      }
      time("read FAST_DIFF bs=65536") {
        var k = 0L
        HFileV3.readCells(bytesFd).foreach(c => k += c.value.length)
        k
      }
      time("write GZ bs=65536") {
        val bos = new ByteArrayOutputStream(64 << 20)
        HFileV3.write(bos, cells.iterator, blockSize = 65536, compression = HFileV3.CompressionGz)
        bos.size().toLong
      }
    }
  }
}
