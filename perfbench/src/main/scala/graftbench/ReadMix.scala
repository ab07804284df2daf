package graftbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.agg.AggregationClient
import graft.filter.ParseFilter
import graft.model.Fixtures
import graft.read.{GScan, GTable}

/** Short reads over the in-memory `cells_orders` store: point Gets, short
  * range scans, filtered scans, range aggregates and multi-gets. Every op
  * touches a few hundred cells at most, so fixed per-query planning and
  * scheduling cost dominates. */
final class ReadMix(args: Args) extends Workload {
  import ReadMix._

  /** Order keys present in the generated `orders` table, ascending. */
  private val keys: Array[Long] = Inputs.longs(args, "keys.txt")
  private var cells: DataFrame = _

  def setup(env: Env): Unit =
    cells = env.phase("materialize") {
      val c = Fixtures.cellsOrders(env.spark, env.inputs)
      c.count()
      c
    }

  /** A key: mostly a present one, skewed toward the hot low end of the
    * key list; sometimes any key in the domain (mostly absent). */
  private def key(rng: Random): Long =
    if (rng.nextDouble() < 0.8) keys((keys.length * math.pow(rng.nextDouble(), 2.5)).toInt)
    else rng.nextInt(KeyDomain).toLong

  /** A key range of fixed width starting at a drawn key. */
  private def range(rng: Random, span: Int): (Long, Long) = {
    val s = key(rng)
    (s, s + span)
  }

  private val cycle = new Cycle(Seq("read.get", "read.scan", "filter.scan", "agg.range",
    "read.get", "read.multiget", "filter.scan", "read.get"))
  // Filter forms and aggregate functions differ in cost, so they take
  // turns instead of being drawn: every run issues the same mix of them.
  private var filters = 0
  private var aggs = 0
  def atCycleStart: Boolean = cycle.atStart

  def next(rng: Random): Op = cycle.next() match {
    case "read.get" =>
      val k = key(rng)
      collectOp("read.get", Json.obj("key" -> k),
        () => GTable.get(cells, pad(k)))
    case "read.scan" =>
      val (s, e) = range(rng, ScanSpan)
      collectOp("read.scan", Json.obj("start" -> s, "stop" -> e),
        () => GTable.scan(cells, GScan().withRange(pad(s), pad(e))))
    case "filter.scan" =>
      val (s, e) = range(rng, ScanSpan)
      val f = filterString(rng, s, filters % 4)
      filters += 1
      collectOp("filter.scan", Json.obj("start" -> s, "stop" -> e, "filter" -> f),
        () => GTable.scanFiltered(cells, GScan().withRange(pad(s), pad(e)),
          ParseFilter.parse(f)))
    case "agg.range" =>
      val (s, e) = range(rng, AggSpan)
      val inRange = col("row") >= pad(s) && col("row") < pad(e)
      val price = inRange && col("qualifier") === "o_totalprice"
      val fn = Seq("rowcount", "sum", "median")(aggs % 3)
      aggs += 1
      collectOp("agg.range", Json.obj("start" -> s, "stop" -> e, "fn" -> fn), () => fn match {
        case "rowcount" => AggregationClient.rowCount(cells, Some(inRange))
        case "sum"      => AggregationClient.sum(cells, col("value").cast("double"), Some(price))
        case _          => AggregationClient.median(cells, col("value").cast("double"), Some(price))
      })
    case _ =>
      val ks = Seq.fill(50)(key(rng)).distinct
      collectOp("read.multiget", Json.obj("keys" -> ks), () => {
        val spark = cells.sparkSession
        import spark.implicits._
        GTable.multiGet(cells, ks.map(pad).toDF("row"))
      })
  }
}

object ReadMix {
  /** Order keys are drawn from [0, KeyDomain). */
  val KeyDomain = 150000
  /** Key widths of scans and of range aggregates: about 100 and 500 rows
    * at the generated key density. */
  val ScanSpan = 500
  val AggSpan = 2500

  def pad(k: Long): String = f"$k%010d"

  private val Statuses = Seq("F", "O", "P")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** A filter string of the given form from a small ParseFilter grammar:
    * a single-column value filter, a row-prefix filter, a value filter, or
    * an AND of a row-level and a cell-level filter. */
  def filterString(rng: Random, start: Long, form: Int): String = {
    def scvf = if (rng.nextBoolean())
      s"SingleColumnValueFilter('d', 'o_orderstatus', =, 'binary:${Statuses(rng.nextInt(3))}')"
    else
      s"SingleColumnValueFilter('d', 'o_orderpriority', =, 'binary:${Priorities(rng.nextInt(5))}')"
    def prefix = s"PrefixFilter('${pad(start).take(8)}')"
    def value = rng.nextInt(3) match {
      case 0 => "ValueFilter(=, 'substring:URGENT')"
      case 1 => s"ValueFilter(=, 'binaryprefix:199${rng.nextInt(8)}')"
      case _ => s"ValueFilter(=, 'binary:${Statuses(rng.nextInt(3))}')"
    }
    form match {
      case 0 => scvf
      case 1 => prefix
      case 2 => value
      case _ => s"$scvf AND $value"
    }
  }

  /** An op whose result is small: collected to the driver. `items` is the
    * work it stands for; by default the rows it returned. */
  def collectOp(kind: String, params: String, build: () => DataFrame,
      items: Long = -1L): Op =
    Op(kind, params, () => {
      val df = build()
      df.queryExecution.executedPlan
      () => {
        val rs = df.collect()
        Outcome(Json.rows(rs), if (items >= 0) items else rs.length.toLong, rs.length.toLong)
      }
    })

  /** An op whose result is large: reduced to an order-free digest, the
    * row count and the sum of a 32-bit md5 prefix over all columns. */
  def digestOp(kind: String, params: String, items: Long, build: () => DataFrame): Op =
    Op(kind, params, () => {
      val df = digest(build())
      df.queryExecution.executedPlan
      () => {
        val r = df.collect().head
        Outcome(Json.obj("n" -> r.getLong(0), "h" -> (if (r.isNullAt(1)) 0L else r.getLong(1))),
          items, r.getLong(0))
      }
    })

  def digest(df: DataFrame): DataFrame = {
    val line: Column = concat_ws("|", df.columns.toSeq.map(c => col(c).cast("string")): _*)
    df.select(conv(substring(md5(line), 1, 8), 16, 10).cast("long").as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("h"))
  }
}

/** Readers for the small side files the input generator writes. */
object Inputs {
  def lines(args: Args, name: String): Seq[String] = {
    val src = scala.io.Source.fromFile(new java.io.File(args.work, s"inputs/$name"), "UTF-8")
    try src.getLines().filter(_.nonEmpty).toVector finally src.close()
  }
  def longs(args: Args, name: String): Array[Long] = lines(args, name).map(_.trim.toLong).toArray
}

/** A fixed, repeating order of op kinds, so every run issues the same
  * sequence of kinds. */
final class Cycle(kinds: Seq[String]) {
  private var pos = 0
  def size: Int = kinds.size
  def atStart: Boolean = pos == 0
  def next(): String = { val k = kinds(pos); pos = (pos + 1) % kinds.size; k }
}
