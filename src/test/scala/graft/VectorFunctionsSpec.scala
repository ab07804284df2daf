package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.functions.VectorFunctions.{dot_fold, l2_norm}

/** The native DotFold expression must be BIT-identical to the
  * higher-order-function fold it replaces (and so to the DuckDB
  * oracle's list_reduce) — sequential left-to-right double accumulation
  * with per-element cast to double. */
class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  test("dot_fold bit-matches the zip_with/aggregate fold on float arrays") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = df.select($"vec_id".as("i"), $"embedding".as("a"))
      .join(df.select($"vec_id".as("j"), $"embedding".as("b")),
        $"i" < $"j" && $"j" < $"i" + 7)
    val bad = pairs
      .select(dot_fold($"a", $"b").as("native"), hofDot($"a", $"b").as("hof"))
      .filter(!($"native" === $"hof"))   // exact double equality
      .count()
    assert(bad === 0L)
  }

  test("dot_fold handles mixed float/double-literal arrays and codegen fallback") {
    val plane = Array(1.0, -1.0, 1.0, 1.0)
    val df = Seq((1L, Array(1.0f, 2.0f, 3.0f, 4.0f)), (2L, Array(-1.0f, 0.5f, 0.0f, 2.0f)))
      .toDF("id", "v")
    val got = df.select($"id", dot_fold($"v", typedlit(plane)).as("d"))
      .orderBy("id").collect().map { case Row(_, d: Double) => d }
    assert(got.toSeq === Seq(1.0 - 2.0 + 3.0 + 4.0, -1.0 - 0.5 + 0.0 + 2.0))
  }

  test("dot_fold is null-safe and SQL-registered") {
    val df = Seq((1L, Array(1.0f, 2.0f)), (2L, null.asInstanceOf[Array[Float]]))
      .toDF("id", "v")
    val got = df.selectExpr("dot_fold(v, v) AS d").orderBy(lit(1)).collect()
    assert(got.exists(r => r.isNullAt(0)))
    assert(got.exists(r => !r.isNullAt(0) && r.getDouble(0) === 5.0))
    // l2_norm is the same fold
    val n = df.filter($"id" === 1).select(l2_norm($"v")).head().getDouble(0)
    assert(math.abs(n - math.sqrt(5.0)) < 1e-15)
  }
}
