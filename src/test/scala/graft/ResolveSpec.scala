package graft

import graft.model.{CellType, GCell}
import graft.read.Resolve
import graft.read.Resolve.TimeRange

/** Tombstone × version × timerange matrix for the §2.4 resolve —
  * mirrors ScanDeleteTracker rules (ScanDeleteTracker.java:46,70,102).
  */
class ResolveSpec extends SparkSpec {
  import spark.implicits._

  private def put(r: String, q: String, ts: Long, v: String) =
    GCell(r, "d", q, ts, CellType.Put, v)

  private def cells(cs: GCell*) = cs.toDF()

  private def liveSet(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long)] =
    df.collect().map(r => (r.getAs[String]("row"), r.getAs[String]("qualifier"), r.getAs[Long]("ts"))).toSet

  test("exact Delete masks only the same-ts put") {
    val df = cells(
      put("r1", "a", 1, "v1"), put("r1", "a", 2, "v2"),
      GCell("r1", "d", "a", 2, CellType.Delete, null))
    assert(liveSet(Resolve.maskTombstones(df)) === Set(("r1", "a", 1L)))
  }

  test("DeleteColumn masks puts at or below marker ts") {
    val df = cells(
      put("r1", "a", 1, "v1"), put("r1", "a", 3, "v3"), put("r1", "a", 5, "v5"),
      put("r1", "b", 1, "w1"),
      GCell("r1", "d", "a", 3, CellType.DeleteColumn, null))
    assert(liveSet(Resolve.maskTombstones(df)) === Set(("r1", "a", 5L), ("r1", "b", 1L)))
  }

  test("DeleteFamily masks the whole family at or below marker ts") {
    val df = cells(
      put("r1", "a", 1, "v1"), put("r1", "b", 2, "v2"), put("r1", "b", 3, "v3"),
      put("r2", "a", 1, "x1"),
      GCell("r1", "d", "", 2, CellType.DeleteFamily, null))
    assert(liveSet(Resolve.maskTombstones(df)) === Set(("r1", "b", 3L), ("r2", "a", 1L)))
  }

  test("DeleteFamilyVersion masks exactly one ts across the family") {
    val df = cells(
      put("r1", "a", 1, "v1"), put("r1", "a", 2, "v2"), put("r1", "b", 2, "w2"),
      GCell("r1", "d", "", 2, CellType.DeleteFamilyVersion, null))
    assert(liveSet(Resolve.maskTombstones(df)) === Set(("r1", "a", 1L)))
  }

  test("version gate keeps newest n per column after masking") {
    val df = cells(
      put("r1", "a", 1, "v1"), put("r1", "a", 2, "v2"),
      put("r1", "a", 3, "v3"), put("r1", "a", 4, "v4"))
    assert(liveSet(Resolve.latest(df, maxVersions = 2)) ===
      Set(("r1", "a", 4L), ("r1", "a", 3L)))
  }

  test("time range applies before the version gate") {
    // newest (ts=4) is outside range; gate then picks newest IN range
    val df = cells(
      put("r1", "a", 1, "v1"), put("r1", "a", 2, "v2"),
      put("r1", "a", 3, "v3"), put("r1", "a", 4, "v4"))
    assert(liveSet(Resolve.latest(df, 1, Some(TimeRange(1, 4)))) ===
      Set(("r1", "a", 3L)))
  }

  test("ttl cutoff hides old cells") {
    val df = cells(put("r1", "a", 1, "v1"), put("r1", "a", 9, "v9"))
    assert(liveSet(Resolve.latest(df, 2, None, ttlCutoff = Some(5L))) ===
      Set(("r1", "a", 9L)))
  }

  test("tombstones do not resurrect: masked newest exposes older put") {
    val df = cells(
      put("r1", "a", 1, "v1"), put("r1", "a", 5, "v5"),
      GCell("r1", "d", "a", 5, CellType.Delete, null))
    assert(liveSet(Resolve.latest(df, 1)) === Set(("r1", "a", 1L)))
  }

  test("rmwReturning emits per-op post-images in commit order") {
    import org.apache.spark.sql.functions._
    val muts = Seq(
      ("u1", 1L, 1, 2.0, "a"), ("u1", 2L, 2, 3.0, "b"),
      ("u1", 2L, 3, 5.0, "c"), ("u2", 9L, 1, 7.0, "x"))
      .toDF("user", "ts", "seq", "delta", "tag")
    val got = graft.write.Mutations.rmwReturning(muts, Seq(col("user")),
        col("delta"), col("tag"), Seq(col("ts"), col("seq")), sep = ",")
      .orderBy("user", "ts", "seq")
      .select("user", "post_sum", "post_seq")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2)))
    assert(got.toSeq === Seq(
      ("u1", 2.0, "a"), ("u1", 5.0, "a,b"), ("u1", 10.0, "a,b,c"),
      ("u2", 7.0, "x")))
  }

  test("dedupNonces: first attempt wins, NO_NONCE never tracked") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // (user, delta, ts, group, nonce): nonce 10 retried with a LATER
    // ts and a different payload — the FIRST attempt's row must win;
    // nonce 0 rows always pass through untracked
    val muts = Seq(
      ("u1", 5.0, 100L, 1L, 10L),
      ("u1", 9.0, 200L, 1L, 10L), // retry, later ts, divergent payload
      ("u1", 3.0, 150L, 2L, 10L), // same nonce, DIFFERENT group — distinct
      ("u2", 1.0, 100L, 1L, 0L),
      ("u2", 1.0, 110L, 1L, 0L) // NO_NONCE duplicate: double-applies
    ).toDF("user", "delta", "ts", "ng", "nonce")
    val out = graft.write.Mutations.dedupNonces(
        muts, col("ng"), col("nonce"))
      .groupBy("user").agg(sum("delta").as("total"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("u1") == 8.0) // 5 (first attempt of (1,10)) + 3 ((2,10))
    assert(out("u2") == 2.0) // both untracked rows applied
  }

  test("spill hedge: sized exchange fires only past the threshold, plan keeps ONE exchange") {
    // small frames: estimate under the threshold -> None, plan unchanged
    val tiny = cells(put("r1", "q", 1L, "v"))
    assert(Resolve.sizedShufflePartitions(tiny).isEmpty)
    // shrink the scan target so a modest cached frame trips the hedge,
    // then pin: parts sized off the estimate AND the physical plan of
    // the resolve pass still carries EXACTLY one shuffle (the walk's
    // sized row exchange — the hedge must never add a second exchange)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
      val big = (0 until 3000).map(i =>
        GCell(f"r$i%05d", "d", "q", 1L, CellType.Put, "v" * 16)).toDF()
        .cache()
      big.count() // materialize: InMemoryRelation stats = real bytes
      val parts = Resolve.sizedShufflePartitions(big)
      assert(parts.exists(_ > spark.conf
          .get("spark.sql.shuffle.partitions").toInt),
        s"hedge must fire past the threshold, got $parts")
      val plan = Resolve.latest(big).queryExecution.executedPlan.toString
      // the resolve pass must consume the SIZED row exchange directly:
      // exactly one exchange, a hashpartitioning(row) carrying the sized
      // count, and no second exchange between the pass and it — the
      // hedge resizes the operator's one exchange, never adds a second
      val sized = s"Exchange hashpartitioning\\(row#\\d+, ${parts.get}\\)".r
      assert(sized.findAllIn(plan).size == 1 && "Exchange ".r.findAllIn(plan).size == 1,
        s"sized row exchange missing:\n$plan")
      val widx = plan.indexOf("RowWalk ")
      val ridx = sized.findFirstMatchIn(plan).get.start
      assert(widx >= 0 && ridx > widx &&
        !plan.substring(widx, ridx).contains("Exchange"),
        s"the resolve pass re-exchanged instead of reusing the hedge:\n$plan")
      big.unpersist()
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }
}
