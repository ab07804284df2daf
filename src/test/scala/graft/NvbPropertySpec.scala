package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.model.CellType
import graft.read.Resolve

/** Randomized equivalence of the NEW_VERSION_BEHAVIOR pass
  * ([[Resolve.latestNvb]]) against its collect/join/explode form
  * ([[NvbReference]]), under both plan shapes of the pass: grouped on
  * row over a local frame, and walked in place over the same cells in a
  * row-ranged store. Every mix holds all five cell types, Puts that
  * share a ts, and seqs in an order unrelated to ts. Seeded —
  * deterministic.
  */
class NvbPropertySpec extends SparkSpec {
  import spark.implicits._

  private type C = (String, String, String, Long, String, String, Long)

  private val rows  = Seq("r1", "r2", "r3", "r4", "r5", "r6")
  private val fams  = Seq("d", "e")
  private val quals = Seq("a", "b", "c")

  /** A mix of cells with one distinct seq each, shuffled against ts;
    * one cell of each kind first, so every mix holds all five types. */
  private def genCells(rnd: Random): Seq[C] = {
    val none: String = null
    val kinds = (0 to 4) ++ Seq.fill(20 + rnd.nextInt(40))(rnd.nextInt(10))
    val cells = kinds.flatMap { kind =>
      val r = rows(rnd.nextInt(rows.size))
      val f = fams(rnd.nextInt(fams.size))
      val q = quals(rnd.nextInt(quals.size))
      val ts = 1L + rnd.nextInt(5)
      kind match {
        case 0 => Seq((r, f, q, ts, CellType.Delete, none))
        case 1 => Seq((r, f, q, ts, CellType.DeleteColumn, none))
        case 2 => Seq((r, f, "", ts, CellType.DeleteFamily, none))
        case 3 => Seq((r, f, "", ts, CellType.DeleteFamilyVersion, none))
        // a re-put of one coordinate: two Puts with one ts
        case 4 => Seq((r, f, q, ts, CellType.Put, "x"), (r, f, q, ts, CellType.Put, "y"))
        case _ => Seq((r, f, q, ts, CellType.Put, s"v${rnd.nextInt(3)}"))
      }
    }
    val seqs = rnd.shuffle((1L to cells.size.toLong).toList)
    cells.zip(seqs).map { case ((r, f, q, ts, t, v), s) => (r, f, q, ts, t, v, s) }
  }

  private def collected(df: DataFrame): Seq[C] =
    df.select("row", "family", "qualifier", "ts", "type", "value", "seq").as[C].collect()
      .toSeq.sortBy(c => (c._1, c._2, c._3, -c._4, c._7))

  test("latestNvb equals the collect/join/explode form on 30 random mixes, grouped and walked") {
    val rnd = new Random(6565)
    var nonEmpty, dupTs = 0
    (1 to 30).foreach { i =>
      val cells = genCells(rnd)
      val maxVersions = 1 + rnd.nextInt(3)
      val resultMax = if (rnd.nextBoolean()) Int.MaxValue else 1 + rnd.nextInt(2)
      val ttlCutoff = if (rnd.nextBoolean()) Some(1L + rnd.nextInt(4)) else None
      val minVersions = rnd.nextInt(3)
      if (cells.groupBy(c => (c._1, c._2, c._3, c._4)).values.exists(_.count(_._5 == CellType.Put) > 2))
        dupTs += 1
      val local = cells.toDF("row", "family", "qualifier", "ts", "type", "value", "seq")
      val ranged = rangedStore(local)
      try {
        assert(Resolve.rowRanged(ranged) && !Resolve.rowRanged(local))
        val want = collected(NvbReference.latestNvb(local, maxVersions, resultMax, ttlCutoff,
          minVersions))
        val clue = s"case $i maxVersions=$maxVersions resultMax=$resultMax ttl=$ttlCutoff " +
          s"minVersions=$minVersions\n${cells.mkString("\n")}"
        for ((shape, in) <- Seq("grouped" -> local, "walked" -> ranged))
          assert(collected(Resolve.latestNvb(in, maxVersions, resultMax, ttlCutoff, minVersions))
            === want, s"$shape $clue")
        if (want.nonEmpty) nonEmpty += 1
      } finally ranged.unpersist()
    }
    // beyond the re-put every mix holds: a third Put at one ts
    assert(nonEmpty >= 25 && dupTs >= 5, s"$nonEmpty non-empty, $dupTs with 3+ Puts at one ts")
  }
}
