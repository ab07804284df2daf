package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.flow.{Failpoints, HFiles, RegionRefs}
import graft.model.Fixtures

/** Reference-file split mechanics (io/Reference.java,
  * StoreFileInfo.java:573-631, CatalogJanitor.java:326-392) beyond the
  * q113 lifecycle gate. */
class RegionRefsSpec extends SparkSpec {

  test("reference naming and the referred-to path math") {
    assert(!RegionRefs.isReference("part-00000.hfile"))
    assert(!RegionRefs.isReference("compacted-d1.hfile"))
    assert(RegionRefs.isReference("part-00000.hfile.p1"))
    val ref = new Path("/any/table/d1/d/part-00000.hfile.p1")
    // tableDir is up three levels; region swaps to the parent, the
    // family is preserved, the suffix strips
    assert(RegionRefs.referredToFile(ref).toString ==
      "/any/table/p1/d/part-00000.hfile")
  }

  test("split halves partition exactly at the split row; multi-family shares one row") {
    val root = java.nio.file.Files.createTempDirectory("refsplit").toString
    val table = s"$root/data/t"
    val cells = Fixtures.cellsOrders(spark, sf0001).limit(4000).cache()
    // two families from the same cells: 'd' (large) and 'e' (small) —
    // the split row must come from the LARGEST store and apply to both
    HFiles.export(cells, 1, s"$table/p1/d", blockSize = 2048)
    HFiles.export(cells.limit(500).withColumn("family", lit("e")), 1,
      s"$table/p1/e", blockSize = 2048)
    val fs = new Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

    val splitRow = RegionRefs.splitRegion(spark, table, "p1", "d1", "d2")
    assert(splitRow.nonEmpty)
    val sr = new String(splitRow.get, "UTF-8")

    // every bottom row < splitRow <= every top row, both families
    val bottom = RegionRefs.importStore(spark, table, "d1").cache()
    val top = RegionRefs.importStore(spark, table, "d2").cache()
    assert(bottom.filter(col("row") >= sr).count() == 0)
    assert(top.filter(col("row") < sr).count() == 0)
    // the union reproduces both families' cells exactly
    assert(bottom.count() + top.count() == cells.count() + 500)
    assert(bottom.select("family").distinct().count() == 2 ||
      top.select("family").distinct().count() == 2)

    // each daughter family dir holds exactly one reference per parent file
    val d1refs = fs.listStatus(new Path(s"$table/d1/d"))
      .map(_.getPath.getName).filter(RegionRefs.isReference)
    assert(d1refs.toSeq == Seq("part-00000.hfile.p1"))
    bottom.unpersist(); top.unpersist(); cells.unpersist()
  }

  test("mid-key degenerate store (single block) refuses to split") {
    val root = java.nio.file.Files.createTempDirectory("refdegen").toString
    val table = s"$root/data/t"
    HFiles.export(Fixtures.cellsOrders(spark, sf0001).limit(10), 1,
      s"$table/p1/d", blockSize = 1 << 20)
    assert(RegionRefs.splitRegion(spark, table, "p1", "d1", "d2").isEmpty)
  }

  test("janitor: a daughter's own re-split keeps the grandparent chain honest") {
    val root = java.nio.file.Files.createTempDirectory("refchain").toString
    val table = s"$root/data/t"
    val arch = s"$root/archive"
    HFiles.export(Fixtures.cellsOrders(spark, sf0001).limit(4000), 1,
      s"$table/p1/d", blockSize = 2048)
    assert(RegionRefs.splitRegion(spark, table, "p1", "d1", "d2").nonEmpty)
    RegionRefs.compactRefs(spark, table, "d1")
    RegionRefs.compactRefs(spark, table, "d2")
    // d1 (now materialized) splits again — p1 is GC-able, d1 is not
    assert(RegionRefs.splitRegion(spark, table, "d1", "g1", "g2").nonEmpty)
    val gcd = RegionRefs.catalogJanitor(spark, table, arch)
    assert(gcd == Seq("p1"), s"expected only p1 GC'd, got $gcd")
    // grandchildren cover exactly d1's half; with d2 the full corpus
    val total = RegionRefs.importStore(spark, table, "g1").count() +
      RegionRefs.importStore(spark, table, "g2").count() +
      RegionRefs.importStore(spark, table, "d2").count()
    assert(total == 4000)
    // after the grandchildren compact, d1 goes too
    RegionRefs.compactRefs(spark, table, "g1")
    RegionRefs.compactRefs(spark, table, "g2")
    assert(RegionRefs.catalogJanitor(spark, table, arch) == Seq("d1"))
  }

  test("metadata-only merge: whole-file refs, janitor GCs both parents") {
    val root = java.nio.file.Files.createTempDirectory("refmerge").toString
    val table = s"$root/data/t"
    val arch = s"$root/archive"
    val cells = Fixtures.cellsOrders(spark, sf0001).limit(3000).cache()
    // two adjacent regions from a real row split of the data
    val rows = cells.select("row").distinct().orderBy("row").collect()
    val mid = rows(rows.length / 2).getString(0)
    HFiles.export(cells.filter(col("row") < mid), 1, s"$table/ra/d")
    HFiles.export(cells.filter(col("row") >= mid), 1, s"$table/rb/d")

    // a parent still carrying refs refuses to merge
    assert(RegionRefs.splitRegion(spark, table, "ra", "x1", "x2").nonEmpty)
    intercept[IllegalArgumentException](
      RegionRefs.mergeRegions(spark, table, Seq("x1"), "mbad"))
    // clean up that probe split: materialize and GC
    RegionRefs.compactRefs(spark, table, "x1")
    RegionRefs.compactRefs(spark, table, "x2")
    assert(RegionRefs.catalogJanitor(spark, table, arch) == Seq("ra"))

    // merge the two materialized daughters of ra with rb
    RegionRefs.mergeRegions(spark, table, Seq("rb", "x1", "x2"), "m1",
      parentStartKeys = Map("rb" -> mid.getBytes("UTF-8")))
    // read-through merged region = the full corpus, zero cells moved
    assert(RegionRefs.importStore(spark, table, "m1").count() == cells.count())
    // janitor refuses while m1 references the parents
    assert(RegionRefs.catalogJanitor(spark, table, arch).isEmpty)
    RegionRefs.compactRefs(spark, table, "m1")
    assert(RegionRefs.catalogJanitor(spark, table, arch).toSet ==
      Set("rb", "x1", "x2"))
    assert(RegionRefs.importStore(spark, table, "m1").count() == cells.count())
    cells.unpersist()
  }

  test("interrupted split rolls back: orphan daughter refs removed, parent re-splittable") {
    val root = java.nio.file.Files.createTempDirectory("refcrash").toString
    val table = s"$root/data/t"
    val cells = Fixtures.cellsOrders(spark, sf0001).limit(4000).cache()
    HFiles.export(cells, 1, s"$table/p1/d", blockSize = 2048)
    val fs = new Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

    // crash after daughter A's refs: journal present, no marker, d1
    // half-exists, d2 absent
    Failpoints.crashAt("split.afterFirstDaughter")(
      RegionRefs.splitRegion(spark, table, "p1", "d1", "d2"))
    assert(fs.exists(new Path(s"$table/p1/.split-journal")))
    assert(!fs.exists(new Path(s"$table/p1/.splitparent")))
    assert(fs.exists(new Path(s"$table/d1/d/part-00000.hfile.p1")))
    assert(!fs.exists(new Path(s"$table/d2")))
    // the janitor must not touch anything in this state
    assert(RegionRefs.catalogJanitor(spark, table, s"$root/arch").isEmpty)

    // recovery sweep: rollback — orphan refs gone, daughter dirs gone,
    // journal consumed, parent stays online with its data intact
    assert(RegionRefs.recoverInterruptedSplits(spark, table) ==
      Seq("p1" -> "rolledback"))
    assert(!fs.exists(new Path(s"$table/d1")))
    assert(!fs.exists(new Path(s"$table/p1/.split-journal")))
    assert(RegionRefs.importStore(spark, table, "p1").count() == cells.count())
    // idempotent: a second sweep finds nothing
    assert(RegionRefs.recoverInterruptedSplits(spark, table).isEmpty)

    // the parent re-splits cleanly after the rollback
    assert(RegionRefs.splitRegion(spark, table, "p1", "d1", "d2").nonEmpty)
    assert(RegionRefs.importStore(spark, table, "d1").count() +
      RegionRefs.importStore(spark, table, "d2").count() == cells.count())
    // a COMPLETED split leaves no journal; the sweep is a no-op on it
    assert(!fs.exists(new Path(s"$table/p1/.split-journal")))
    assert(RegionRefs.recoverInterruptedSplits(spark, table).isEmpty)
    cells.unpersist()
  }

  test("interrupted merge rolls back: refs dropped, offlined parents back online") {
    val root = java.nio.file.Files.createTempDirectory("mergecrash").toString
    val table = s"$root/data/t"
    val cells = Fixtures.cellsOrders(spark, sf0001).limit(3000).cache()
    val rows = cells.select("row").distinct().orderBy("row").collect()
    val mid = rows(rows.length / 2).getString(0)
    HFiles.export(cells.filter(col("row") < mid), 1, s"$table/ra/d")
    HFiles.export(cells.filter(col("row") >= mid), 1, s"$table/rb/d")
    val fs = new Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

    // crash after parent ra's refs + offline marker, before rb's
    Failpoints.crashAt("merge.afterFirstParent")(RegionRefs.mergeRegions(
      spark, table, Seq("ra", "rb"), "m1", Map("rb" -> mid.getBytes("UTF-8"))))
    assert(fs.exists(new Path(s"$table/m1/.merge-journal")))
    assert(fs.exists(new Path(s"$table/ra/.splitparent")))
    assert(!fs.exists(new Path(s"$table/rb/.splitparent")))

    // rollback: merged refs gone, ra back ONLINE (else the janitor
    // would GC an offline unreferenced parent — data loss), journal
    // consumed; both parents read whole again
    assert(RegionRefs.recoverInterruptedSplits(spark, table) ==
      Seq("m1" -> "rolledback"))
    assert(!fs.exists(new Path(s"$table/ra/.splitparent")))
    // the rolled-back merge leaves NO residue: the emptied merged
    // region dir is gone, not enumerated as a region by later sweeps
    assert(!fs.exists(new Path(s"$table/m1")))
    assert(RegionRefs.catalogJanitor(spark, table, s"$root/arch").isEmpty)
    assert(RegionRefs.importStore(spark, table, "ra").count() +
      RegionRefs.importStore(spark, table, "rb").count() == cells.count())

    // the merge retries cleanly; a completed merge leaves no journal
    RegionRefs.mergeRegions(spark, table, Seq("ra", "rb"), "m1",
      Map("rb" -> mid.getBytes("UTF-8")))
    assert(!fs.exists(new Path(s"$table/m1/.merge-journal")))
    assert(RegionRefs.recoverInterruptedSplits(spark, table).isEmpty)
    assert(RegionRefs.importStore(spark, table, "m1").count() == cells.count())
    cells.unpersist()
  }

  test("interrupted daughter compaction: output landed + refs alive never double-reads") {
    val root = java.nio.file.Files.createTempDirectory("compcrash").toString
    val table = s"$root/data/t"
    val cells = Fixtures.cellsOrders(spark, sf0001).limit(4000).cache()
    HFiles.export(cells, 1, s"$table/p1/d", blockSize = 2048)
    val fs = new Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(RegionRefs.splitRegion(spark, table, "p1", "d1", "d2").nonEmpty)
    val d1n = RegionRefs.importStore(spark, table, "d1").count()

    // crash AFTER the compacted file lands, BEFORE the refs drop: the
    // window where d1 holds the cells twice (output + references)
    Failpoints.crashAt("compactRefs.afterLanding")(
      RegionRefs.compactRefs(spark, table, "d1", 2048))
    assert(fs.exists(new Path(s"$table/d1/d/.compaction-journal")))
    assert(fs.exists(new Path(s"$table/d1/d/compacted-d1.hfile")))
    assert(fs.exists(new Path(s"$table/d1/d/part-00000.hfile.p1")))

    // the recovery sweep rolls FORWARD (replayWALCompactionMarker):
    // inputs dropped, output kept, journal consumed, cell count exact
    assert(RegionRefs.recoverInterruptedSplits(spark, table) ==
      Seq("d1/d" -> "rolledforward"))
    assert(!fs.exists(new Path(s"$table/d1/d/part-00000.hfile.p1")))
    assert(RegionRefs.importStore(spark, table, "d1").count() == d1n)

    // crash BEFORE the output lands (journal alone): rolls back — refs
    // untouched, the compaction simply retries
    val j = fs.create(new Path(s"$table/d2/d/.compaction-journal"), true)
    try j.write("compacted-d2.hfile|part-00000.hfile.p1".getBytes("UTF-8"))
    finally j.close()
    assert(RegionRefs.recoverInterruptedSplits(spark, table) ==
      Seq("d2/d" -> "rolledback"))
    assert(fs.exists(new Path(s"$table/d2/d/part-00000.hfile.p1")))
    RegionRefs.compactRefs(spark, table, "d2", blockSize = 2048)
    assert(RegionRefs.importStore(spark, table, "d1").count() +
      RegionRefs.importStore(spark, table, "d2").count() == cells.count())
    cells.unpersist()
  }

  test("corrupt journals recover by derivation: ref suffixes name the parent, the output names itself") {
    val root = java.nio.file.Files.createTempDirectory("refcorrupt").toString
    val table = s"$root/data/t"
    val cells = Fixtures.cellsOrders(spark, sf0001).limit(4000).cache()
    HFiles.export(cells, 1, s"$table/p1/d", blockSize = 2048)
    val fs = new Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

    // half-split state with a GARBAGE journal (external corruption):
    // the sweep cannot read the daughter names, but every orphan ref
    // carries `.p1` — rollback must still find and drop them
    Failpoints.crashAt("split.afterFirstDaughter")(
      RegionRefs.splitRegion(spark, table, "p1", "d1", "d2"))
    val j = fs.create(new Path(s"$table/p1/.split-journal"), true)
    try j.write(Array.fill(16)(0x7c.toByte)) finally j.close() // all '|'
    assert(RegionRefs.recoverInterruptedSplits(spark, table) ==
      Seq("p1" -> "rolledback"))
    assert(!fs.exists(new Path(s"$table/d1")),
      "derived rollback must drop the orphan daughter refs")
    assert(RegionRefs.importStore(spark, table, "p1").count() == cells.count())

    // landed compaction output with a garbage journal: forward is
    // derivable too — the output names itself, the inputs are every
    // ref of the family
    assert(RegionRefs.splitRegion(spark, table, "p1", "d1", "d2").nonEmpty)
    val d1n = RegionRefs.importStore(spark, table, "d1").count()
    Failpoints.crashAt("compactRefs.afterLanding")(
      RegionRefs.compactRefs(spark, table, "d1", 2048))
    val cj = fs.create(new Path(s"$table/d1/d/.compaction-journal"), true)
    try cj.write("garbage-no-separator".getBytes("UTF-8")) finally cj.close()
    assert(RegionRefs.recoverInterruptedSplits(spark, table) ==
      Seq("d1/d" -> "rolledforward"))
    assert(!fs.exists(new Path(s"$table/d1/d/part-00000.hfile.p1")),
      "derived forward must drop the consumed refs")
    assert(RegionRefs.importStore(spark, table, "d1").count() == d1n)
    cells.unpersist()
  }

  test("crash after the point of no return rolls forward (journal cleanup only)") {
    val root = java.nio.file.Files.createTempDirectory("refponr").toString
    val table = s"$root/data/t"
    val cells = Fixtures.cellsOrders(spark, sf0001).limit(3000).cache()
    HFiles.export(cells, 1, s"$table/p1/d", blockSize = 2048)
    val fs = new Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(RegionRefs.splitRegion(spark, table, "p1", "d1", "d2").nonEmpty)
    // simulate the crash window between marker write and journal
    // delete: re-create the journal next to the completed marker
    val out = fs.create(new Path(s"$table/p1/.split-journal"), true)
    try out.write("d1|d2".getBytes("UTF-8")) finally out.close()
    assert(RegionRefs.recoverInterruptedSplits(spark, table) ==
      Seq("p1" -> "completed"))
    // forward-completion: daughters keep their refs, read-through holds
    assert(fs.exists(new Path(s"$table/d1/d/part-00000.hfile.p1")))
    assert(RegionRefs.importStore(spark, table, "d1").count() +
      RegionRefs.importStore(spark, table, "d2").count() == cells.count())
    cells.unpersist()
  }
}
