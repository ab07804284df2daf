package graft

import org.apache.spark.sql.functions._

import graft.admin.GAdmin
import graft.model.Fixtures
import graft.read.Resolve

/** Admin lifecycle: create → put → scan → disable/enable → snapshot →
  * clone → drop, with merge-on-read reconciliation over the store.
  */
class AdminSpec extends SparkSpec {

  test("table lifecycle with snapshot and clone") {
    val tmp = java.nio.file.Files.createTempDirectory("admin").toString
    GAdmin.createTable(spark, "t1", tmp, families = Seq("d"), buckets = 2)
    assert(GAdmin.listTables(spark).contains("t1"))
    assert(GAdmin.table(spark, "t1").count() === 0)

    val cells = Fixtures.cellsOrders(spark, sf0001).limit(500)
    GAdmin.put(spark, "t1", cells)
    assert(GAdmin.table(spark, "t1").count() === 500)

    // disabled tables reject reads, enable restores
    GAdmin.disableTable(spark, "t1")
    intercept[IllegalArgumentException](GAdmin.table(spark, "t1"))
    GAdmin.enableTable(spark, "t1")

    // a second put batch merges on read (Resolve picks newest version)
    val newer = cells.limit(100).withColumn("ts", lit(2L))
      .withColumn("value", lit("v2"))
    GAdmin.put(spark, "t1", newer)
    val latest = Resolve.latest(GAdmin.table(spark, "t1"))
    assert(latest.filter(col("value") === "v2").count() === 100)

    // snapshot is immutable: a later put does not change it
    GAdmin.snapshot(spark, "t1", "snap1", tmp)
    GAdmin.put(spark, "t1", cells.limit(50).withColumn("ts", lit(3L)))
    GAdmin.cloneSnapshot(spark, s"$tmp/snap1", "t2", tmp, buckets = 2)
    assert(GAdmin.table(spark, "t2").count() === 600)
    assert(GAdmin.table(spark, "t1").count() === 650)

    GAdmin.deleteTable(spark, "t1")
    GAdmin.deleteTable(spark, "t2")
    assert(!GAdmin.listTables(spark).contains("t1"))
  }

  test("snapshot TTLs: the cleaner chore drops exactly the expired ones") {
    val tmp = java.nio.file.Files.createTempDirectory("adminsnap").toString
    val snaps = s"$tmp/snaps"
    GAdmin.createTable(spark, "ts1", tmp, families = Seq("d"), buckets = 2)
    GAdmin.put(spark, "ts1", Fixtures.cellsOrders(spark, sf0001).limit(50))
    val t0 = 1000000L
    GAdmin.snapshot(spark, "ts1", "keepForever", snaps,
      ttlSeconds = 0, creationTime = t0)
    GAdmin.snapshot(spark, "ts1", "shortLived", snaps,
      ttlSeconds = 10, creationTime = t0)
    GAdmin.snapshot(spark, "ts1", "longLived", snaps,
      ttlSeconds = 1000, creationTime = t0)
    assert(GAdmin.listSnapshots(spark, snaps).map(_._1) ==
      Seq("keepForever", "longLived", "shortLived"))
    // the pure expiry rule (SnapshotDescriptionUtils.isExpiredSnapshot)
    assert(!GAdmin.isExpiredSnapshot(0, t0, Long.MaxValue / 2)) // FOREVER
    assert(!GAdmin.isExpiredSnapshot(10, 0, t0)) // no creation time
    assert(GAdmin.isExpiredSnapshot(10, t0, t0 + 10001))
    assert(!GAdmin.isExpiredSnapshot(10, t0, t0 + 10000)) // not yet PAST
    assert(!GAdmin.isExpiredSnapshot(Long.MaxValue, t0, Long.MaxValue))
    // the reference's MaxValue/1000 guard: a TTL large enough to
    // overflow the millis product means "effectively never" — the
    // wrapped-negative sum must not read as expired
    assert(!GAdmin.isExpiredSnapshot(Long.MaxValue / 1000 + 1, t0,
      Long.MaxValue / 2))
    // a corrupt .snapshotinfo degrades to never-expires (like a
    // missing marker) instead of aborting the listing and every
    // cleanup pass after it
    GAdmin.snapshot(spark, "ts1", "corruptMarker", snaps,
      ttlSeconds = 10, creationTime = t0)
    val badInfo = new org.apache.hadoop.fs.Path(
      s"$snaps/corruptMarker/.snapshotinfo")
    val bfs = badInfo.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bo = bfs.create(badInfo, true)
    try bo.write("created=12garbage;ttl=".getBytes("UTF-8")) finally bo.close()
    assert(GAdmin.listSnapshots(spark, snaps)
      .find(_._1 == "corruptMarker").get == ("corruptMarker", 0L, 0L))
    // the chore at t0+60s drops exactly the short-lived snapshot
    assert(GAdmin.cleanupSnapshots(spark, snaps, now = t0 + 60000) ==
      Seq("shortLived"))
    bfs.delete(new org.apache.hadoop.fs.Path(s"$snaps/corruptMarker"), true)
    assert(GAdmin.listSnapshots(spark, snaps).map(_._1) ==
      Seq("keepForever", "longLived"))
    // survivors stay fully usable: clone after the chore
    GAdmin.cloneSnapshot(spark, s"$snaps/longLived", "ts2", tmp, buckets = 2)
    assert(GAdmin.table(spark, "ts2").count() === 50)
    GAdmin.deleteTable(spark, "ts1")
    GAdmin.deleteTable(spark, "ts2")
  }

  test("archive cleaner: TTL and snapshot references (incl. split links) guard files") {
    import graft.flow.SnapshotShip
    val root = java.nio.file.Files.createTempDirectory("archclean").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotShip.exportSnapshot(
      Fixtures.cellsOrders(spark, sf0001).limit(200), 2, root, "snapA", "t85")
    def archived(): Set[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$root/archive"), true)
      val b = scala.collection.mutable.Set.empty[String]
      while (it.hasNext) { val st = it.next(); if (st.isFile) b += st.getPath.getName }
      b.toSet
    }
    val before = archived()
    assert(before.nonEmpty)
    // a stray file no manifest references
    val stray = new org.apache.hadoop.fs.Path(
      s"$root/archive/data/default/t85/stray.hfile")
    val out = fs.create(stray, true)
    try out.write("junk".getBytes("UTF-8")) finally out.close()
    val future = System.currentTimeMillis() + 10L * 60000
    // TimeToLiveHFileCleaner: young files never delete, referenced or not
    assert(SnapshotShip.cleanupArchive(spark, root,
      ttlMillis = Long.MaxValue / 2).isEmpty)
    // past TTL: only the unreferenced stray goes
    assert(SnapshotShip.cleanupArchive(spark, root, ttlMillis = 1,
      now = future) == Seq("stray.hfile"))
    assert(archived() == before)
    // a split snapshot references the parents through HFileLink names:
    // with snapA's manifests GONE, the daughter links alone protect
    SnapshotShip.splitSnapshot(spark, root, "snapA", "snapB")
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/.hbase-snapshot/snapA"), true)
    assert(SnapshotShip.cleanupArchive(spark, root, 1, future).isEmpty)
    // no snapshots left: everything past the TTL is collectible
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/.hbase-snapshot/snapB"), true)
    assert(SnapshotShip.cleanupArchive(spark, root, 1, future).toSet == before)
    assert(archived().isEmpty)
  }

  test("truncate, family alteration, split points, existence") {
    val tmp = java.nio.file.Files.createTempDirectory("admin2").toString
    GAdmin.createTable(spark, "t3", tmp, families = Seq("d"), buckets = 2)
    assert(GAdmin.tableExists(spark, "t3") && !GAdmin.tableExists(spark, "nope"))

    val cells = Fixtures.cellsOrders(spark, sf0001).limit(400)
    GAdmin.put(spark, "t3", cells)

    // family alteration: add is metadata-only; delete drops its cells
    GAdmin.addFamily(spark, "t3", "m")
    assert(GAdmin.listFamilies(spark, "t3") === Seq("d", "m"))
    val extra = cells.limit(40).withColumn("family", lit("m"))
    GAdmin.put(spark, "t3", extra)
    assert(GAdmin.table(spark, "t3").count() === 440)
    GAdmin.deleteFamily(spark, "t3", "m")
    assert(GAdmin.listFamilies(spark, "t3") === Seq("d"))
    assert(GAdmin.table(spark, "t3").count() === 400)
    assert(GAdmin.table(spark, "t3").filter(col("family") === "m").count() === 0)

    // split points: sorted, within the key range, n-1 of them
    val pts = GAdmin.splitPoints(spark, "t3", 4)
    assert(pts.size === 3 && pts === pts.sorted)
    assert(pts.forall(p => p >= "0000000000" && p <= "9999999999"))

    // truncate requires disabled; empties but keeps table + families
    intercept[IllegalArgumentException](GAdmin.truncateTable(spark, "t3"))
    GAdmin.disableTable(spark, "t3")
    GAdmin.truncateTable(spark, "t3")
    GAdmin.enableTable(spark, "t3")
    assert(GAdmin.table(spark, "t3").count() === 0)
    assert(GAdmin.listFamilies(spark, "t3") === Seq("d"))

    GAdmin.deleteTable(spark, "t3")
  }

  test("namespaces: create, address as ns:table, list, guarded delete") {
    val tmp = java.nio.file.Files.createTempDirectory("admin_ns").toString
    // namespaced create requires the namespace to exist
    intercept[IllegalArgumentException](
      GAdmin.createTable(spark, "prod:tx", tmp))
    GAdmin.createNamespace(spark, "prod")
    assert(GAdmin.listNamespaces(spark).contains("prod"))
    intercept[IllegalArgumentException](GAdmin.createNamespace(spark, "prod"))

    GAdmin.createTable(spark, "prod:tx", tmp)
    GAdmin.createTable(spark, "txplain", tmp)
    assert(GAdmin.listTableNamesByNamespace(spark, "prod") === Seq("prod:tx"))
    assert(GAdmin.listTableNamesByNamespace(spark, "default").contains("txplain"))
    assert(GAdmin.listTables(spark).contains("prod:tx"))
    // the full admin surface addresses through ns:table
    assert(GAdmin.tableExists(spark, "prod:tx"))
    assert(GAdmin.table(spark, "prod:tx").count() === 0)

    // delete of a non-empty namespace is rejected (ConstraintException)
    intercept[IllegalArgumentException](GAdmin.deleteNamespace(spark, "prod"))
    GAdmin.deleteTable(spark, "prod:tx")
    GAdmin.deleteNamespace(spark, "prod")
    assert(!GAdmin.listNamespaces(spark).contains("prod"))

    // '__' is the encoding separator — reserved in bare names
    intercept[IllegalArgumentException](
      GAdmin.createTable(spark, "a__b", tmp))
    GAdmin.deleteTable(spark, "txplain")
  }

  test("'ns:t' and bare 'ns_t' never share a data directory") {
    val tmp = java.nio.file.Files.createTempDirectory("admin_coll").toString
    GAdmin.createNamespace(spark, "acc")
    GAdmin.createTable(spark, "acc:t", tmp, buckets = 2)
    val cells = Fixtures.cellsOrders(spark, sf0001).limit(100)
    GAdmin.put(spark, "acc:t", cells)
    // the colliding bare name creates a DISTINCT empty table; the
    // namespaced table's files must survive the second create
    GAdmin.createTable(spark, "acc_t", tmp, buckets = 2)
    assert(GAdmin.table(spark, "acc_t").count() === 0)
    assert(GAdmin.table(spark, "acc:t").count() === 100)
    GAdmin.deleteTable(spark, "acc:t")
    GAdmin.deleteTable(spark, "acc_t")
    GAdmin.deleteNamespace(spark, "acc")
  }

  test("region split/merge rewrite the bucket layout, content intact") {
    val tmp = java.nio.file.Files.createTempDirectory("admin_rg").toString
    GAdmin.createTable(spark, "trg", tmp, buckets = 2)
    val cells = Fixtures.cellsOrders(spark, sf0001).limit(300)
    GAdmin.put(spark, "trg", cells)
    assert(GAdmin.regionCount(spark, "trg") === 2)

    GAdmin.splitRegions(spark, "trg")
    assert(GAdmin.regionCount(spark, "trg") === 4)
    assert(GAdmin.table(spark, "trg").count() === 300)
    // graft properties survive the rewrite
    assert(GAdmin.listFamilies(spark, "trg") === Seq("d"))

    GAdmin.mergeRegions(spark, "trg")
    assert(GAdmin.regionCount(spark, "trg") === 2)
    assert(GAdmin.table(spark, "trg")
      .exceptAll(cells.select(GAdmin.table(spark, "trg").columns.map(col): _*))
      .isEmpty)
    GAdmin.deleteTable(spark, "trg")
  }

  test("space quotas: snapshot, write-path policies, removal") {
    val tmp = java.nio.file.Files.createTempDirectory("admin_sq").toString
    GAdmin.createTable(spark, "tsq", tmp, buckets = 2)
    val cells = Fixtures.cellsOrders(spark, sf0001).limit(200)
    GAdmin.put(spark, "tsq", cells)

    // no quota: snapshot reports usage only, puts pass
    val (u0, l0, p0, v0) = GAdmin.spaceQuotaSnapshot(spark, "tsq")
    assert(u0 > 0 && l0.isEmpty && p0.isEmpty && !v0)

    // a generous quota admits writes
    GAdmin.setSpaceQuota(spark, "tsq", u0 * 100, "NO_INSERTS")
    GAdmin.put(spark, "tsq", cells.limit(10))

    // shrink the limit below usage: NO_INSERTS rejects the write
    GAdmin.setSpaceQuota(spark, "tsq", 1L, "NO_INSERTS")
    val (_, _, _, viol) = GAdmin.spaceQuotaSnapshot(spark, "tsq")
    assert(viol)
    val e = intercept[IllegalStateException](
      GAdmin.put(spark, "tsq", cells.limit(10)))
    assert(e.getMessage.contains("NO_INSERTS"))
    assert(GAdmin.isEnabled(spark, "tsq")) // NO_INSERTS never disables

    // DISABLE policy disables the table on the violating write
    GAdmin.setSpaceQuota(spark, "tsq", 1L, "DISABLE")
    intercept[IllegalStateException](GAdmin.put(spark, "tsq", cells.limit(10)))
    assert(!GAdmin.isEnabled(spark, "tsq"))
    GAdmin.enableTable(spark, "tsq")

    // removing the quota restores writes
    GAdmin.removeSpaceQuota(spark, "tsq")
    GAdmin.put(spark, "tsq", cells.limit(10))
    val (_, l1, _, v1) = GAdmin.spaceQuotaSnapshot(spark, "tsq")
    assert(l1.isEmpty && !v1)

    intercept[IllegalArgumentException](
      GAdmin.setSpaceQuota(spark, "tsq", 10L, "NOT_A_POLICY"))
    GAdmin.deleteTable(spark, "tsq")
  }

  test("locateRow names the physical bucket the row's cells live in") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("admin_loc").toString
    GAdmin.createTable(spark, "tloc", tmp, buckets = 4)
    GAdmin.put(spark, "tloc", Fixtures.cellsOrders(spark, sf0001).limit(200))
    // physical placement from the file names (the q80 audit convention)
    val physical = GAdmin.table(spark, "tloc")
      .withColumn("__bucket",
        regexp_extract(input_file_name(), "_(\\d{5})\\.", 1).cast("int"))
      .select("row", "__bucket").distinct().collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(physical.nonEmpty)
    physical.take(20).foreach { case (row, bucket) =>
      assert(GAdmin.locateRow(spark, "tloc", row) === bucket,
        s"locateRow must agree with physical placement for '$row'")
    }
    GAdmin.deleteTable(spark, "tloc")
  }

  test("rate limiter: AVERAGE refills proportionally, FIXED at boundaries") {
    val avg = new graft.admin.RateLimiter(10, 1000, fixedInterval = false)
    assert(avg.canExecute(0, 10)); avg.consume(10)
    assert(!avg.canExecute(0, 1))          // drained at t=0
    assert(avg.waitInterval(0, 1) === 100) // 1 unit ≙ 100 ms at 10/s
    assert(!avg.canExecute(99, 1))         // proportional: 99 ms → 0 units
    assert(avg.waitInterval(99, 1) === 1)  // accrued 99 ms counts: 1 ms left
    assert(avg.waitInterval(99, 11) === Long.MaxValue) // can never satisfy
    assert(avg.canExecute(100, 1))         //               100 ms → 1 unit
    avg.consume(1)
    assert(avg.canExecute(10000, 10))      // long idle caps at limit
    assert(avg.available === 10)

    val fix = new graft.admin.RateLimiter(10, 1000, fixedInterval = true)
    assert(fix.canExecute(0, 10)); fix.consume(10)
    assert(!fix.canExecute(999, 1))        // nothing before the boundary
    assert(fix.waitInterval(999, 1) === 1) // remainder of the interval
    assert(fix.canExecute(1000, 10))       // full refill at the boundary
  }

  test("throttle quota gates the put path per request, removal restores") {
    val tmp = java.nio.file.Files.createTempDirectory("admin_tq").toString
    GAdmin.createTable(spark, "ttq", tmp, buckets = 2)
    val cells = Fixtures.cellsOrders(spark, sf0001).limit(50)

    // 2 requests per second, smooth refill; drive the gate with an
    // injected clock (put itself passes the wall clock)
    GAdmin.setThrottleQuota(spark, "ttq", limit = 2, perMs = 1000)
    GAdmin.enforceThrottle(spark, "ttq", nowMs = 5000)
    GAdmin.enforceThrottle(spark, "ttq", nowMs = 5000)
    val e = intercept[IllegalStateException](
      GAdmin.enforceThrottle(spark, "ttq", nowMs = 5000))
    assert(e.getMessage.contains("throttle") && e.getMessage.contains("retry"))
    // half a unit-time later one token has refilled
    GAdmin.enforceThrottle(spark, "ttq", nowMs = 5500)
    intercept[IllegalStateException](
      GAdmin.enforceThrottle(spark, "ttq", nowMs = 5500))

    // removing the quota drops enforcement; real puts flow again
    GAdmin.removeThrottleQuota(spark, "ttq")
    GAdmin.enforceThrottle(spark, "ttq", nowMs = 5500)
    GAdmin.put(spark, "ttq", cells)
    assert(GAdmin.table(spark, "ttq").count() === 50)

    intercept[IllegalArgumentException](
      GAdmin.setThrottleQuota(spark, "ttq", limit = 2, perMs = 1000,
        refill = "SOMETIMES"))
    GAdmin.deleteTable(spark, "ttq")
  }

  test("normalizer resizes only a ≥2x-off layout, toward the byte target") {
    val tmp = java.nio.file.Files.createTempDirectory("admin_nm").toString
    GAdmin.createTable(spark, "tnm", tmp, buckets = 8)
    GAdmin.put(spark, "tnm", Fixtures.cellsOrders(spark, sf0001).limit(500))

    // a huge byte target → ideal count 1, an 8x-off layout → rewrite
    val n1 = GAdmin.normalize(spark, "tnm", targetBytes = 1L << 40)
    assert(n1 === 1 && GAdmin.regionCount(spark, "tnm") === 1)
    assert(GAdmin.table(spark, "tnm").count() === 500)

    // target chosen so ideal lands within [cur/2, 2*cur): no churn
    val bytes = {
      // derive current size through the same fs the normalizer uses
      val p = new org.apache.hadoop.fs.Path(
        spark.sql("DESCRIBE FORMATTED graft_tnm").collect()
          .find(_.getString(0) == "Location").get.getString(1))
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    }
    val n2 = GAdmin.normalize(spark, "tnm", targetBytes = bytes) // ideal = 1 == cur
    assert(n2 === 1 && GAdmin.regionCount(spark, "tnm") === 1)

    // a tiny byte target → ideal far above 2*cur → split-style rewrite
    val n3 = GAdmin.normalize(spark, "tnm", targetBytes = math.max(1L, bytes / 8))
    assert(n3 >= 2 && GAdmin.regionCount(spark, "tnm") === n3)
    assert(GAdmin.table(spark, "tnm").count() === 500)
    GAdmin.deleteTable(spark, "tnm")
  }

  test("throttle cascade: user+table > user+ns > user > table > namespace") {
    val tmp = java.nio.file.Files.createTempDirectory("admin_qc").toString
    if (!GAdmin.listNamespaces(spark).contains("qns"))
      GAdmin.createNamespace(spark, "qns")
    GAdmin.createTable(spark, "qns:qt1", tmp, buckets = 2)
    GAdmin.createTable(spark, "qns:qt2", tmp, buckets = 2)
    val t = 100000L // one fixed instant: no refill drift inside the test

    // NAMESPACE scope: one shared bucket across the ns's tables AND users
    GAdmin.setNamespaceThrottleQuota(spark, "qns", limit = 2, perMs = 1000)
    val p1 = GAdmin.throttleProbe(spark, "qns:qt1", "alice", t)
    assert(p1._1 === "NAMESPACE" && p1._2 === "qns" && p1._3)
    assert(GAdmin.throttleProbe(spark, "qns:qt2", "alice", t)._3) // 2nd token
    val p3 = GAdmin.throttleProbe(spark, "qns:qt1", "bob", t)
    assert(!p3._3 && p3._4 > 0) // drained — shared across users and tables

    // a TABLE quota overrides the namespace scope for ITS table only
    GAdmin.setThrottleQuota(spark, "qns:qt1", limit = 5, perMs = 1000)
    val p4 = GAdmin.throttleProbe(spark, "qns:qt1", "bob", t)
    assert(p4._1 === "TABLE" && p4._3)
    assert(!GAdmin.throttleProbe(spark, "qns:qt2", "bob", t)._3) // still ns

    // a USER quota beats table+ns for that user — other users unaffected
    GAdmin.setUserThrottleQuota(spark, "alice", limit = 1, perMs = 1000)
    val p5 = GAdmin.throttleProbe(spark, "qns:qt1", "alice", t)
    assert(p5._1 === "USER" && p5._2 === "alice" && p5._3)
    assert(!GAdmin.throttleProbe(spark, "qns:qt1", "alice", t)._3) // drained
    assert(GAdmin.throttleProbe(spark, "qns:qt1", "bob", t)._1 === "TABLE")

    // user+NAMESPACE narrows ahead of the user's global bucket: a fresh
    // admit right after the global USER bucket drained proves the pick
    GAdmin.setUserThrottleQuota(spark, "alice", limit = 3, perMs = 1000,
      namespace = Some("qns"))
    val p6 = GAdmin.throttleProbe(spark, "qns:qt1", "alice", t)
    assert(p6._1 === "USER" && p6._3)

    // user+TABLE is the most specific of all — again a fresh bucket
    GAdmin.setUserThrottleQuota(spark, "alice", limit = 1, perMs = 1000,
      table = Some("qns:qt1"))
    assert(GAdmin.throttleProbe(spark, "qns:qt1", "alice", t)._3)
    assert(!GAdmin.throttleProbe(spark, "qns:qt1", "alice", t)._3) // drained
    // qt2 falls to user+ns (has tokens left) — not the drained user+table
    assert(GAdmin.throttleProbe(spark, "qns:qt2", "alice", t)._3)

    // the registry lists every scope; removal unwinds the cascade
    val listed = GAdmin.listQuotas(spark)
    assert(listed.count(q => q.scope == "USER" && q.subject == "alice") === 3)
    assert(listed.exists(q => q.scope == "NAMESPACE" && q.subject == "qns"))
    assert(listed.exists(q => q.scope == "TABLE" && q.subject == "qns:qt1"))
    GAdmin.removeUserThrottleQuota(spark, "alice", table = Some("qns:qt1"))
    GAdmin.removeUserThrottleQuota(spark, "alice", namespace = Some("qns"))
    GAdmin.removeUserThrottleQuota(spark, "alice")
    assert(GAdmin.throttleProbe(spark, "qns:qt1", "alice", t)._1 === "TABLE")
    GAdmin.removeThrottleQuota(spark, "qns:qt1")
    GAdmin.removeNamespaceThrottleQuota(spark, "qns")
    assert(GAdmin.throttleProbe(spark, "qns:qt1", "alice", t) ===
      (("NONE", "", true, 0L)))

    GAdmin.deleteTable(spark, "qns:qt1")
    GAdmin.deleteTable(spark, "qns:qt2")
    GAdmin.deleteNamespace(spark, "qns")
  }

  test("namespace space quota sums member stores; table scope overrides") {
    val tmp = java.nio.file.Files.createTempDirectory("admin_nsq").toString
    if (!GAdmin.listNamespaces(spark).contains("sns"))
      GAdmin.createNamespace(spark, "sns")
    GAdmin.createTable(spark, "sns:st1", tmp, buckets = 2)
    GAdmin.createTable(spark, "sns:st2", tmp, buckets = 2)
    val cells = Fixtures.cellsOrders(spark, sf0001).limit(100)
    GAdmin.put(spark, "sns:st1", cells)
    GAdmin.put(spark, "sns:st2", cells)

    // usage rolls up over member tables; no quota → no violation
    val (u0, l0, _, v0) = GAdmin.namespaceQuotaSnapshot(spark, "sns")
    val (u1, _, _, _) = GAdmin.spaceQuotaSnapshot(spark, "sns:st1")
    val (u2, _, _, _) = GAdmin.spaceQuotaSnapshot(spark, "sns:st2")
    assert(u0 === u1 + u2 && u0 > 0 && l0.isEmpty && !v0)

    // generous ns budget admits; 1-byte budget rejects writes to EVERY
    // member with the NAMESPACE-scoped violation
    GAdmin.setNamespaceSpaceQuota(spark, "sns", u0 * 100)
    GAdmin.put(spark, "sns:st1", cells.limit(10))
    GAdmin.setNamespaceSpaceQuota(spark, "sns", 1L)
    assert(GAdmin.namespaceQuotaSnapshot(spark, "sns")._4)
    val e1 = intercept[IllegalStateException](
      GAdmin.put(spark, "sns:st1", cells.limit(10)))
    assert(e1.getMessage.contains("NAMESPACE"))
    intercept[IllegalStateException](GAdmin.put(spark, "sns:st2", cells.limit(10)))

    // a table's own generous quota is more specific: st1 writes again,
    // st2 still stops at the namespace line
    GAdmin.setSpaceQuota(spark, "sns:st1", u0 * 100)
    GAdmin.put(spark, "sns:st1", cells.limit(10))
    intercept[IllegalStateException](GAdmin.put(spark, "sns:st2", cells.limit(10)))

    // removal restores the namespace's members
    GAdmin.removeNamespaceSpaceQuota(spark, "sns")
    GAdmin.put(spark, "sns:st2", cells.limit(10))

    GAdmin.removeSpaceQuota(spark, "sns:st1")
    GAdmin.deleteTable(spark, "sns:st1")
    GAdmin.deleteTable(spark, "sns:st2")
    GAdmin.deleteNamespace(spark, "sns")
  }

  test("backup registry: history, chains, guarded delete, force cascade") {
    import graft.flow.BackupRegistry
    import graft.flow.BackupRegistry.BackupImage
    val root = java.nio.file.Files.createTempDirectory("breg").toString
    def img(id: String, tp: String, anc: String, ct: Long, wm: Long) =
      BackupImage(id, tp, Seq("events"), anc, ct - 1, ct, wm)
    BackupRegistry.register(spark, root, img("b1", "FULL", "", 11, 2))
    BackupRegistry.register(spark, root, img("b2", "INCREMENTAL", "b1", 21, 4))
    BackupRegistry.register(spark, root, img("b3", "INCREMENTAL", "b2", 31, 5))
    BackupRegistry.register(spark, root, img("b4", "FULL", "", 41, 9))
    // an incremental must chain to a registered ancestor
    intercept[IllegalArgumentException](BackupRegistry.register(spark, root,
      img("bX", "INCREMENTAL", "ghost", 51, 10)))
    // a FULL backup roots its chain
    intercept[IllegalArgumentException](
      BackupImage("bY", "FULL", Seq("t"), "b1", 0, 1, 2))
    // history: newest completion first
    assert(BackupRegistry.history(spark, root).map(_.backupId) ==
      Seq("b4", "b3", "b2", "b1"))
    // chains + dependents
    assert(BackupRegistry.restoreChain(spark, root, "b3").map(_.backupId) ==
      Seq("b1", "b2", "b3"))
    val all = BackupRegistry.listImages(spark, root)
    assert(BackupRegistry.dependents(all, "b1") == Seq("b2", "b3"))
    assert(BackupRegistry.dependents(all, "b3").isEmpty)
    // guarded delete: refusing to orphan b3; registry unchanged
    intercept[IllegalStateException](
      BackupRegistry.deleteBackup(spark, root, "b2"))
    assert(BackupRegistry.listImages(spark, root).size == 4)
    // an unreferenced image deletes cleanly
    assert(BackupRegistry.deleteBackup(spark, root, "b4") == Seq("b4"))
    // force cascades leaf-first over the dependent subtree
    assert(BackupRegistry.deleteBackup(spark, root, "b1", force = true) ==
      Seq("b3", "b2", "b1"))
    assert(BackupRegistry.listImages(spark, root).isEmpty)
    // a corrupt registry line degrades (skipped), the rest still parse
    BackupRegistry.register(spark, root, img("c1", "FULL", "", 11, 2))
    val p = new org.apache.hadoop.fs.Path(root, ".backup-registry")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = {
      val len = fs.getFileStatus(p).getLen.toInt
      val b = new Array[Byte](len)
      val in = fs.open(p); try in.readFully(0, b) finally in.close()
      new String(b, "UTF-8")
    }
    val out = fs.create(p, true)
    try out.write((prev + "\ngarbage|line").getBytes("UTF-8"))
    finally out.close()
    assert(BackupRegistry.listImages(spark, root).map(_.backupId) == Seq("c1"))
  }

  test("interrupted cloneSnapshot rolls back: partial table dropped, retry clean") {
    val tmp = java.nio.file.Files.createTempDirectory("clonecrash").toString
    GAdmin.createTable(spark, "cs1", tmp, families = Seq("d"), buckets = 2)
    GAdmin.put(spark, "cs1", Fixtures.cellsOrders(spark, sf0001).limit(200))
    GAdmin.snapshot(spark, "cs1", "snapA", tmp)
    // crash mid-clone: journal + a partial store artifact, no commit
    intercept[IllegalStateException](GAdmin.cloneSnapshotImpl(
      spark, s"$tmp/snapA", "cs2", tmp, 2, crashMidClone = true))
    val fs = new org.apache.hadoop.fs.Path(tmp).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$tmp/.procedures/clone-graft_cs2.journal")))
    // the sweep rolls it back: catalog clean, files gone, journal consumed
    assert(GAdmin.recoverInterruptedDdl(spark, tmp) ==
      Seq("graft_cs2" -> "rolledback"))
    assert(!GAdmin.tableExists(spark, "cs2"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/graft_cs2")))
    // idempotent: a second sweep finds nothing
    assert(GAdmin.recoverInterruptedDdl(spark, tmp).isEmpty)
    // the retry completes; a committed clone leaves no journal
    GAdmin.cloneSnapshot(spark, s"$tmp/snapA", "cs2", tmp, buckets = 2)
    assert(GAdmin.table(spark, "cs2").count() === 200)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$tmp/.procedures/clone-graft_cs2.journal")))
    assert(GAdmin.recoverInterruptedDdl(spark, tmp).isEmpty)
    GAdmin.deleteTable(spark, "cs1"); GAdmin.deleteTable(spark, "cs2")
  }

  test("interrupted failsafe truncate rolls back to the pre-truncate contents") {
    val tmp = java.nio.file.Files.createTempDirectory("trunccrash").toString
    val failsafes = s"$tmp/failsafes"
    GAdmin.createTable(spark, "tc1", tmp, families = Seq("d"), buckets = 2)
    GAdmin.put(spark, "tc1", Fixtures.cellsOrders(spark, sf0001).limit(250))
    GAdmin.disableTable(spark, "tc1")
    // crash after the truncate's rewrite landed (table now empty on
    // disk) — recovery must re-impose the 250-cell pre-truncate state
    intercept[IllegalStateException](GAdmin.truncateTableImpl(
      spark, "tc1", failsafes, crashAfterRewrite = true))
    assert(GAdmin.recoverInterruptedDdl(spark, tmp, failsafes) ==
      Seq("graft_tc1" -> "rolledback"))
    GAdmin.enableTable(spark, "tc1")
    assert(GAdmin.table(spark, "tc1").count() === 250)
    // the clean failsafe truncate lands empty with no residue
    GAdmin.disableTable(spark, "tc1")
    GAdmin.truncateTable(spark, "tc1", failsafes)
    GAdmin.enableTable(spark, "tc1")
    assert(GAdmin.table(spark, "tc1").count() === 0)
    assert(GAdmin.recoverInterruptedDdl(spark, tmp, failsafes).isEmpty)
    GAdmin.deleteTable(spark, "tc1")
  }

  test("interrupted restoreSnapshot re-imposes the failsafe (pre-restore contents)") {
    val tmp = java.nio.file.Files.createTempDirectory("restorecrash").toString
    val failsafes = s"$tmp/failsafes"
    GAdmin.createTable(spark, "rs1", tmp, families = Seq("d"), buckets = 2)
    val orig = Fixtures.cellsOrders(spark, sf0001).limit(300)
    GAdmin.put(spark, "rs1", orig)
    GAdmin.snapshot(spark, "rs1", "snapB", tmp) // 300 cells
    GAdmin.put(spark, "rs1",
      orig.limit(100).withColumn("ts", lit(9L))) // diverge: 400 cells
    // restore refuses on an ENABLED table (reference semantics)
    intercept[IllegalArgumentException](
      GAdmin.restoreSnapshot(spark, "rs1", s"$tmp/snapB", failsafes))
    GAdmin.disableTable(spark, "rs1")
    // crash AFTER the rewrite landed, before cleanup: the sweep must
    // bring back the PRE-restore 400-cell state from the failsafe
    intercept[IllegalStateException](GAdmin.restoreSnapshotImpl(
      spark, "rs1", s"$tmp/snapB", failsafes, crashAfterRewrite = true))
    assert(GAdmin.recoverInterruptedDdl(spark, tmp, failsafes) ==
      Seq("graft_rs1" -> "rolledback"))
    GAdmin.enableTable(spark, "rs1")
    assert(GAdmin.table(spark, "rs1").count() === 400)
    val fs = new org.apache.hadoop.fs.Path(tmp).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$failsafes/failsafe-graft_rs1")))
    assert(GAdmin.recoverInterruptedDdl(spark, tmp, failsafes).isEmpty)
    // the clean restore succeeds and leaves no residue
    GAdmin.disableTable(spark, "rs1")
    GAdmin.restoreSnapshot(spark, "rs1", s"$tmp/snapB", failsafes)
    GAdmin.enableTable(spark, "rs1")
    assert(GAdmin.table(spark, "rs1").count() === 300)
    assert(GAdmin.recoverInterruptedDdl(spark, tmp, failsafes).isEmpty)
    GAdmin.deleteTable(spark, "rs1")
  }

  test("property writes reject a VIEW entry and the reserved keys ALTER TABLE rejects") {
    spark.sql("CREATE OR REPLACE VIEW graft_propview AS SELECT 1 AS x")
    try intercept[org.apache.spark.sql.AnalysisException](GAdmin.disableTable(spark, "propview"))
    finally spark.sql("DROP VIEW IF EXISTS graft_propview")
    GAdmin.createTable(spark, "propres",
      java.nio.file.Files.createTempDirectory("adminprops").toString, Seq("d"), buckets = 1)
    // each key is refused by the direct path exactly when ALTER TABLE refuses it
    def refused(f: => Any): Boolean = scala.util.Try(f).isFailure
    val keys = Seq("provider", "location", "owner", "external",
      "is_managed_location", "Location", "comment", "graft.note")
    try {
      val direct = keys.map(k => (refused(GAdmin.setProps(spark, "propres", Seq(k -> "x"))),
        refused(GAdmin.unsetProps(spark, "propres", Seq(k)))))
      assert(direct === keys.map(k => (
        refused(spark.sql(s"ALTER TABLE graft_propres SET TBLPROPERTIES ('$k'='x')")),
        refused(spark.sql(s"ALTER TABLE graft_propres UNSET TBLPROPERTIES IF EXISTS ('$k')")))))
      assert(direct.take(5).forall(_ == (true, true)))
      GAdmin.disableTable(spark, "propres") // graft's own keys still write
      assert(!GAdmin.isEnabled(spark, "propres"))
    } finally GAdmin.deleteTable(spark, "propres")
  }
}
