package graft.flow

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.codec.{HFileV3, SnapshotManifestCodec => SM}

/** Reference-layout snapshot shipping — the ExportSnapshot twin at the
  * DIRECTORY level, not just the store-file level: the destination
  * tree is what a reference cluster's `.hbase-snapshot` scanner and
  * clone_snapshot expect (ExportSnapshot.java ships exactly this):
  *
  *   <root>/.hbase-snapshot/<name>/.snapshotinfo     (SnapshotDescription)
  *   <root>/.hbase-snapshot/<name>/data.manifest     (SnapshotDataManifest)
  *   <root>/archive/data/<ns>/<table>/<region>/<family>/<storefile>
  *
  * The import side enumerates store files FROM the manifest (names +
  * sizes verified), never by globbing — a manifest that lies about a
  * file is an error, exactly like the reference's snapshot
  * verification. Store files are full HFile v3 ([[HFileV3]]); graft
  * region files carry all families of the table in one file, so each
  * region manifest lists its file under every declared family with a
  * shared name (noted for reference-cluster adopters: single-family
  * tables — the common case — match the reference layout exactly).
  */
object SnapshotShip {

  private def split(table: String): (String, String) =
    table.split(":", 2) match {
      case Array(n, q) => (n, q)
      case _ => ("default", table)
    }

  /** Encoded region names are dash-free hex like the reference's md5
    * form (RegionInfoBuilder.ENCODED_REGION_NAME_REGEX) — HFileLink
    * names `table=region-hfile` split on the region/hfile dash. */
  private[graft] def regionNameOf(i: Int): String = f"$i%032x"

  /** Export `cells` as a complete snapshot tree under `destRoot`.
    * Region store files write distributed ([[HFiles.export]]); the
    * driver then lays out the archive tree (renames are metadata-only)
    * and writes the manifest pair. */
  def exportSnapshot(cells: DataFrame, numRegions: Int, destRoot: String,
      snapshotName: String, table: String,
      creationTime: Long = 0L, perFamily: Boolean = false): Unit = {
    val (ns, qual) = split(table)
    val spark = cells.sparkSession
    val tmp = s"$destRoot/.tmp-$snapshotName"
    HFiles.export(cells, numRegions, tmp, perFamily = perFamily)
    val fs = new Path(destRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = Option(fs.globStatus(new Path(tmp, "part-*.hfile")))
      .getOrElse(Array.empty).sortBy(_.getPath.getName)
    // families come from the table's cells — a bounded set (schema-like)
    val families = cells.select("family").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    def firstRowOf(st: org.apache.hadoop.fs.FileStatus): Array[Byte] =
      HFiles.withStoreFile(fs, st.getPath, st.getLen) { pread =>
        HFileV3.readRootIndex(pread, HFileV3.readTrailer(pread, st.getLen))
          .headOption.fold(Array.emptyByteArray)(e => HFileV3.rowOfKey(e._3))
      }
    // part-PPPPP[.hfile] or part-PPPPP-FAM.hfile → (pid, familyOpt)
    val PartName = "part-(\\d{5})(?:-(.+))?\\.hfile".r
    val byRegion = parts.map { st =>
      st.getPath.getName match {
        case PartName(pid, fam) => (pid.toInt, Option(fam), st)
        case other => throw new IllegalStateException(s"unexpected part $other")
      }
    }.groupBy(_._1).toSeq.sortBy(_._1)
    // region boundaries: the min first-row across the region's files
    // (with per-family files, one file's first row is its family's)
    val regionStarts = byRegion.map { case (_, f) =>
      f.map(t => firstRowOf(t._3))
        .minBy(b => new String(b, StandardCharsets.ISO_8859_1))
    }
    val regions = byRegion.zipWithIndex.map { case ((_, regionParts), i) =>
      val regionName = regionNameOf(i)
      val famFiles: Seq[(String, String, Long)] = regionParts.toSeq.map {
        case (_, famOpt, st) =>
          val fam = famOpt.getOrElse(families.head)
          val sfName = famOpt.fold(f"sf-$i%05d")(f => f"sf-$i%05d-$f")
          val famDir = new Path(s"$destRoot/archive/data/$ns/$qual/$regionName/$fam")
          fs.mkdirs(famDir)
          val target = new Path(famDir, sfName)
          fs.rename(st.getPath, target)
          (fam, sfName, fs.getFileStatus(target).getLen)
      }
      // remaining family dirs exist even when empty (reference layout)
      families.foreach(f => fs.mkdirs(
        new Path(s"$destRoot/archive/data/$ns/$qual/$regionName/$f")))
      val familyManifests =
        if (perFamily)
          famFiles.sortBy(_._1).map { case (fam, sfName, size) =>
            SM.FamilyFiles(fam.getBytes(StandardCharsets.UTF_8),
              Seq(SM.StoreFileRef(sfName, size)))
          }
        else {
          // single multi-family region file: every family lists the
          // shared name (single-family tables match the reference 1:1)
          val (_, sfName, size) = famFiles.head
          families.map(f =>
            SM.FamilyFiles(f.getBytes(StandardCharsets.UTF_8),
              Seq(SM.StoreFileRef(sfName, size))))
        }
      SM.RegionManifest(
        regionId = creationTime + i,
        startKey = if (i == 0) Array.emptyByteArray else regionStarts(i),
        endKey = if (i == byRegion.size - 1) Array.emptyByteArray
          else regionStarts(i + 1),
        families = familyManifests)
    }.toSeq
    fs.delete(new Path(tmp), true)
    val snap = SM.Snapshot(snapshotName, table, creationTime,
      SM.ManifestVersion,
      families.map(_.getBytes(StandardCharsets.UTF_8)), regions)
    val snapDir = new Path(s"$destRoot/.hbase-snapshot/$snapshotName")
    fs.mkdirs(snapDir)
    for ((fname, bytes) <- Seq(
        ".snapshotinfo" -> SM.encodeDescription(snap),
        "data.manifest" -> SM.encodeDataManifest(snap))) {
      val out = fs.create(new Path(snapDir, fname), true)
      try out.write(bytes) finally out.close()
    }
  }

  /** Read a snapshot back through its manifest: parse `.snapshotinfo`
    * + `data.manifest`, resolve each region's store files (sizes
    * verified against the manifest), and import the cell stream —
    * one task per store file. */
  def importSnapshot(spark: SparkSession, destRoot: String,
      snapshotName: String): DataFrame = {
    val fs = new Path(destRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snapDir = new Path(s"$destRoot/.hbase-snapshot/$snapshotName")
    val (name, table, _, _) =
      SM.decodeDescription(HFiles.readAll(fs, new Path(snapDir, ".snapshotinfo")))
    require(name == snapshotName,
      s"manifest names snapshot '$name', expected '$snapshotName'")
    val (_, regions) =
      SM.decodeDataManifest(HFiles.readAll(fs, new Path(snapDir, "data.manifest")))
    val (ns, qual) = split(table)
    // each region's physical files: first family dir holds them (the
    // export layout above); dedupe shared names across families.
    // Store-file names may be HFileLink names (`[ns=]table=region-
    // hfile` — split-parent files referenced from a daughter or a
    // cloned table), and entries may carry a split-half Reference:
    // both resolve here, like the reference's StoreFileInfo open path.
    val files = regions.zipWithIndex.flatMap { case (r, i) =>
      val regionName = regionNameOf(i)
      // every family's files, deduped by name per region: per-family
      // layouts list distinct files each under its own family; the
      // multi-family single-file layout lists ONE shared name under
      // every family and the physical file lives under the first
      val seen = scala.collection.mutable.Set.empty[String]
      r.families.flatMap { ff =>
        val fam = new String(ff.family, StandardCharsets.UTF_8)
        ff.files.filter(sf => seen.add(sf.name)).map { sf =>
          val p = SM.parseLinkName(sf.name) match {
            case Some((lns, ltable, lregion, lhfile)) =>
              new Path(s"$destRoot/archive/data/$lns/$ltable/$lregion/$fam/$lhfile")
            case None =>
              new Path(s"$destRoot/archive/data/$ns/$qual/$regionName/$fam/${sf.name}")
          }
          val len = fs.getFileStatus(p).getLen
          if (sf.reference.isEmpty)
            require(len == sf.fileSize,
              s"store file ${sf.name}: size $len != manifest ${sf.fileSize}")
          (p.toString, len, sf.reference.map(h => (h.splitRow, h.top)))
        }
      }
    }
    HFiles.importFilesFiltered(spark, files)
  }

  /** Simulate what a region SPLIT leaves behind and snapshot it:
    * every region of `srcName` becomes TWO daughter regions whose
    * store files are half-file REFERENCES (FS.proto Reference:
    * TOP/BOTTOM around the parent file's middle block row) through
    * HFileLink names back to the parent's archive file — the layout a
    * reference cluster's snapshot holds when taken after splits,
    * before the daughters compact. No cell data is rewritten. */
  def splitSnapshot(spark: SparkSession, destRoot: String,
      srcName: String, newName: String): Unit = {
    val fs = new Path(destRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snapDir = new Path(s"$destRoot/.hbase-snapshot/$srcName")
    val (_, table, ct, ver) =
      SM.decodeDescription(HFiles.readAll(fs, new Path(snapDir, ".snapshotinfo")))
    val (families, regions) =
      SM.decodeDataManifest(HFiles.readAll(fs, new Path(snapDir, "data.manifest")))
    val (ns, qual) = split(table)
    val daughters = regions.zipWithIndex.flatMap { case (r, i) =>
      val parentRegion = regionNameOf(i)
      val fam = new String(r.families.head.family, StandardCharsets.UTF_8)
      val sf = r.families.head.files.head
      val path = new Path(
        s"$destRoot/archive/data/$ns/$qual/$parentRegion/$fam/${sf.name}")
      // split row = the parent's largest-store middle block first-row
      // (the reference splits a region at ONE point for all stores —
      // the biggest store's midkey, HFileBlockIndex mid-key metadata)
      val len = fs.getFileStatus(path).getLen
      val midRow = HFiles.withStoreFile(fs, path, len) { pread =>
        val idx = HFileV3.readRootIndex(pread, HFileV3.readTrailer(pread, len))
        HFileV3.rowOfKey(idx(idx.size / 2)._3)
      }
      Seq(false, true).zipWithIndex.map { case (top, d) =>
        SM.RegionManifest(
          regionId = ct + i * 2 + d,
          startKey = if (top) midRow else r.startKey,
          endKey = if (top) r.endKey else midRow,
          // every parent store file becomes a half-reference link in
          // the daughter, family by family (dedupe-by-name on import
          // handles the shared-name multi-family layout)
          families = r.families.map(ffam => SM.FamilyFiles(ffam.family,
            ffam.files.map(psf => SM.StoreFileRef(
              s"$ns=$qual=$parentRegion-${psf.name}", psf.fileSize,
              Some(SM.RefHalf(midRow, top)))))))
      }
    }
    val snap = SM.Snapshot(newName, table, ct, ver,
      families, daughters)
    val newDir = new Path(s"$destRoot/.hbase-snapshot/$newName")
    fs.mkdirs(newDir)
    for ((fname, bytes) <- Seq(
        ".snapshotinfo" -> SM.encodeDescription(snap),
        "data.manifest" -> SM.encodeDataManifest(snap))) {
      val out = fs.create(new Path(newDir, fname), true)
      try out.write(bytes) finally out.close()
    }
  }

  /** The archive cleaner chain over a snapshot root — CleanerChore
    * with HFileCleaner's two stock plugins composed: an archived store
    * file deletes only when EVERY plugin agrees —
    * TimeToLiveHFileCleaner (older than hbase.master.hfilecleaner.ttl,
    * default 5 min, by fs modification time) AND SnapshotHFileCleaner
    * (no snapshot manifest references it, directly or through an
    * HFileLink — a split daughter's link protects its PARENT file).
    * The reference caches the referenced set (SnapshotFileCache);
    * graft re-derives it per pass — one metadata-sized proto pair per
    * snapshot, a driver-side read. `extraRefs` is a third plugin slot:
    * ReplicationHFileCleaner's pending bulk-load set
    * ([[graft.flow.PWalFiles.pendingBulkLoadRefs]]) — file NAMES that
    * must survive regardless of age. Returns the deleted file names. */
  def cleanupArchive(spark: SparkSession, destRoot: String,
      ttlMillis: Long = 300000L,
      now: Long = System.currentTimeMillis(),
      extraRefs: Set[String] = Set.empty): Seq[String] = {
    val fs = new Path(destRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snapRoot = new Path(s"$destRoot/.hbase-snapshot")
    val referenced: Set[String] =
      if (!fs.exists(snapRoot)) Set.empty
      else fs.listStatus(snapRoot).filter(_.isDirectory).flatMap { d =>
        val (_, regions) = SM.decodeDataManifest(
          HFiles.readAll(fs, new Path(d.getPath, "data.manifest")))
        regions.flatMap(_.families.flatMap(_.files.map { sf =>
          // protect the UNDERLYING file: a link name guards its parent
          SM.parseLinkName(sf.name).map(_._4).getOrElse(sf.name)
        }))
      }.toSet
    val archive = new Path(s"$destRoot/archive")
    if (!fs.exists(archive)) return Nil
    val it = fs.listFiles(archive, true)
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && now - st.getModificationTime > ttlMillis &&
          !referenced.contains(st.getPath.getName) &&
          !extraRefs.contains(st.getPath.getName)) {
        fs.delete(st.getPath, false)
        deleted += st.getPath.getName
      }
    }
    deleted.toSeq.sorted
  }
}
