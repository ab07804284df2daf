package graft.flow

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.codec.{HFileV3, SnapshotManifestCodec => SM}

/** The reference's REAL region-split lifecycle — metadata-only split,
  * read-through daughters, compaction materialization, CatalogJanitor
  * parent GC:
  *
  *  - [[splitRegion]] — SplitTableRegionProcedure: a split writes NO
  *    cell. Each parent store file gains one Reference file per
  *    daughter (`<hfile>.<parentRegion>`, "PBUF" + FSProtos.Reference
  *    {splitkey, TOP|BOTTOM} — io/Reference.java:133-150), the parent
  *    region goes offline (a `.splitparent` marker here — the META
  *    split-parent row's twin). At 100 TB this is WHY splits are
  *    instant: two directory entries per store file, zero data moved.
  *  - [[importStore]] — StoreFileInfo.java:137-147,613-631: a
  *    reference resolves `tableDir/<parentRegion>/<family>/<hfile>`
  *    and reads through the half filter (HalfStoreFileReader: BOTTOM =
  *    rows strictly below the split row, TOP = the split row and up).
  *  - [[compactRefs]] — the daughter's first compaction rewrites the
  *    half-reads into real store files and drops the Reference files;
  *    only from then on is the parent GC-able.
  *  - [[catalogJanitor]] — master/janitor/CatalogJanitor.java:326-392:
  *    a split parent is GC'd (archived) only when NO region still
  *    holds a Reference to any of its files (`hasNoReferences` over
  *    both daughters); one daughter still referencing keeps the parent
  *    alive.
  *
  * Layout: `tableDir/<region>/<family>/` store files — the reference's
  * path math (`getReferredToFile`: tableDir is up three levels from a
  * reference file) holds verbatim.
  */
object RegionRefs {

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** StoreFileInfo.REF_NAME_PATTERN essence: `<hfile>.<parentRegion>`
    * — a dot-suffixed parent region name after a plain hfile name. */
  def isReference(name: String): Boolean =
    !name.endsWith(".hfile") && name.contains(".hfile.")

  /** StoreFileInfo.getReferredToFile: the parent region's same-family
    * file, tableDir up three levels. */
  def referredToFile(refFile: Path): Path = {
    val name = refFile.getName
    val i = name.lastIndexOf('.')
    require(i > 0, s"not a reference file name: $name")
    val hfile = name.substring(0, i)
    val parentRegion = name.substring(i + 1)
    val family = refFile.getParent.getName
    val tableDir = refFile.getParent.getParent.getParent
    new Path(new Path(new Path(tableDir, parentRegion), family), hfile)
  }

  /** Metadata-only split of `parentRegion` at its largest store's
    * index mid-key row. Creates the two daughter region dirs with one
    * Reference file per (parent store file × daughter), marks the
    * parent offline. Returns the split row, or None when the parent
    * is mid-key degenerate (single-block stores). */
  def splitRegion(spark: SparkSession, tableDir: String,
      parentRegion: String, daughterA: String, daughterB: String)
      : Option[Array[Byte]] = {
    val fs = fsOf(spark, tableDir)
    val parent = new Path(tableDir, parentRegion)
    val famDirs = Option(fs.listStatus(parent)).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getPath).sortBy(_.getName)
    require(famDirs.nonEmpty, s"no stores under $parent")
    // one split row for the whole region: the LARGEST store's mid key
    // (RegionSplitPolicy.getSplitPoint)
    val largestFam = famDirs.maxBy(d =>
      HFiles.listFiles(fs, d.toString, "*.hfile").map(_._2).sum)
    val splitRow = SplitPolicies.storeSplitPoint(
      spark, largestFam.toString, glob = "*.hfile")
    splitRow.foreach { row =>
      // procedure journal (procedure-v2's persisted state — a
      // SplitTableRegionProcedure survives a master crash because its
      // step is durable BEFORE the step's effects): written before the
      // first reference, removed only after the .splitparent marker
      // (the META-update point of no return). A journal with no marker
      // therefore identifies a mid-split crash exactly.
      val journal = new Path(parent, ".split-journal")
      ProcedureJournal.write(spark.sparkContext.hadoopConfiguration,
        journal, Seq(daughterA, daughterB),
        s"split journal for $parentRegion")
      for ((daughter, top) <- Seq((daughterA, false), (daughterB, true))) {
        for (fam <- famDirs) {
          val outDir = new Path(new Path(tableDir, daughter), fam.getName)
          fs.mkdirs(outDir)
          for ((f, _) <- HFiles.listFiles(fs, fam.toString, "*.hfile")) {
            val refName = s"${new Path(f).getName}.$parentRegion"
            val out = fs.create(new Path(outDir, refName), true)
            try out.write(SM.encodeReferenceFile(SM.RefHalf(row, top)))
            finally out.close()
          }
        }
        // the half-split state recoverInterruptedSplits must clean up
        if (daughter == daughterA) Failpoints.hit("split.afterFirstDaughter")
      }
      // the META split-parent row: parent is offline, awaiting GC
      fs.create(new Path(parent, ".splitparent"), true).close()
      ProcedureJournal.consume(fs, journal)
    }
    splitRow
  }

  /** SplitTableRegionProcedure.rollbackState / executeFromState twin —
    * the master-restart sweep over interrupted splits. For every region
    * carrying a `.split-journal`:
    *
    *  - journal + `.splitparent` marker: the split PASSED its point of
    *    no return (every reference was written before the marker) and
    *    only the journal cleanup was lost — roll FORWARD by completing
    *    that cleanup (`completed`).
    *  - journal, no marker: a mid-split crash (e.g. daughter A's refs
    *    written, daughter B's not) — roll BACK: remove this parent's
    *    orphan reference files from both daughters (dropping emptied
    *    daughter dirs), leaving the parent online and re-splittable
    *    (`rolledback`). Without this the janitor refuses forever and
    *    the daughters half-exist — the reference's exact
    *    rollbackState(SPLIT_TABLE_REGION_CREATE_DAUGHTER_REGIONS) case.
    *
    * Also sweeps merge journals (mid-merge crashes roll back with the
    * already-offlined parents brought back ONLINE) and compaction
    * journals (output landed rolls FORWARD by completing the input
    * drop — replayWALCompactionMarker; otherwise back).
    *
    * PRECONDITION (the reference's procedure-store lock): the sweep
    * runs at master restart, when no split/merge/compaction is
    * in flight on `tableDir` — running it concurrently with a live
    * lifecycle would read that operation's journal and roll back work
    * that has not crashed.
    *
    * Returns (parent, action) pairs, parent-name order. */
  def recoverInterruptedSplits(spark: SparkSession, tableDir: String)
      : Seq[(String, String)] = {
    val fs = fsOf(spark, tableDir)
    val regions = Option(fs.listStatus(new Path(tableDir)))
      .getOrElse(Array.empty).filter(_.isDirectory).map(_.getPath)
      .sortBy(_.getName)

    // remove every `<hfile>.<parent>` reference to `parent` under
    // `region`; dirs are pruned only when THIS pass emptied them (an
    // unrelated region's already-empty dir is not the sweep's to drop)
    def dropRefsTo(region: String, parent: String): Unit = {
      val dDir = new Path(tableDir, region)
      if (!fs.exists(dDir)) return
      var dropped = false
      for (fam <- Option(fs.listStatus(dDir)).getOrElse(Array.empty)
          .filter(_.isDirectory)) {
        val victims = Option(fs.listStatus(fam.getPath))
          .getOrElse(Array.empty)
          .filter(_.getPath.getName.endsWith(s".$parent"))
        victims.foreach(f => fs.delete(f.getPath, false))
        dropped ||= victims.nonEmpty
        if (victims.nonEmpty && Option(fs.listStatus(fam.getPath))
            .getOrElse(Array.empty).isEmpty)
          fs.delete(fam.getPath, false)
      }
      if (dropped && fs.exists(dDir) && Option(fs.listStatus(dDir))
          .getOrElse(Array.empty).isEmpty)
        fs.delete(dDir, false)
    }

    // the shared tolerant read (ProcedureJournal protocol step 4):
    // None = corrupt/legacy journal, callers fall back to DERIVABLE
    // recovery from the mutation's own naming conventions
    def readJournal(p: Path, nParts: Int): Option[Array[String]] =
      ProcedureJournal.readTolerant(fs, p, nParts)

    val splits = regions.toSeq.flatMap { parent =>
      val journal = new Path(parent, ".split-journal")
      if (!fs.exists(journal)) None
      else {
        val action =
          if (fs.exists(new Path(parent, ".splitparent"))) "completed"
          else {
            readJournal(journal, 2) match {
              case Some(parts) =>
                Seq(parts(0), parts(1)).foreach(dropRefsTo(_, parent.getName))
              case None =>
                // corrupt/legacy journal: the daughters are unknown,
                // but every orphan ref carries `.{parent}` — sweep all
                // regions (refs to an ONLINE parent are only ever
                // created by the split that wrote this journal)
                regions.foreach(r => dropRefsTo(r.getName, parent.getName))
            }
            "rolledback"
          }
        ProcedureJournal.consume(fs, journal)
        Some(parent.getName -> action)
      }
    }

    // merge journals live in the MERGED region dir; the merge passed
    // its point of no return once EVERY parent carries the offline
    // marker (the marker is each parent's last step) — otherwise roll
    // back: drop the merged region's refs and bring the already-
    // offlined parents back ONLINE (without this the janitor would GC
    // a parent the dead merge had marked, losing its cells)
    val merges = regions.toSeq.flatMap { mdir =>
      val journal = new Path(mdir, ".merge-journal")
      if (!fs.exists(journal)) None
      else {
        // corrupt/legacy journal: the parents are derivable from the
        // merged dir's own ref suffixes (each ref is <hfile>.<parent>)
        val parents = readJournal(journal, -1).map(_.toSeq).getOrElse {
          Option(fs.listStatus(mdir)).getOrElse(Array.empty)
            .filter(_.isDirectory).flatMap { fam =>
              Option(fs.listStatus(fam.getPath)).getOrElse(Array.empty)
                .map(_.getPath.getName).filter(isReference)
                .map(n => n.substring(n.lastIndexOf('.') + 1))
            }.toSeq.distinct.sorted
        }
        val action =
          if (parents.nonEmpty && parents.forall(p =>
              fs.exists(new Path(new Path(tableDir, p), ".splitparent"))))
            "completed"
          else {
            parents.foreach { p =>
              dropRefsTo(mdir.getName, p)
              fs.delete(new Path(new Path(tableDir, p), ".splitparent"),
                false)
            }
            "rolledback"
          }
        ProcedureJournal.consume(fs, journal)
        // a rolled-back merge must not leave its (now empty) merged
        // region dir behind — mergeRegionsImpl mkdirs it (and each
        // family out-dir) before writing refs, so after the refs are
        // dropped the empty dirs are the dead merge's only residue and
        // later sweeps/listings would enumerate it as a region
        if (action == "rolledback" && fs.exists(mdir)) {
          Option(fs.listStatus(mdir)).getOrElse(Array.empty)
            .filter(st => st.isDirectory &&
              Option(fs.listStatus(st.getPath)).getOrElse(Array.empty)
                .isEmpty)
            .foreach(st => fs.delete(st.getPath, false))
          if (Option(fs.listStatus(mdir)).getOrElse(Array.empty).isEmpty)
            fs.delete(mdir, false)
        }
        Some(mdir.getName -> action)
      }
    }

    // compaction journals live in the FAMILY dir (the WAL COMPACTION
    // marker's descriptor: output|input refs). Output landed = past
    // the point of no return — roll FORWARD by completing the input
    // drop (replayWALCompactionMarker's exact move); output missing =
    // the compaction never committed — roll back to the untouched refs
    val compactions = regions.toSeq
      .filter(fs.exists(_)) // the splits sweep may have dropped a daughter
      .flatMap { rdir =>
      Option(fs.listStatus(rdir)).getOrElse(Array.empty)
        .filter(_.isDirectory).map(_.getPath).sortBy(_.getName)
        .flatMap { fam =>
          val journal = new Path(fam, ".compaction-journal")
          if (!fs.exists(journal)) None
          else {
            val outName = s"compacted-${rdir.getName}.hfile"
            val action =
              if (!fs.exists(new Path(fam, outName)))
                "rolledback" // output never landed: refs are untouched
              else {
                // forward: drop the consumed inputs. A corrupt journal
                // loses the list, but compactRefs consumes EVERY ref of
                // the family, so the derivable forward move is the same
                val inputs = readJournal(journal, 2) match {
                  case Some(parts) =>
                    parts(1).split(",").toSeq.filter(_.nonEmpty)
                  case None =>
                    Option(fs.listStatus(fam)).getOrElse(Array.empty)
                      .map(_.getPath.getName).filter(isReference).toSeq
                }
                inputs.foreach(r => fs.delete(new Path(fam, r), false))
                "rolledforward"
              }
            ProcedureJournal.consume(fs, journal)
            Some(s"${rdir.getName}/${fam.getName}" -> action)
          }
        }
    }
    (splits ++ merges ++ compactions).sortBy(_._1)
  }

  /** Metadata-only MERGE (HRegionFileSystem.mergeStoreFile:716-732,
    * CatalogJanitor.cleanMergeRegion:255-270): the merged region gains
    * one whole-file reference per parent store file — a TOP Reference
    * at the parent's start key (`Reference.createTopReference`), same
    * `<hfile>.<parentRegion>` naming — and every parent goes offline
    * awaiting janitor GC. Zero cells move, like the split.
    * `parentStartKeys` supplies each parent's region start key; absent
    * = the empty key (a first region's startKey — the TOP filter at
    * "" passes the whole file either way). */
  def mergeRegions(spark: SparkSession, tableDir: String,
      parents: Seq[String], merged: String,
      parentStartKeys: Map[String, Array[Byte]] = Map.empty): Unit = {
    val fs = fsOf(spark, tableDir)
    // the merge's procedure journal lives in the MERGED region dir:
    // present + parents still online (no .splitparent on every parent)
    // = a mid-merge crash (MergeTableRegionsProcedure.rollbackState)
    val mdir = new Path(tableDir, merged)
    fs.mkdirs(mdir)
    val journal = new Path(mdir, ".merge-journal")
    ProcedureJournal.write(spark.sparkContext.hadoopConfiguration,
      journal, parents, s"merge journal for $merged")
    for (parent <- parents) {
      val parentDir = new Path(tableDir, parent)
      val famDirs = Option(fs.listStatus(parentDir)).getOrElse(Array.empty)
        .filter(_.isDirectory).map(_.getPath).sortBy(_.getName)
      require(famDirs.nonEmpty, s"no stores under $parentDir")
      val startKey = parentStartKeys.getOrElse(parent, Array.emptyByteArray)
      for (fam <- famDirs) {
        val outDir = new Path(new Path(tableDir, merged), fam.getName)
        fs.mkdirs(outDir)
        require(!Option(fs.listStatus(fam)).getOrElse(Array.empty)
            .exists(x => isReference(x.getPath.getName)),
          s"merging $parent with reference files still present — " +
            "compact the parent first (the reference merges only " +
            "ONLINE regions whose stores are materialized)")
        for ((f, _) <- HFiles.listFiles(fs, fam.toString, "*.hfile")) {
          val out = fs.create(
            new Path(outDir, s"${new Path(f).getName}.$parent"), true)
          try out.write(SM.encodeReferenceFile(SM.RefHalf(startKey, top = true)))
          finally out.close()
        }
      }
      // offline marker — the META merge-qualifier row's twin; the
      // janitor's unreferenced check is the same for split and merge
      // parents (cleanParent / cleanMergeRegion)
      fs.create(new Path(parentDir, ".splitparent"), true).close()
      if (parent == parents.head) Failpoints.hit("merge.afterFirstParent")
    }
    ProcedureJournal.consume(fs, journal)
  }

  /** Read one region's stores, resolving Reference files through the
    * parent with the half filter; plain hfiles read whole. */
  def importStore(spark: SparkSession, tableDir: String,
      region: String): DataFrame = {
    val fs = fsOf(spark, tableDir)
    val regionDir = new Path(tableDir, region)
    val famDirs = Option(fs.listStatus(regionDir)).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getPath).sortBy(_.getName)
    val files = famDirs.flatMap { fam =>
      Option(fs.listStatus(fam)).getOrElse(Array.empty).filter(_.isFile)
        // dotfiles are lifecycle metadata (.splitparent offline marker,
        // .compaction-journal descriptor), never store data
        .filter(f => !f.getPath.getName.startsWith("."))
        .map { f =>
          val p = f.getPath
          if (isReference(p.getName)) {
            val half = SM.decodeReferenceFile(HFiles.readAll(fs, p))
            val target = referredToFile(p)
            val len = fs.getFileStatus(target).getLen
            (target.toString, len, Some((half.splitRow, half.top)))
          } else (p.toString, f.getLen, None)
        }
    }.toSeq
    HFiles.importFilesFiltered(spark, files)
  }

  /** The daughter's first compaction: materialize the resolved cells
    * into ONE real store file per family and drop the Reference
    * files. After this the daughter no longer pins its parent. */
  def compactRefs(spark: SparkSession, tableDir: String,
      region: String, blockSize: Int = 65536): Unit = {
    val fs = fsOf(spark, tableDir)
    val regionDir = new Path(tableDir, region)
    val famDirs = Option(fs.listStatus(regionDir)).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getPath).sortBy(_.getName)
    for (fam <- famDirs) {
      val refs = Option(fs.listStatus(fam)).getOrElse(Array.empty)
        .filter(f => isReference(f.getPath.getName))
      if (refs.nonEmpty) {
        val resolved = HFiles.importFilesFiltered(spark, refs.map { f =>
          val half = SM.decodeReferenceFile(HFiles.readAll(fs, f.getPath))
          val target = referredToFile(f.getPath)
          (target.toString, fs.getFileStatus(target).getLen,
            Some((half.splitRow, half.top)))
        }.toSeq)
        val stage = graft.Queries.scratchDir(s"refcompact_${region}_${fam.getName}")
        HFiles.export(resolved, numRegions = 1, outPath = stage,
          blockSize = blockSize)
        // compaction descriptor (the WAL COMPACTION marker's content —
        // CompactionDescriptor: inputs + output): durable BEFORE the
        // output lands, removed only after the inputs drop. A crash
        // between rename and ref deletion otherwise leaves BOTH the
        // materialized file and the references — every cell read twice.
        val outName = s"compacted-$region.hfile"
        val journal = new Path(fam, ".compaction-journal")
        ProcedureJournal.write(spark.sparkContext.hadoopConfiguration,
          journal, Seq(outName, refs.map(_.getPath.getName).mkString(",")),
          s"compaction journal for $region/${fam.getName}")
        require(fs.rename(new Path(s"$stage/part-00000.hfile"),
          new Path(fam, outName)),
          s"could not land the materialized daughter store for $region")
        // output landed, inputs alive: the window where a naive reader
        // sees the cells TWICE. The reference closes it with the WAL
        // compaction marker (HRegion.replayWALCompactionMarker completes
        // the file swap at open); the journal is that descriptor.
        Failpoints.hit("compactRefs.afterLanding")
        refs.foreach(f => fs.delete(f.getPath, false))
        ProcedureJournal.consume(fs, journal)
      }
    }
  }

  /** CatalogJanitor.cleanParent: GC (archive) every offline split
    * parent that no region still references. Returns the regions
    * GC'd. `archiveDir` receives the parent's store files (the
    * GCRegionProcedure archives, never hard-deletes — snapshots may
    * still link them; the archive cleaner chain owns final deletion). */
  def catalogJanitor(spark: SparkSession, tableDir: String,
      archiveDir: String): Seq[String] = {
    val fs = fsOf(spark, tableDir)
    val regions = Option(fs.listStatus(new Path(tableDir)))
      .getOrElse(Array.empty).filter(_.isDirectory).map(_.getPath)
    val parents = regions.filter(r =>
      fs.exists(new Path(r, ".splitparent"))).sortBy(_.getName)
    if (parents.isEmpty) return Nil
    // every referenced parent region name across ALL regions' stores
    val referenced: Set[String] = regions.flatMap { r =>
      Option(fs.listStatus(r)).getOrElse(Array.empty)
        .filter(_.isDirectory).flatMap { fam =>
          Option(fs.listStatus(fam.getPath)).getOrElse(Array.empty)
            .map(_.getPath.getName).filter(isReference)
            .map(n => n.substring(n.lastIndexOf('.') + 1))
        }
    }.toSet
    parents.filter(p => !referenced.contains(p.getName)).map { p =>
      val dest = new Path(archiveDir, p.getName)
      fs.mkdirs(new Path(archiveDir))
      require(fs.rename(p, dest), s"could not archive split parent $p")
      p.getName
    }.toSeq
  }
}
