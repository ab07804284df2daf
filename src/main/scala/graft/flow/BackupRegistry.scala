package graft.flow

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Backup image registry — the BackupSystemTable twin
  * (hbase-backup/.../impl/BackupSystemTable.java: the `backup:system`
  * table rows keyed `session:<backupId>`, BackupInfo proto values;
  * BackupAdminImpl.java `getHistory`, `deleteBackups`).
  *
  * The reference keeps one registry row per backup image: id, type
  * (FULL/INCREMENTAL), covered tables, the ancestor chain an
  * incremental restore walks, and the WAL-timestamp watermark the next
  * incremental starts from. graft persists the same registry as a flat
  * marker file under the backup root (`.backup-registry`) rewritten
  * write-then-rename — registry state is image-count-sized driver
  * metadata, exactly like `.snapshotinfo`; the images THEMSELVES are
  * the durable bulk artifacts (q38/q91's stores).
  *
  * The load-bearing rule is the DELETE GUARD (BackupAdminImpl
  * .deleteBackup): an image with dependent incrementals must not be
  * deleted alone — the dependents' restore chain would silently break
  * at its missing link. `deleteBackup` refuses; `force = true` cascades
  * over the dependent subtree instead (the reference's
  * delete-with-affected-sessions path).
  */
object BackupRegistry {

  /** One registry row (BackupInfo's registry-visible fields).
    * `ancestor` is the PREVIOUS image in the restore chain ("" for a
    * full backup — chain roots); `watermarkTs` is the image's
    * inclusive upper cell-timestamp bound, the next incremental's
    * exclusive lower bound (the reference's log-roll timestamp map). */
  final case class BackupImage(backupId: String, backupType: String,
      tables: Seq[String], ancestor: String, startTs: Long,
      completeTs: Long, watermarkTs: Long, state: String = "COMPLETE") {
    require(backupType == "FULL" || backupType == "INCREMENTAL",
      s"unknown backup type $backupType")
    require(backupType == "INCREMENTAL" || ancestor.isEmpty,
      "a FULL backup roots its chain — no ancestor")
    require(!backupId.contains("|") && !ancestor.contains("|") &&
      tables.forall(t => !t.contains("|") && !t.contains(",")),
      "registry fields may not contain the record separators")
  }

  private def registryPath(root: String) = new Path(root, ".backup-registry")

  private def fsOf(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def encode(i: BackupImage): String =
    Seq(i.backupId, i.backupType, i.tables.mkString(","), i.ancestor,
      i.startTs, i.completeTs, i.watermarkTs, i.state).mkString("|")

  private def decode(line: String): Option[BackupImage] =
    line.split("\\|", -1) match {
      case Array(id, tp, tabs, anc, s, c, w, st) =>
        for {
          sl <- s.toLongOption; cl <- c.toLongOption; wl <- w.toLongOption
        } yield BackupImage(id, tp,
          tabs.split(",").toSeq.filter(_.nonEmpty), anc, sl, cl, wl, st)
      case _ => None
    }

  /** Atomic overwrite ([[FsAtomic.writeAtomic]]): a reader always sees
    * either the old or the new registry, never none, so a crash cannot
    * make a later register() silently rebuild from empty. */
  private def writeAll(spark: SparkSession, root: String,
      images: Seq[BackupImage]): Unit =
    FsAtomic.writeAtomic(spark.sparkContext.hadoopConfiguration,
      registryPath(root), images.map(encode).mkString("\n").getBytes("UTF-8"),
      "backup registry")

  /** Every registered image, registration order. Unparseable lines are
    * skipped (the .snapshotinfo degradation contract — one corrupt row
    * must not wedge every backup session that follows). */
  def listImages(spark: SparkSession, root: String): Seq[BackupImage] = {
    val fs = fsOf(spark, root)
    val p = registryPath(root)
    if (!fs.exists(p)) return Nil
    new String(HFiles.readAll(fs, p), "UTF-8").split("\n").toSeq
      .filter(_.nonEmpty).flatMap(decode)
  }

  /** Register a completed image (BackupSystemTable.updateBackupInfo on
    * completion). Re-registering an existing id replaces its row. */
  def register(spark: SparkSession, root: String,
      image: BackupImage): Unit = {
    require(image.ancestor.isEmpty ||
      listImages(spark, root).exists(_.backupId == image.ancestor),
      s"ancestor ${image.ancestor} is not registered")
    writeAll(spark, root,
      listImages(spark, root).filter(_.backupId != image.backupId) :+ image)
  }

  /** BackupAdminImpl.getHistory: newest first (by completion ts, then
    * id for a stable tie-break). */
  def history(spark: SparkSession, root: String): Seq[BackupImage] =
    listImages(spark, root).sortBy(i => (-i.completeTs, i.backupId))

  /** Transitive dependents of `backupId` — every image whose restore
    * chain walks THROUGH it. The guard quantity. */
  def dependents(images: Seq[BackupImage], backupId: String): Seq[String] = {
    val byAncestor = images.groupBy(_.ancestor)
    def walk(id: String): Seq[String] =
      byAncestor.getOrElse(id, Nil).flatMap(c => c.backupId +: walk(c.backupId))
    walk(backupId).distinct
  }

  /** The restore chain of `backupId`, root-first (RestoreTablesClient
    * walks FULL → inc…): the sequence a restore replays. */
  def restoreChain(spark: SparkSession, root: String,
      backupId: String): Seq[BackupImage] = {
    val byId = listImages(spark, root).map(i => i.backupId -> i).toMap
    def walk(id: String, acc: List[BackupImage]): List[BackupImage] =
      byId.get(id) match {
        case None => acc
        case Some(i) =>
          if (i.ancestor.isEmpty) i :: acc else walk(i.ancestor, i :: acc)
      }
    walk(backupId, Nil)
  }

  /** Guarded delete (BackupAdminImpl.deleteBackup): refuses to orphan
    * dependent incrementals — their chains would break at the missing
    * link. `force = true` cascades over the dependent subtree instead.
    * Returns the ids actually removed from the registry, chain-leaf
    * first. Deleting the image STORES is the caller's step — the
    * registry is the source of truth for what may go. */
  def deleteBackup(spark: SparkSession, root: String, backupId: String,
      force: Boolean = false): Seq[String] = {
    val images = listImages(spark, root)
    require(images.exists(_.backupId == backupId),
      s"no such backup $backupId")
    val deps = dependents(images, backupId)
    if (deps.nonEmpty && !force)
      throw new IllegalStateException(
        s"backup $backupId has dependent incremental images " +
          s"${deps.mkString(", ")}; delete them first or pass force")
    val doomed = (deps :+ backupId).toSet
    writeAll(spark, root, images.filterNot(i => doomed.contains(i.backupId)))
    // leaf-first: reverse chain order so a crash mid-cleanup never
    // leaves a chain pointing at a missing ancestor
    deps.reverse :+ backupId
  }

  // ------------------------------------------------------------------
  // Backup sets — named table groups (BackupSystemTable.java:829-931,
  // BackupAdminImpl.java:385-445): `backup create ... -set name`
  // resolves a set to its tables at session start.
  // ------------------------------------------------------------------

  private def setsPath(root: String) = new Path(root, ".backup-sets")

  private def readSets(spark: SparkSession, root: String)
      : Map[String, Seq[String]] = {
    val fs = fsOf(spark, root)
    val p = setsPath(root)
    if (!fs.exists(p)) return Map.empty
    new String(HFiles.readAll(fs, p), "UTF-8").split("\n").toSeq.filter(_.nonEmpty)
      .flatMap { line =>
        line.split("\\|", -1) match {
          case Array(name, tabs) =>
            Some(name -> tabs.split(",").toSeq.filter(_.nonEmpty))
          case _ => None
        }
      }.toMap
  }

  private def writeSets(spark: SparkSession, root: String,
      sets: Map[String, Seq[String]]): Unit =
    FsAtomic.writeAtomic(spark.sparkContext.hadoopConfiguration,
      setsPath(root), sets.toSeq.sortBy(_._1)
        .map { case (n, ts) => s"$n|${ts.mkString(",")}" }
        .mkString("\n").getBytes("UTF-8"), "backup sets")

  /** BackupSystemTable.addToBackupSet: union with the existing
    * membership (":876-899" — a fresh name creates the set). */
  def addToBackupSet(spark: SparkSession, root: String, name: String,
      tables: Seq[String]): Unit = {
    require(name.nonEmpty && !name.contains("|") &&
      tables.forall(t => t.nonEmpty && !t.contains(",") && !t.contains("|")),
      "set fields may not contain the record separators")
    val sets = readSets(spark, root)
    val union = (sets.getOrElse(name, Nil) ++ tables).distinct
    writeSets(spark, root, sets + (name -> union))
  }

  /** BackupSystemTable.removeFromBackupSet (":902-931"): disjoint the
    * named tables; an emptied set is DELETED outright. Removing from a
    * missing set is a no-op warning in the reference — same here. */
  def removeFromBackupSet(spark: SparkSession, root: String, name: String,
      tables: Seq[String]): Unit = {
    val sets = readSets(spark, root)
    sets.get(name).foreach { cur =>
      val rest = cur.filterNot(tables.toSet)
      if (rest.isEmpty) writeSets(spark, root, sets - name)
      else writeSets(spark, root, sets + (name -> rest))
    }
  }

  /** BackupSystemTable.listBackupSets via describe — name → tables. */
  def listBackupSets(spark: SparkSession, root: String)
      : Map[String, Seq[String]] = readSets(spark, root)

  /** BackupSystemTable.describeBackupSet: None for a missing set. */
  def describeBackupSet(spark: SparkSession, root: String,
      name: String): Option[Seq[String]] =
    readSets(spark, root).get(name)

  /** BackupAdminImpl.deleteBackupSet: false when the set is missing. */
  def deleteBackupSet(spark: SparkSession, root: String,
      name: String): Boolean = {
    val sets = readSets(spark, root)
    if (!sets.contains(name)) false
    else { writeSets(spark, root, sets - name); true }
  }
}
