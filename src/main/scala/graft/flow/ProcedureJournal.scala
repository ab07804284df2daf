package graft.flow

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The shared crash-journal shape behind every multi-step mutation —
  * the engine's minimal twin of the reference's procedure-v2 store
  * (hbase-procedure/.../ProcedureExecutor.java: executeFromState
  * drives steps forward, rollbackState unwinds them after a crash;
  * MasterProcedureStore makes the step list durable BEFORE the first
  * mutation). graft's split, merge, compaction, and multi-step DDL
  * journals all follow the same protocol:
  *
  *  1. JOURNAL BEFORE FIRST MUTATION — an atomic write (FsAtomic)
  *     records the procedure's inputs where the recovery sweep will
  *     look, so a crash at ANY later point leaves evidence;
  *  2. POINT-OF-NO-RETURN MARKER — some durable artifact distinguishes
  *     "all mutations landed" (roll FORWARD: finish the cleanup the
  *     dead run skipped) from "mid-flight" (roll BACK: undo by the
  *     journal's record);
  *  3. CONSUME LAST — the journal is deleted only after commit or
  *     recovery, so the sweep is idempotent (a second pass finds
  *     nothing);
  *  4. DERIVABLE RECOVERY — when the journal itself is corrupt, the
  *     payload is re-derived from the mutation's own naming
  *     conventions (reference files carry `.{parent}` suffixes etc.),
  *     so one bad journal never wedges the sweep.
  *
  * [[graft.flow.RegionRefs.recoverInterruptedSplits]] sweeps the
  * region-lifecycle journals; [[graft.admin.GAdmin.recoverInterruptedDdl]]
  * sweeps the DDL journals (clone/restore snapshot).
  */
object ProcedureJournal {

  /** Protocol step 1: land the journal atomically before the first
    * mutation. `parts` must be non-empty strings (the tolerant read
    * rejects empties as corruption). */
  def write(conf: Configuration, journal: Path, parts: Seq[String],
      what: String): Unit = {
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"journal parts must be non-empty for $what")
    FsAtomic.writeAtomic(conf, journal,
      parts.mkString("|").getBytes("UTF-8"), what)
  }

  /** Tolerant read: Some(parts) when the payload parses as `nParts`
    * non-empty fields (nParts <= 0 = any count), None on corruption.
    * Journals are written atomically, so a parse failure can only be
    * pre-atomic legacy or external corruption — and a journal that
    * never finished writing implies NO step after it ran. Callers fall
    * back to DERIVABLE recovery (or treat the drop itself as the
    * rollback) instead of throwing, so one bad journal cannot wedge
    * the whole sweep forever. */
  def readTolerant(fs: FileSystem, journal: Path,
      nParts: Int): Option[Array[String]] = {
    val parts = new String(HFiles.readAll(fs, journal), "UTF-8").split("\\|", -1)
    if ((nParts <= 0 && parts.forall(_.nonEmpty)) ||
        (parts.length == nParts && parts.forall(_.nonEmpty)))
      Some(parts)
    else None
  }

  /** Protocol step 3: consume after commit or recovery. */
  def consume(fs: FileSystem, journal: Path): Unit =
    fs.delete(journal, false)

  /** The sweep decision shape shared by every journal kind: if the
    * point-of-no-return marker is durable, roll FORWARD (finish the
    * cleanup); otherwise roll BACK (undo by the journal); either way
    * consume the journal last. Returns the action taken. */
  def sweepOne(fs: FileSystem, journal: Path,
      passedPointOfNoReturn: => Boolean,
      rollForward: => Unit, rollBack: => Unit): String = {
    val action =
      if (passedPointOfNoReturn) { rollForward; "completed" }
      else { rollBack; "rolledback" }
    consume(fs, journal)
    action
  }
}
