package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.flow.ProcedureJournal

/** The shared procedure-journal protocol (journal-before-mutation,
  * tolerant read, consume-last, sweep decision shape) — the primitives
  * every crash journal (split/merge/compaction/DDL) builds on. */
class ProcedureJournalSpec extends AnyFunSuite {

  private def fixture() = {
    val dir = java.nio.file.Files.createTempDirectory("pjournal").toString
    val conf = new Configuration()
    val p = new Path(s"$dir/j")
    (conf, p.getFileSystem(conf), p)
  }

  test("write/readTolerant round-trips; empty parts are refused") {
    val (conf, fs, p) = fixture()
    ProcedureJournal.write(conf, p, Seq("a", "b|c".replace("|", "_"), "d"),
      "test")
    assert(ProcedureJournal.readTolerant(fs, p, 3)
      .map(_.toSeq).contains(Seq("a", "b_c", "d")))
    // nParts <= 0 accepts any non-empty count
    assert(ProcedureJournal.readTolerant(fs, p, -1).isDefined)
    // wrong arity = corruption signal, not an exception
    assert(ProcedureJournal.readTolerant(fs, p, 2).isEmpty)
    intercept[IllegalArgumentException](
      ProcedureJournal.write(conf, p, Seq("a", ""), "test"))
    intercept[IllegalArgumentException](
      ProcedureJournal.write(conf, p, Nil, "test"))
  }

  test("a corrupt payload reads as None (derivable-recovery trigger)") {
    val (_, fs, p) = fixture()
    val out = fs.create(p, true)
    try out.write("x||y".getBytes("UTF-8")) finally out.close()
    assert(ProcedureJournal.readTolerant(fs, p, -1).isEmpty)
    assert(ProcedureJournal.readTolerant(fs, p, 3).isEmpty)
  }

  test("sweepOne: marker routes forward/back, journal consumed either way") {
    val (conf, fs, p) = fixture()
    var log = Vector.empty[String]
    ProcedureJournal.write(conf, p, Seq("x"), "test")
    assert(ProcedureJournal.sweepOne(fs, p, passedPointOfNoReturn = true,
      rollForward = { log :+= "fwd" }, rollBack = { log :+= "back" })
      == "completed")
    assert(log == Vector("fwd") && !fs.exists(p))
    ProcedureJournal.write(conf, p, Seq("x"), "test")
    assert(ProcedureJournal.sweepOne(fs, p, passedPointOfNoReturn = false,
      rollForward = { log :+= "fwd" }, rollBack = { log :+= "back" })
      == "rolledback")
    assert(log == Vector("fwd", "back") && !fs.exists(p))
  }

  test("a failpoint fires only armed, by name, on the arming thread, inside the block") {
    import graft.flow.Failpoints
    Failpoints.hit("p") // unarmed: a no-op
    var other: Option[Throwable] = None
    val crash = Failpoints.crashAt("p") {
      Failpoints.hit("q")
      val t = new Thread(() => other = scala.util.Try(Failpoints.hit("p")).failed.toOption)
      t.start(); t.join()
      Failpoints.hit("p")
    }
    assert(crash.point == "p")
    assert(other.isEmpty, "a thread started inside the block must not see the armed point")
    Failpoints.hit("p") // disarmed once the block ends
    intercept[IllegalStateException](Failpoints.crashAt("p")(Failpoints.hit("q")))
  }
}
