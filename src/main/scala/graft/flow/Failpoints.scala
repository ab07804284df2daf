package graft.flow

/** Named crash points in the durable protocols — the twin of the
  * reference's ProcedureTestingUtility kill toggles. A protocol calls
  * [[hit]] at a step; [[crashAt]] arms one name for the calling thread
  * only (a plain, non-inheritable ThreadLocal: concurrent queries and
  * threads the armed body starts never see it), so the step throws
  * [[Crash]] there and nowhere else. Unarmed, a hit is one
  * thread-local read. */
object Failpoints {

  final case class Crash(point: String)
      extends RuntimeException(s"injected crash at failpoint $point")

  private val armed = new ThreadLocal[String]

  def hit(name: String): Unit = if (name == armed.get) throw Crash(name)

  /** Run `body` with `name` armed and return the crash it raised; fails
    * when `body` finishes without reaching the point, and passes every
    * other failure through. */
  private[graft] def crashAt(name: String)(body: => Any): Crash = {
    val outer = armed.get
    armed.set(name)
    try {
      body
      throw new IllegalStateException(s"failpoint $name was never reached")
    } catch { case c: Crash if c.point == name => c }
    finally armed.set(outer)
  }
}
