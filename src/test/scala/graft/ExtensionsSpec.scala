package graft

import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions registers the native SQL functions on the session
  * `GraftSession.local` builds (the `spark.sql.extensions` deployment
  * path), which the suites share. */
class ExtensionsSpec extends AnyFunSuite {

  test("all native functions are SQL-callable via withExtensions") {
    val s = TestSession.spark
    val dot = s.sql("SELECT dot_fold(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(dot === 11.0)
    val enc = s.sql("SELECT ordered_encode(CAST(42 AS BIGINT)) AS k")
      .head().getAs[Array[Byte]](0)
    assert(enc.length === 8)
    val sigs = s.sql("SELECT minhash_sigs(array('a b c', 'b c d'), 4) AS m")
      .head().getSeq[Long](0)
    assert(sigs.length === 4)
    val vis = s.sql(
      "SELECT vis_match('public|secret&internal', 'public', 'finance') AS v")
      .head().getBoolean(0)
    assert(!vis) // reference precedence: (public|secret)&internal
    assert(s.sql("SELECT vis_match('!secret&finance', 'public', 'finance') AS v")
      .head().getBoolean(0))
    // non-literal auths must fail at plan time
    assertThrows[Exception](
      s.sql("SELECT vis_match('a', CAST(rand() * 0 AS STRING)) AS v").collect())
    // hb-mode encode: reference wire format (9-byte FIXED_INT64 with
    // 0x2c header) vs graft's 8-byte layout above
    val hb = s.sql("SELECT ordered_encode_hb(CAST(42 AS BIGINT)) AS k")
      .head().getAs[Array[Byte]](0)
    assert(hb.length === 9 && hb(0) === 0x2c.toByte)
    // acl_check read gate: direct grant, group grant, denial
    assert(s.sql("SELECT acl_check('alice:RW,@eng:R', 'alice') AS a")
      .head().getBoolean(0))
    assert(s.sql("SELECT acl_check('bob:RW,@eng:R', 'alice', '@eng') AS a")
      .head().getBoolean(0))
    assert(!s.sql("SELECT acl_check('bob:RW', 'alice', '@eng') AS a")
      .head().getBoolean(0))
  }
}
