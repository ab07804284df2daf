package graft

/** Every registered scale family at scale 1 over the smallest fixture:
  * each input builds, each step runs and each check holds. */
class ScaleSpec extends SparkSpec {

  test("every scale family runs at scale 1 with no failed check") {
    val failures = Scale.run(spark, Scale.families, data = Some(sf0001), scales = Some(Seq(1)))
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
