package graft

import graft.streaming.ScaleRehearsalStream

/** The rehearsal runners and their shared scaffold, at sf0.001 on the
  * shared session: every REQUIRE a run makes must hold (a failing one
  * throws), and the [[Rehearsal]] helpers keep their contracts.
  */
class RehearsalSpec extends SparkSpec {

  test("passage rehearsal holds its REQUIREs") {
    ScaleRehearsalPassage.rehearse(spark, sf, Seq(1, 2))
  }

  test("the four epoch-index curves hold their REQUIREs") {
    Seq(Nil, Seq("--quote"), Seq("--novelty"), Seq("--health")).foreach {
      mode => ScaleRehearsalStream.rehearse(spark, sf, mode ++ Seq("1", "2"))
    }
  }

  test("the live passage stream bounds its chain") {
    ScaleRehearsalStream.rehearse(spark, sf, Seq("--live", "5", "2"))
  }

  test("cached: keyed on the corpus, rebuilt without its marker") {
    val name = s"graft-rehearsal-spec-${java.util.UUID.randomUUID()}"
    var builds = 0
    def build(p: String): Unit = { builds += 1; new java.io.File(p).mkdirs() }
    val a = Rehearsal.cached(name, "/data/sf0.001")(build)
    val b = Rehearsal.cached(name, "/data/sf0.01")(build)
    try {
      assert(a != b && builds == 2, "each corpus gets its own cache")
      Rehearsal.cached(name, "/data/sf0.001")(build)
      assert(builds == 2, "a marked cache is reused")
      assert(new java.io.File(s"$a/_OK").delete())
      Rehearsal.cached(name, "/data/sf0.001")(build)
      assert(builds == 3, "a missing marker rebuilds")
      Rehearsal.cached(name, "/data/sf0.001", _ => false)(build)
      assert(builds == 4, "a rejected cache rebuilds")
    } finally { Rehearsal.rmrf(a); Rehearsal.rmrf(b) }
  }

  test("same: the first value is the expectation, drift throws") {
    val same = Rehearsal.same[Int]("count drifted at")
    same(1, 5)
    same(2, 5)
    val e = intercept[IllegalArgumentException](same(3, 6))
    assert(e.getMessage.contains("count drifted at 3: 6 != 5"))
    val c = intercept[IllegalArgumentException](same(4, 7, "compaction changed it at"))
    assert(c.getMessage.contains("compaction changed it at 4: 7 != 5"))
  }
}
