package graft

import java.io.File

/** The harness's shared core, without forking a cluster: the
  * cross-topology compare and its status line, the measure step's
  * within-session row check, and the scaled-corpus cache's completion
  * marker. */
class HarnessSpec extends SparkSpec {

  private def run(rows: String*): Harness.Run = (1.0, rows)

  test("compare: identical rows at every topology give the ok line") {
    val results = Seq(
      "1" -> Seq("q" -> (2.0, Seq("a", "b"))),
      "2" -> Seq("q" -> (1.0, Seq("a", "b"))))
    assert(Harness.diverged(results).isEmpty)
    assert(Harness.statusLine("m", """"sf":"x",""", Nil)(""""n":1""") ==
      """{"metric":"m","sf":"x","status":"ok","n":1}""")
  }

  test("compare: each diverging probe is named probe@topology in the diverged line") {
    val results = Seq(
      "1" -> Seq("q" -> run("a"), "r" -> run("x")),
      "2" -> Seq("q" -> run("a"), "r" -> run("y")),
      "4" -> Seq("q" -> run("b"), "r" -> run("x")))
    val d = Harness.diverged(results)
    assert(d == Seq(("r@2", Seq("x"), Seq("y")), ("q@4", Seq("a"), Seq("b"))))
    assert(Harness.statusLine("m", """"sf":"x",""", d.map(_._1))(
      fail("the ok fields are not built for a diverged line")) ==
      """{"metric":"m","status":"diverged","failed":"r@2,q@4"}""")
  }

  test("measure: a warm pass over every probe, then two timed runs each, min taken") {
    val calls = scala.collection.mutable.ArrayBuffer[String]()
    def probe(q: String, secs: Double*): (String, () => Harness.Run) =
      q -> (() => { calls += q; (secs(calls.count(_ == q) - 1), Seq(q)) })
    val r = Harness.measure(spark, Seq(probe("a", 9, 3, 2), probe("b", 9, 1, 4)))
    assert(calls == Seq("a", "b", "a", "a", "b", "b"))
    assert(r == Seq("a" -> ((2.0, Seq("a"))), "b" -> ((1.0, Seq("b")))))
  }

  test("measure: throws when the two timed runs return different rows") {
    var calls = 0
    val e = intercept[IllegalArgumentException] {
      Harness.measure(spark, Seq("p" -> (() => { calls += 1; (1.0, Seq(calls.toString)) })))
    }
    assert(e.getMessage.contains("p: the two timed runs returned different rows"))
  }

  test("cached: a directory without _SUCCESS is rebuilt, one with it is reused") {
    val dir = tempDir("harness-cache")
    try {
      val partial = new File(dir, "part-00000")
      partial.createNewFile()
      var builds = 0
      def build(d: String): Unit = {
        builds += 1
        new File(d).mkdirs()
        new File(d, "part-00001").createNewFile()
      }
      assert(Harness.cached(dir.getPath)(build) == dir.getPath)
      assert(builds == 1 && !partial.exists())
      assert(new File(dir, "part-00001").exists() && new File(dir, "_SUCCESS").exists())
      Harness.cached(dir.getPath)(build)
      assert(builds == 1)
    } finally LocalFiles.rmTree(dir)
  }
}
