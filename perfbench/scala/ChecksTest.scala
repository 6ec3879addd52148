package perfbench

/** Self-test of the output checks: each check passes a correct output and
  * catches a deliberately corrupted one; also the plan-kernel reading the
  * `functions` attribution uses. Exits non-zero if any expectation fails.
  *
  *   java -cp <classes>:<spark jars> perfbench.ChecksTest
  */
object ChecksTest {

  private var failures = 0

  private def expect(what: String, ok: Boolean): Unit =
    if (!ok) { failures += 1; System.err.println(s"FAIL: $what") }
    else println(s"ok: $what")

  private def passes(what: String, r: Option[String]): Unit =
    expect(s"$what passes (${r.getOrElse("")})", r.isEmpty)
  private def catches(what: String, r: Option[String]): Unit =
    expect(s"$what is caught", r.isDefined)

  def main(args: Array[String]): Unit = {
    val keys = Seq("player", "game_mode", "role")
    val good = """[{"player":1,"game_mode":"A","role":"F","played":3},""" +
      """{"player":1,"game_mode":"A","role":"O","played":1},""" +
      """{"player":2,"game_mode":"N","role":"F","played":2},""" +
      """{"player":10,"game_mode":"A","role":"F","played":5}]"""
    passes("ordered store read", Checks.storeBody(good, 10, keys))
    catches("store read over its limit", Checks.storeBody(good, 3, keys))
    catches("store read out of key order", Checks.storeBody(
      good.replace("\"player\":10", "\"player\":0"), 10, keys))
    catches("store read out of order on a later key", Checks.storeBody(
      good.replace("\"role\":\"O\"", "\"role\":\"A\""), 10, keys))
    catches("store row missing a key", Checks.storeBody(
      good.replace("\"game_mode\":\"N\",", ""), 10, keys))
    catches("truncated store body", Checks.storeBody(good.dropRight(2), 10, keys))
    catches("empty store read", Checks.storeBody("[]", 10, keys))

    val rows = Checks.jsonRows(good).toOption.get
    passes("query rows in another order", Checks.queryBody(
      "[" + rows.reverse.mkString(",") + "]", rows))
    catches("query row with a changed measure", Checks.queryBody(
      good.replace("\"played\":2", "\"played\":4"), rows))
    catches("query body missing a row", Checks.queryBody(
      "[" + rows.tail.mkString(",") + "]", rows))
    catches("query body with a duplicated row", Checks.queryBody(
      "[" + (rows :+ rows.head).mkString(",") + "]", rows))

    expect("write response committed", Checks.writeBody(
      """{"store":"players","tag":"w1","committed":true,"version":7}""") == Right(true))
    expect("write response not committed is reported", Checks.writeBody(
      """{"store":"players","tag":"w1","committed":false,"version":7}""") == Right(false))
    expect("write error body is caught", Checks.writeBody("""{"error":"x"}""").isLeft)

    passes("drop folded once", Checks.dropFolded(4000, 4000, 3, 4))
    catches("drop folded twice", Checks.dropFolded(4000, 8000, 3, 5))
    catches("drop partly read", Checks.dropFolded(4000, 3999, 3, 4))
    catches("cycle that committed nothing", Checks.dropFolded(4000, 4000, 3, 3))

    val snap = Seq(Seq[Any](1L, "A", "F", 3L, new java.math.BigDecimal("45.00")),
      Seq[Any](2L, "N", "O", 1L, new java.math.BigDecimal("7.50")))
    val canon = snap.map(Checks.canon)
    passes("snapshot equal up to decimal scale and order", Checks.sameRows("s",
      canon, Seq(Seq[Any](2L, "N", "O", 1L, new java.math.BigDecimal("7.5")),
        Seq[Any](1L, "A", "F", 3L, new java.math.BigDecimal("45"))).map(Checks.canon)))
    catches("snapshot with a drop folded twice", Checks.sameRows("s", canon,
      Seq(Seq[Any](1L, "A", "F", 6L, new java.math.BigDecimal("90.00")), snap(1))
        .map(Checks.canon)))
    catches("snapshot missing a key", Checks.sameRows("s", canon, canon.take(1)))

    // functions attribution reads the kernels off a physical plan
    val plan = "ObjectHashAggregate(keys=[player#1], " +
      "functions=[partial_graft_sketch_merge(heroes#7, 0, 0), partial_sum(played#3)])\n" +
      "+- Project [graft_sketch_est(heroes#7) AS heroes#9]\n" +
      "+- FileScan parquet [player#1] Location: InMemoryFileIndex[file:/w/graft_stores/p]"
    expect("plan kernels are read", Trace.kernels(plan) == "graft_sketch_est,graft_sketch_merge")
    expect("a plan with no kernel has none", Trace.kernels(
      "HashAggregate(keys=[player#1], functions=[sum(played#3)])") == "")

    if (failures > 0) { System.err.println(s"$failures check test(s) failed"); sys.exit(1) }
    println("all check tests passed")
  }
}
