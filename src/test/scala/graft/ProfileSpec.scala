package graft

/** The Profile dev utility: timings, then the formatted plan. */
class ProfileSpec extends SparkSpec {

  test("Profile.run: three RUNi lines per name, then the formatted plan") {
    val out = Profile.run(spark, Seq("a1_catalog_topk"),
      "/root/testdata/sf0.001").toList
    assert(out.size === 4, out.mkString("\n"))
    out.take(3).zipWithIndex.foreach { case (l, i) =>
      assert(l.matches(s"a1_catalog_topk RUN${i + 1}=[0-9.E-]+"), l)
    }
    val plan = out(3)
    assert(plan.contains("== Physical Plan =="), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }
}
