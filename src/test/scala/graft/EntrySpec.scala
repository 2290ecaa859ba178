package graft

/** Contract smoke: every registry entry runs at sf0.001; registry names are
  * unique; entry() returns rows. */
class EntrySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // the name-keyed views are built with toMap, which would silently drop a
  // duplicate entry
  test("registry names are unique") {
    val dups = SparkEntry.registry.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate registry names: $dups")
  }

  // queries that legitimately return few/zero rows at tiny scale
  private val mayBeEmpty = Set("q_anti_join")

  for (q <- SparkEntry.registry.sortBy(_.name)) {
    test(s"${q.name} runs at sf0.001") {
      val n = q.run(spark, sf).count()
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned 0 rows")
    }
  }

  test("entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
