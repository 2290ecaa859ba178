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

  /** The `graft-*` dirs in `java.io.tmpdir`, where query runs make their
    * scratch space. */
  private def scratchDirs(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list()).toSet.flatten
      .filter(_.startsWith("graft-"))

  for (q <- SparkEntry.registry.sortBy(_.name)) {
    test(s"${q.name} runs at sf0.001") {
      val n = q.run(spark, sf)(_.count())
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned 0 rows")
    }
  }

  // one pass above ran every entry; a second pass must leave the temp dir as
  // it found it, and a frame taken from the name-keyed view stays readable
  // after its run's scratch space is gone
  test("registry runs delete their scratch space once the result is consumed") {
    val before = scratchDirs()
    for (q <- SparkEntry.registry) q.run(spark, sf)(_.count())
    assert(scratchDirs() -- before == Set.empty)
    val roundtrip = SparkEntry.queries("q_file_roundtrip")(spark, sf)
    assert(scratchDirs() -- before == Set.empty)
    assert(roundtrip.count() == spark.read.parquet(s"$sf/orders.parquet").count())
  }

  test("entry() flagship returns rows") {
    val before = scratchDirs()
    assert(SparkEntry.entry(spark)(_.count()) > 0)
    assert(scratchDirs() -- before == Set.empty)
  }
}
