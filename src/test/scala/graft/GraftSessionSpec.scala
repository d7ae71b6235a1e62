package graft

/** Bench and Scratch share one board session function; these pins show
  * Bench's effective configuration is what it set inline before the
  * split-emulation configs moved into [[GraftSession.boardConfigs]]. */
class GraftSessionSpec extends SparkSpec {

  test("board session sets Bench's split emulation") {
    assert(GraftSession.boardConfigs == Map(
      "spark.sql.files.maxPartitionBytes" -> "1m",
      "spark.sql.files.openCostInBytes" -> "131072",
      "spark.sql.codegenCacheMaxEntries" -> "5000"))
  }

  test("every session uses the sort-based shuffle writer") {
    val k = "spark.shuffle.sort.bypassMergeThreshold"
    assert(GraftSession.requiredConfigs(k) == "1")
    assert(spark.sparkContext.getConf.get(k) == "1")
  }
}
