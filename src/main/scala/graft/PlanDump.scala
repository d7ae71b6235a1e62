package graft

/** Dev tool: write `.explain("formatted")` for named queries to files —
  * the before/after plan artifacts the optimization rounds commit under
  * plans/rNN/. Unlike [[Plans]] (print + hard assertions), this only
  * captures plan text, so a capture run is cheap and side-effect-free.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <name> [name ...]
  *   → <outDir>/<name>_<suffix>.txt
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <name>...")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    // 4 partitions, not the board session: the committed plans/rNN/
    // artifacts were captured at this width, and a new capture must diff
    // against them
    val spark = GraftSession.builder("local[4]", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val qs = SparkEntry.queries
    names.foreach { n =>
      val plan =
        try qs(n)(spark, "/root/testdata/sf0.01")
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"PLAN CAPTURE FAILED: ${e.getMessage}" }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), plan)
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
