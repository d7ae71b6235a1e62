package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fused trainer aggregates (tree_fit3 / gbt_fit4 / logit_fit4 /
  * forest_fit8) claim determinism by construction: their state is a cell
  * multiset and every eval iteration runs over sorted maps, so
  * partial-buffer ARRIVAL ORDER must not matter. This spec drives each
  * aggregate through radically different physical layouts (1 partition
  * vs 13 partitions vs reversed input order, plus rows with a null input
  * that must be skipped) and asserts bit-identical results — the
  * property that makes the fused rows replayable at any cluster
  * parallelism.
  */
class FitAggregatesSpec extends SparkSpec {

  import spark.implicits._

  // a synthetic cell grid with duplicate (x1, x2) cells across groups,
  // score ties, and a group too small to split at depth 3
  private lazy val cells: DataFrame = {
    val rows = for {
      g <- Seq("a", "b", "c")
      x1 <- 0L until (if (g == "c") 1L else 6L)
      x2 <- 1L to (if (g == "c") 1L else 4L)
    } yield (g, x1, x2, 3L + (x1 * 7 + x2 * 3) % 5,
      (x1 * 5 + x2 * 11) % 3)
    rows.toDF("g", "x1", "x2", "n", "yc")
  }

  private def run(aggExpr: String, df: DataFrame): Seq[Seq[Any]] =
    df.groupBy("g").agg(expr(aggExpr).as("t"))
      .collect().map(_.toSeq.map {
        case r: org.apache.spark.sql.Row => r.toString
        case s: Seq[_] => s.map(_.toString).toString
        case other => String.valueOf(other)
      }).sortBy(_.mkString("|")).map(_.asInstanceOf[Seq[Any]]).toSeq

  // the last layout adds, per input column, copies of the x2 = 1 rows
  // with that column null: the shared FitAggregate update must skip
  // them, so it too gives the null-free grid's result
  private def layouts(df: DataFrame, inputs: Seq[String]): Seq[DataFrame] =
    Seq(
      df.coalesce(1),
      df.repartition(13, col("x1")),
      df.orderBy(col("x2").desc, col("x1").desc).coalesce(2),
      inputs.foldLeft(df) { (acc, c) =>
        acc.unionByName(df.filter(col("x2") === 1L)
          .withColumn(c, lit(null).cast("long")))
      }.repartition(5))

  test("tree_fit3 / gbt_fit4 / logit_fit4 are layout-invariant") {
    for (agg <- Seq("tree_fit3(x1, x2, n, yc)", "gbt_fit4(x1, x2, n, yc)",
                    "logit_fit4(x1, x2, n, yc)")) {
      val results = layouts(cells, Seq("x1", "x2", "n", "yc")).map(run(agg, _))
      assert(results.distinct.size == 1,
        s"$agg: results differ across physical layouts")
      assert(results.head.nonEmpty)
    }
  }

  test("forest_fit8 is layout-invariant") {
    // widen the cell schema to the forest grid shape (2 trees suffice)
    val f = cells.withColumn("tree", explode(array(lit(0L), lit(1L))))
      .select(col("g"), col("tree"),
        (col("tree") % 2 + 1).as("feat"), col("x1"), col("x2"),
        col("n").as("wn"), col("yc").as("wy"),
        (col("n") / 2).cast("long").as("c0"),
        (col("yc") / 2).cast("long").as("p0"),
        (col("n") + 1).as("cnt"), col("yc").as("cy"))
    val agg = "forest_fit8(tree, feat, x1, x2, wn, wy, c0, p0, cnt, cy)"
    val inputs = Seq("tree", "feat", "x1", "x2", "wn", "wy", "c0", "p0",
      "cnt", "cy")
    val results = layouts(f, inputs).map(run(agg, _))
    assert(results.distinct.size == 1,
      "forest_fit8: results differ across physical layouts")
    assert(results.head.nonEmpty)
  }
}
