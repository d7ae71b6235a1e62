package graft

import java.nio.file.{Files, Paths}

import graft.queries.StreamingQueries.{writeChunkFiles, writeOneFile}

/** The file-source fixtures of the streaming rows must land every chunk
  * at its target, or fail naming what went wrong — never continue with a
  * chunk file missing or silently replaced. */
class ChunkFilesSpec extends SparkSpec {
  private val mt0 = 1700000000000L
  private def freshDir(): String =
    Files.createTempDirectory("graft_chunks").toString

  test("writeOneFile refuses a target that already exists") {
    val d = freshDir()
    val df = spark.range(5).toDF("id")
    writeOneFile(spark, df, s"$d/chunk_0.parquet", mt0)
    val e = intercept[IllegalArgumentException](
      writeOneFile(spark, df, s"$d/chunk_0.parquet", mt0 + 60000L))
    assert(e.getMessage.contains(s"$d/chunk_0.parquet already exists"))
  }

  test("writeChunkFiles refuses a target that already exists") {
    val d = freshDir()
    Files.write(Paths.get(s"$d/chunk_1.parquet"), Array[Byte](1))
    val e = intercept[IllegalArgumentException](writeChunkFiles(spark, Seq(
      (spark.range(0, 5).toDF("id"), s"$d/chunk_0.parquet", mt0),
      (spark.range(5, 9).toDF("id"), s"$d/chunk_1.parquet", mt0 + 60000L))))
    assert(e.getMessage.contains(s"$d/chunk_1.parquet already exists"))
  }

  test("writeChunkFiles names an empty chunk") {
    val d = freshDir()
    val e = intercept[IllegalStateException](writeChunkFiles(spark, Seq(
      (spark.range(0, 5).toDF("id"), s"$d/chunk_0.parquet", mt0),
      (spark.range(0).toDF("id"), s"$d/chunk_1.parquet", mt0 + 60000L))))
    assert(e.getMessage.contains("empty chunk 1"))
  }
}
