package graft

import java.nio.file.Files
import org.apache.spark.graft.TestBus
import org.apache.spark.sql.graft.Bridge

/** The fixture load point: a table opens from its parquet footer, read on
  * the driver, and reads exactly what Spark's own inference would. */
class TablesSuite extends SparkSuite {

  test("opening a fixture table runs no Spark job and keeps Spark's inferred schema") {
    for (name <- Tables.all) {
      val path = s"$sf0001/$name.parquet"
      assert(Bridge.parquetFileSchema(spark, path).contains(spark.read.parquet(path).schema),
        s"$name: footer schema differs from Spark's inferred one")
      val (jobs, _) = TestBus.jobsIn(spark.sparkContext)(Tables(spark, sf0001, name))
      assert(jobs == 0, s"opening $name ran $jobs Spark job(s)")
    }
    // not one regular file: Spark's inference decides the schema and the error
    val tmp = Files.createTempDirectory("graft-tables").toString
    try {
      val written = s"$tmp/written.parquet"
      spark.range(3).selectExpr("id", "cast(id as string) s", "array(id) a")
        .write.parquet(written)
      assert(Bridge.parquetFileSchema(spark, written).isEmpty)
      assert(Tables(spark, tmp, "written").schema == spark.read.parquet(written).schema)
      val viaTables = intercept[Exception](Tables(spark, tmp, "missing"))
      val viaSpark = intercept[Exception](spark.read.parquet(s"$tmp/missing.parquet"))
      assert(viaTables.getClass == viaSpark.getClass)
      assert(viaTables.getMessage == viaSpark.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }
}
