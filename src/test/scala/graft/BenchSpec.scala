package graft

import org.apache.spark.sql.functions.{col, udf}

/** What a timed Bench pass runs. */
class BenchSpec extends SparkSpec {

  test("Bench.consume computes every output row; count() computes none") {
    val acc = spark.sparkContext.longAccumulator("bench_consume_rows")
    val seen = udf { (x: Long) => acc.add(1L); x }
    val df = spark.range(0, 100, 1, 4).select(seen(col("id")).as("v"))
    df.count()
    assert(acc.value === 0L)
    Bench.consume(df)
    assert(acc.value === 100L)
  }

  test("Bench times its gates through consume, not count()") {
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/Bench.scala"))
    assert(src.contains("consume(g.run(spark, sfDir))"))
    assert(!src.contains(".count()"))
  }
}
