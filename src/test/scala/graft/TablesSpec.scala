package graft

import org.apache.spark.sql.functions._

class TablesSpec extends SparkSpec {

  test("spread re-probes after a file-split conf change instead of reusing the cached count") {
    val dir = java.nio.file.Files.createTempDirectory("graft-spread").toString
    // one parquet file of incompressible hex: a single split under the
    // default split rules, dozens under a 64 KB maxPartitionBytes
    spark.range(20000).select(sha2(col("id").cast("string"), 256).as("h"))
      .coalesce(1).write.parquet(s"$dir/t.parquet")
    val p = spark.sparkContext.defaultParallelism
    assume(p > 1, "spread is a no-op on a single-core session")
    val before = spark.read.parquet(s"$dir/t.parquet")
    assert(before.rdd.getNumPartitions < p)
    assert(Tables.spread(before) ne before, "a single-split scan must be spread")
    val key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, 64L * 1024)
    try {
      val after = spark.read.parquet(s"$dir/t.parquet")
      assert(after.rdd.getNumPartitions >= p, after.rdd.getNumPartitions)
      // same file set, new split rules: a count cached under the old
      // rules would repartition a scan that is already wide enough
      assert(Tables.spread(after) eq after,
        "spread reused the partition count probed under the old maxPartitionBytes")
    } finally spark.conf.unset(key)
  }
}
