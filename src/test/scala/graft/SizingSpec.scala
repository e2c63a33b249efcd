package graft

/** [[Sizing]]: the one width rule and the widen-only guard. */
class SizingSpec extends SparkSpec {

  test("width floors units / perPartition and clamps to [1, cores]") {
    val cores = Sizing.cores(spark)
    assert(cores == 4) // SparkSpec runs local[4]
    assert(Sizing.width(spark, 0L, 512L) == 1)
    assert(Sizing.width(spark, 511L, 512L) == 1)
    assert(Sizing.width(spark, 1023L, 512L) == 1, "division must floor, not round up")
    assert(Sizing.width(spark, 1024L, 512L) == 2)
    assert(Sizing.width(spark, 3L * Sizing.StreamBytes - 1, Sizing.StreamBytes) == 2)
    assert(Sizing.width(spark, 512L * 1000, 512L) == cores)
    assert(Sizing.width(spark, Long.MaxValue, 1L) == cores)
  }

  test("widen never narrows: an 8-partition frame with target 2 stays at 8") {
    val eight = spark.range(0, 100, 1, 8).toDF()
    assert(Sizing.widen(eight, 2) eq eight)
    assert(Sizing.widen(eight, 2).rdd.getNumPartitions == 8)
    val exchanged = spark.range(0, 100, 1, 1).repartition(8).toDF()
    assert(Sizing.widen(exchanged, 2) eq exchanged, "width read off the plan's exchange")
  }

  test("widen repartitions a narrower frame, file scans included") {
    val one = spark.range(0, 100, 1, 1).toDF()
    assert(Sizing.widen(one, 3).rdd.getNumPartitions == 3)
    // a file scan reports no plan partitioning: its splits decide
    val dir = tmpDir("sizing_scan").resolve("t").toString
    spark.range(0, 90, 1, 3).write.parquet(dir)
    val scan = spark.read.parquet(dir)
    val splits = scan.rdd.getNumPartitions
    assert(splits == 3, s"expected one split per file, got $splits")
    assert(Sizing.widen(scan, 2) eq scan)
    assert(Sizing.widen(scan, 4).rdd.getNumPartitions == 4)
  }
}
