package graft

import java.nio.file.{Files, Path}

/** Sizing behind `SparkEntry`'s scan-parallelism floor: an input is floored
  * (round-robin repartitioned after the read) only when it splits into
  * fewer scan tasks than the session's parallelism, and a metadata failure
  * falls safe to "wide enough", i.e. no floor. */
class ScanFloorSpec extends SparkSuite {

  private lazy val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
  private lazy val target = spark.sparkContext.defaultParallelism

  private def writeBytes(p: Path, n: Int): Long = {
    Files.createDirectories(p.getParent)
    Files.write(p, Array.fill[Byte](n)(1)).toFile.length()
  }

  test("missing path: sized as wide enough, no floor") {
    val bytes = SparkEntry.inputBytes(spark, "/nonexistent-graft-input/t.parquet")
    assert(bytes == Long.MaxValue)
    assert(SparkEntry.scanTasks(bytes, maxSplit) >= target)
  }

  test("directory table sizes as the sum of its files") {
    val dir = Files.createTempDirectory("scan-floor-dir")
    val sizes = Seq(
      writeBytes(dir.resolve("part-0.parquet"), 1000),
      writeBytes(dir.resolve("k=1/part-1.parquet"), 2000),
      writeBytes(dir.resolve("k=2/part-2.parquet"), 3000))
    assert(SparkEntry.inputBytes(spark, dir.toString) == sizes.sum)
  }

  test("Long.MaxValue bytes: task count saturates, no overflow") {
    assert(SparkEntry.scanTasks(Long.MaxValue, maxSplit) == Long.MaxValue / maxSplit + 1)
    assert(SparkEntry.scanTasks(Long.MaxValue, 1L) == Long.MaxValue)
    assert(SparkEntry.scanTasks(2 * maxSplit, maxSplit) == 2)
  }

  test("one small file: one scan task, the floor applies") {
    val file = Files.createTempDirectory("scan-floor-file").resolve("t.parquet")
    writeBytes(file, 4096)
    val bytes = SparkEntry.inputBytes(spark, file.toString)
    assert(bytes == 4096)
    assert(SparkEntry.scanTasks(bytes, maxSplit) == 1 && 1 < target)
  }
}
