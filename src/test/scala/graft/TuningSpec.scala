package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Tuning.ensure's session settings and Tuning.compact's contract: the
  * same rows, fewer partitions only when the measured count warrants it. */
class TuningSpec extends SparkTestBase {

  private val tuned = Seq(
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m",
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m")

  test("ensure sets the four confs, and a second call is a no-op") {
    val s = spark.newSession() // own SQL conf, shared context
    Tuning.ensure(s)
    tuned.foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
    s.conf.set("spark.sql.join.preferSortMergeJoin", "true")
    Tuning.ensure(s)
    assert(s.conf.get("spark.sql.join.preferSortMergeJoin") == "true")
  }

  private def rowsOf(ds: org.apache.spark.sql.DataFrame): Seq[Long] =
    ds.collect().map(_.getLong(0)).toSeq.sorted

  test("compact keeps the row multiset and coalesces to ceil(rows / rowsPerTask)") {
    val ds = spark.range(0, 1000, 1, 8).select((col("id") % 37).as("k"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = ds.count()
      val out = Tuning.compact(ds, rows, rowsPerTask = 300)
      assert(out.rdd.getNumPartitions == 4) // min(8, ceil(1000 / 300))
      assert(rowsOf(out) == rowsOf(ds))
      assert(Tuning.compact(ds, rows).rdd.getNumPartitions == 1)
    } finally ds.unpersist(false)
  }

  test("compact returns the frame unchanged when the target is not smaller") {
    val ds = spark.range(0, 1000, 1, 8).toDF().persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = ds.count()
      assert(Tuning.compact(ds, rows, rowsPerTask = 125) eq ds) // exactly 8
      assert(Tuning.compact(ds, rows, rowsPerTask = 10) eq ds)  // 100 > 8
    } finally ds.unpersist(false)
  }
}
