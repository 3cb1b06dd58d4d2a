package graft

import org.apache.spark.sql.functions.{col, sha2}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** Tuning.ensure's session settings and Tuning.compact's contract: the
  * same rows, fewer partitions only when the measured count warrants it. */
class TuningSpec extends SparkTestBase {

  private val tuned = Seq(
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m")

  test("ensure sets two confs, keeps AQE defaults; second call no-op") {
    val s = spark.newSession() // own SQL conf, shared context
    Tuning.ensure(s)
    tuned.foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
    val conf = s.sessionState.conf
    assert(conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
    assert(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) == 64L * 1024 * 1024)
    s.conf.set("spark.sql.join.preferSortMergeJoin", "true")
    Tuning.ensure(s)
    assert(s.conf.get("spark.sql.join.preferSortMergeJoin") == "true")
  }

  test("AQE coalescing adapts to stage size: a KB aggregate gets one task, a MB shuffle several") {
    val s = spark.newSession()
    Tuning.ensure(s)
    assert(s.sparkContext.defaultParallelism == 4 && s.conf.get("spark.sql.shuffle.partitions") == "4")
    // post-shuffle partitions after AQE ran the exchange
    def postShuffle(df: org.apache.spark.sql.DataFrame): Int = df.rdd.getNumPartitions
    val kb = s.range(0, 1000, 1, 4).groupBy((col("id") % 10).as("k")).count()
    assert(postShuffle(kb) == 1)
    // ~100k rows of 64-char hex digests: a few MB of shuffle bytes even
    // compressed, so a ~1 MB target per partition leaves more than one
    val mb = s.range(0, 100000, 1, 4)
      .select(col("id"), sha2(col("id").cast("string"), 256).as("h"))
      .repartition(col("id"))
    assert(postShuffle(mb) > 1)
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
