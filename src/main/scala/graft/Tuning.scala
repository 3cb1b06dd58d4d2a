package graft

import org.apache.spark.sql.SparkSession

/** Session-level execution tuning applied by the engine's own entry points
  * (registry queries, the Memo warm builds, the E1 pipeline). All settings
  * are RUNTIME SQL confs — results are unchanged by construction (every
  * operator is partitioning-independent, asserted across the suite by the
  * repartition/bit-equality specs and the driver's oracle hashes); only the
  * physical plan moves.
  *
  * Post-shuffle partition sizing is left to AQE's defaults
  * (`coalescePartitions.parallelismFirst=true`, 1 MB `minPartitionSize`,
  * 64 MB `advisoryPartitionSizeInBytes`). The coalescer then targets
  * `max(1 MB, min(64 MB, stage bytes / defaultParallelism))` per partition,
  * which adapts to scale on its own (TuningSpec pins both ends):
  *   - a KB-sized exchange (vocabulary-/node-sized frames, the iterative
  *     graph loops) still collapses to ONE task;
  *   - a MB-sized exchange spreads over the task slots instead of running
  *     as one task on an otherwise idle host;
  *   - at 100 TB a stage still gets (bytes / 64 MB) ≫ core-count partitions.
  * `parallelismFirst=false` would also collapse every exchange under 64 MB
  * to one task, which single-threads E1 (its exchanges total ~13 MB).
  *
  * The values are fixed constants with no environment override; changing
  * one is a code change, measured like any other. */
object Tuning {

  /** Size-adaptive narrow compaction of an already-materialized (pinned or
    * persisted) frame. AQE cannot re-coalesce a cached plan's output
    * partitioning (`canChangeCachedPlanOutputPartitioning` is off by
    * default, and flipping it would also re-partition the float-path
    * model-induction inputs, which are partition-order-sensitive), so a
    * node-/edge-sized cached frame keeps the harness' core-count partitions
    * and every downstream scan pays that many task launches for near-empty
    * blocks. When the MEASURED row count implies fewer useful tasks, wrap
    * the frame in a narrow `coalesce` — no data moves, no shuffle; at
    * production row counts the target meets/exceeds the current partition
    * count and the frame is returned UNCHANGED. Callers restrict this to
    * integer-exact consumers (graph lattice, counting aggs), whose results
    * are partitioning-invariant by spec'd contract.
    *
    * Precondition: `ds` is persisted and `rows` is the count that just
    * materialized it. Every caller compacts right after that count, so
    * reading the partition count plans no new job. */
  def compact[T](ds: org.apache.spark.sql.Dataset[T], rows: Long,
                 rowsPerTask: Long = 262144L): org.apache.spark.sql.Dataset[T] = {
    val cur = ds.rdd.getNumPartitions
    val want = math.max(1L, math.min(cur.toLong, (rows + rowsPerTask - 1) / rowsPerTask)).toInt
    if (want < cur) ds.coalesce(want) else ds
  }

  private val applied =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  /** Idempotent per session. */
  def ensure(spark: SparkSession): Unit = {
    if (!applied.add(spark)) return
    val c = spark.conf
    // §3.1: let the planner pick shuffled-hash over sort-merge when the
    // per-partition build side fits, and let AQE demote sort-merge joins
    // to shuffled-hash at runtime for small stages.
    c.set("spark.sql.join.preferSortMergeJoin", "false")
    c.set("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
  }
}
