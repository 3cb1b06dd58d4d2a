package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.storage.StorageLevel

import graft.operators.Tokenize
import graft.sources.CorpusSynth

/** E1 splits a one-split corpus scan in order and keeps its outputs bit for
  * bit: the reference is E1 over a caller-shared tokenized projection of the
  * same scan, which is never split, so its NMF fit reads the unsplit context
  * rows. */
class E1SplitSpec extends SparkTestBase {

  private val cfg = WsidConfig(entities = Seq("python", "java"), window = 64, kSenses = 2)
  private val corpus = CorpusSynth.planted(docsPerEntity = 200)

  /** The planted corpus as `files` parquet files, read back as a scan. */
  private def scanOf(files: Int): Dataset[CodeDoc] = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_split").resolve("docs").toString
    spark.createDataset(corpus.docs).repartition(files).write.parquet(dir)
    spark.read.parquet(dir).as[CodeDoc]
  }

  private def unsplitRun(docs: Dataset[CodeDoc], ckptRoot: Option[String]): Pipeline.E1Result = {
    val td = Tokenize.tokDocs(Pipeline.guard(docs, cfg), cfg).persist(StorageLevel.MEMORY_AND_DISK)
    val r = Pipeline.induceAndEmit(spark, docs, cfg, ckptRoot, "planted200", sharedTokDocs = Some(td))
    r.copy(cleanup = () => { r.cleanup(); td.unpersist(false) })
  }

  private def senseVecOf(r: Pipeline.E1Result): Set[(String, Int, Int, Double)] = {
    import spark.implicits._
    r.senseVec.select("entity", "senseid", "termid", "weight")
      .as[(String, Int, Int, Double)].collect().toSet
  }

  private def triplesOf(r: Pipeline.E1Result): Set[(String, String, String)] = {
    import spark.implicits._
    r.triples.as[(String, String, String)].collect().toSet
  }

  /** Every physical node of an executed frame, cached plans included (a
    * cached plan read by several consumers is listed once per read). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => Nil
    }
    p +: (p.children ++ inner ++ p.subqueries).flatMap(nodes)
  }

  private def planOf(triples: DataFrame): Seq[SparkPlan] = {
    triples.write.format("noop").mode("overwrite").save()
    nodes(triples.queryExecution.executedPlan)
  }

  private def rangeSplits(plan: Seq[SparkPlan]): Int = plan.count {
    case s: ShuffleExchangeExec => s.outputPartitioning.isInstanceOf[RangePartitioning]
    case _ => false
  }

  private def sameOutputs(split: Pipeline.E1Result, ref: Pipeline.E1Result): Unit = {
    val sv = senseVecOf(split)
    assert(sv.nonEmpty)
    assert(sv == senseVecOf(ref), "senseVec weights differ from the unsplit fit")
    val t = triplesOf(split)
    assert(t.nonEmpty)
    assert(t == triplesOf(ref), "triples differ from the unsplit run")
  }

  test("a one-split scan is cut into defaultParallelism chunks in scan order") {
    val docs = scanOf(1)
    assert(docs.rdd.getNumPartitions == 1)
    val split = Pipeline.splitScan(docs)
    assert(split.isDefined)
    assert(split.get.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(split.get.collect().toSeq == docs.collect().toSeq) // partition order = scan order
  }

  test("plain path: a split one-split scan fits the same senseVec and emits the same triples") {
    val docs = scanOf(1)
    val split = Pipeline.induceAndEmit(spark, docs, cfg)
    val ref = unsplitRun(docs, None)
    try {
      sameOutputs(split, ref)
      assert(rangeSplits(planOf(split.triples)) > 0)
      assert(rangeSplits(planOf(ref.triples)) == 0)
    } finally { split.cleanup(); ref.cleanup() }
  }

  test("checkpoint path: ctxrows is one ordered file, and the fit and triples match the unsplit run") {
    val docs = scanOf(1)
    val root = Files.createTempDirectory("graft_split_ck").toString
    val refRoot = Files.createTempDirectory("graft_split_ck_ref").toString
    val split = Pipeline.induceAndEmit(spark, docs, cfg, Some(root), "planted200")
    val ref = unsplitRun(docs, Some(refRoot))
    try {
      assert(split.checkpoint.get.resumed.isEmpty)
      assert(sources.TableIO.readManifest(spark, s"$root/ctxrows/_manifest.json").get.files.size == 1)
      val rows = spark.read.parquet(s"$root/ctxrows/data").collect().toSeq
      assert(rows == spark.read.parquet(s"$refRoot/ctxrows/data").collect().toSeq)
      sameOutputs(split, ref)
    } finally { split.cleanup(); ref.cleanup() }
  }

  test("an input with >= defaultParallelism partitions is not split: no added exchange or coalesce") {
    val docs = scanOf(4)
    assert(docs.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
    assert(Pipeline.splitScan(docs).isEmpty)
    val r = Pipeline.induceAndEmit(spark, docs, cfg)
    val ref = unsplitRun(docs, None)
    try {
      val plan = planOf(r.triples)
      assert(!plan.exists(_.isInstanceOf[CoalesceExec]))
      assert(rangeSplits(plan) == 0)
      assert(plan.count(_.isInstanceOf[Exchange]) == planOf(ref.triples).count(_.isInstanceOf[Exchange]))
      sameOutputs(r, ref)
    } finally { r.cleanup(); ref.cleanup() }
  }
}
