package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft._
import graft.ml.{SenseInduction, ThinNMF}
import graft.operators.{Cooc, Linking, Significance, Tokenize}
import graft.sources.CorpusSynth

/** One benchmark run in one JVM: set up, run the workload's ops in a
  * closed loop with a single client (each op starts after the previous one
  * ended), materialize every op's full result as parquet under
  * `<out>/ops/<i>`, and write `result.json` (plus `trace.json` in a traced
  * run). `run.py` builds, generates the inputs, launches this, then
  * fingerprints and checks the outputs and prints the metrics. */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        input: String, warm: String, out: String, smoke: Boolean,
                        inject: Set[String], slots: Int)

  /** An op builds a result frame; the loop materializes it. */
  final case class Op(name: String, family: String, build: () => DataFrame)

  final case class Done(op: Op, idx: Int, sec: Double, cpuSec: Double, stealSec: Double,
                        error: Option[String])

  /** The E1 op's configuration: `graft.Bench`'s flagship run. */
  val e1Cfg: WsidConfig = Queries.cfg.copy(topK = 50)

  def main(argv: Array[String]): Unit = {
    val c = parse(argv)
    val r = new Run(c)
    val ok = try r.run() finally r.spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  private def parse(argv: Array[String]): Conf = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("input"), m("warm"), m("out"), m.get("smoke").contains("1"),
      m.get("inject").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).toSet,
      m("slots").toInt)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default), NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

}

final class Run(c: Main.Conf) {
  import Main._

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNow: Double = osBean.getProcessCpuTime / 1e9
  private def steal0: Option[Long] = HostStat.stealJiffies()
  private def stealSince(s: Option[Long]): Double = HostStat.stealSecSince(s).getOrElse(0.0)
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  val spark: SparkSession = SparkSession.builder()
    .master(s"local[${c.slots}]")
    .appName(s"perfbench-${c.workload}")
    .config("spark.sql.shuffle.partitions", c.slots.toString)
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", s"${c.out}/local")
    .config("spark.sql.warehouse.dir", s"${c.out}/warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  Bench.muteCheckpointWarns()
  private val sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1e3
  private val sc = spark.sparkContext

  private val trace: Option[Trace] =
    if (c.trace) { val t = new Trace(sc); sc.addSparkListener(t); Some(t) } else None
  private def span[T](name: String)(f: => T): T = trace.fold(f)(_.span(name)(f))

  private val failures = mutable.ArrayBuffer.empty[(String, String)]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private def fail(op: String, why: String): Unit = failures += (op -> why)

  private def mb(bytes: Long): Double = bytes / 1048576.0
  private def storageBytes: Long = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def withGroup[T](group: String)(f: => T): T = {
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
  }

  // ---- workloads -----------------------------------------------------------

  /** The registry sample `kg_dataprep` times (README.md says why the
    * registry is sampled): KG-store queries that read the memos set-up
    * built, among them both closure loops path doubling would replace
    * (`boundedClosure` under reach, `owlClosure`), and one query per
    * data-prep operator module; `q_vocab_bpe` builds its memo (the BPE
    * merge table) inside the timed phase. */
  private val kgOps = Seq(
    "q_kg_reach_approx", "q_kg_owl", "q_kg_sssp", "q_kg_degrees", "q_kg_bgp", "q_l3_ntriples")
  private val dataprepOps = Seq(
    "q_dedup_exact", "q_url_dedup", "q_rank_stats", "q_sample_quota", "q_text_quality",
    "q_vocab_bpe", "q_sim_bruteforce", "q_search_bm25", "q_emb_centroid", "q_mm_image_decode")

  private def registryOp(name: String): Op = {
    val fn = SparkEntry.queries(name)
    Op(name, Families.of(name), () => fn(spark, c.input))
  }

  /** Registry ops in seed order: sorted for seed 0, shuffled otherwise. */
  private def seeded(names: Seq[String]): Seq[String] = {
    val s = names.sorted
    if (c.seed == 0) s else new scala.util.Random(c.seed).shuffle(s)
  }

  private var lastE1: Option[Pipeline.E1Result] = None
  private def e1Op(dir: String): Op = Op("e1", "e1", () => {
    val r = Pipeline.induceAndEmit(spark, CorpusSynth.fromDocuments(spark, dir), e1Cfg, None, dir)
    lastE1 = Some(r)
    r.triples
  })

  private val injected: Seq[Op] =
    if (c.inject("throw")) Seq(Op("injected_throw", "injected", () =>
      throw new RuntimeException("injected failure")))
    else Nil

  /** The timed ops. E1 repeats its op, `seconds / 8` times but at least
    * twice; the registry workload runs its sample once in seed order. */
  private def timedOps: Seq[Op] = (c.workload match {
    case "e1_flagship" => Seq.fill(math.max(2, c.seconds / 8))(e1Op(c.input))
    case "kg_dataprep" => seeded(kgOps ++ dataprepOps).map(registryOp)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }).take(if (c.smoke) 1 else Int.MaxValue) ++ injected

  /** One set-up pass; three of them run and the median is reported. */
  private def setupPass(): Unit = c.workload match {
    case "e1_flagship" =>
      val r = Pipeline.induceAndEmit(spark, CorpusSynth.fromDocuments(spark, c.warm), e1Cfg, None, c.warm)
      r.triples.write.format("noop").mode("overwrite").save()
      r.cleanup()
    case "kg_dataprep" =>
      Memo.invalidate(spark)
      memoBuilds(c.input).take(5).foreach(_._2())
  }

  /** Each memo's build, materialized; the first five are the KG memos. */
  private def memoBuilds(dir: String): Seq[(String, () => Unit)] = {
    val cfg = Queries.cfg
    Seq(
      "tokdocs" -> (() => Memo.tokDocsOf(spark, dir, cfg).count()),
      "costats" -> (() => { val cs = Memo.coStatsOf(spark, dir, cfg); cs.coverage.count(); cs.scored.count() }),
      "kg_edges" -> (() => Memo.kgEdgesOf(spark, dir, cfg).count()),
      "ranked" -> (() => { val (a, b) = Memo.rankedStoresOf(spark, dir, cfg); a.count(); b.count() }),
      "l3" -> (() => Memo.l3TriplesOf(spark, dir, cfg).count()),
      "model" -> (() => { val (d, s) = Memo.modelOf(spark, dir, ExtraQueries.e3Cfg); d.count(); s.count() }),
      "bpe" -> (() => ExtraQueries.warmBpe(spark, dir)),
      "lr" -> (() => CurationQueries.warmLr(spark, dir))
    ).map { case (k, f) => k -> (() => { f(); () }) }
  }

  // ---- the op loop -----------------------------------------------------------

  private val done = mutable.ArrayBuffer.empty[Done]
  private var cachedFrames = "{}"
  private def opDir(i: Int) = s"${c.out}/ops/$i"

  /** Materialize `op` into `path` under job group `group`; returns wall
    * seconds, process CPU seconds, stolen CPU seconds and the error. */
  private def runOp(op: Op, path: String, group: String): (Double, Double, Double, Option[String]) = {
    val (cpu0, st0) = (cpuNow, steal0)
    val t0 = System.nanoTime()
    val err = try {
      span(s"op:${op.name}") {
        withGroup(group) { op.build().write.mode("overwrite").parquet(path) }
      }
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    ((System.nanoTime() - t0) / 1e9, cpuNow - cpu0, stealSince(st0), err)
  }

  /** Heap in use after a full collection, summed over the heap pools. The
    * first collection lets Spark's ContextCleaner drop blocks of frames and
    * broadcasts no longer referenced; the second, after the cleaner's poll
    * interval, counts what is left. */
  private def heapAfterGc(): Double = {
    System.gc(); Thread.sleep(300); System.gc()
    var used = 0L
    ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
      if (p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
        used += p.getCollectionUsage.getUsed
    }
    mb(used)
  }

  // ---- the run ----------------------------------------------------------------

  def run(): Boolean = {
    val passes = if (c.smoke) 1 else 3
    val setupTimes = (1 to passes).map { p =>
      val t0 = System.nanoTime()
      span(s"setup:$p")(withGroup("setup")(setupPass()))
      (System.nanoTime() - t0) / 1e9
    }
    val ops = timedOps
    val setupS = sessionReadyS + median(setupTimes)

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
    def gcMs = { var s = 0L; gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime)); s }
    val jit = ManagementFactory.getCompilationMXBean
    val codegen0 = Codegen.snapshot()
    val (gc0, jit0, st0) = (gcMs, jit.getTotalCompilationTime, steal0)
    var heapPeak = 0.0
    var betweenNs = 0L
    val phase0 = System.nanoTime()
    span("timed") {
      ops.zipWithIndex.foreach { case (op, i) =>
        val (sec, cpu, steal, err) = runOp(op, opDir(i), s"op:$i")
        done += Done(op, i, sec, cpu, steal, err)
        err.foreach(e => fail(op.name, s"threw: $e"))
        val t = System.nanoTime()
        if (op.family == "e1" || i == ops.size - 1) heapPeak = math.max(heapPeak, heapAfterGc())
        if (op.family == "e1" && i < ops.size - 1) { lastE1.foreach(_.cleanup()); lastE1 = None }
        betweenNs += System.nanoTime() - t
      }
    }
    val wallS = (System.nanoTime() - phase0 - betweenNs) / 1e9
    val cachedMb = mb(storageBytes)
    cachedFrames = Json.obj(sc.getRDDStorageInfo.toSeq.sortBy(_.id).map(i =>
      s"${i.id}:${i.name}".take(80) -> Json.num(mb(i.memSize + i.diskSize))))
    val (gcS, jitS, stealS) = ((gcMs - gc0) / 1e3, (jit.getTotalCompilationTime - jit0) / 1e3,
      stealSince(st0))
    val codegen = Codegen.snapshot().minus(codegen0)
    lastE1.foreach(_.cleanup())

    val ok = done.filter(_.error.isEmpty)
    val lat = ok.map(_.sec).toSeq
    val e2e = Seq(
      "setup_s" -> setupS,
      "wall_s" -> wallS,
      "op_p50_s" -> median(lat),
      "op_p90_s" -> quantile(lat, 0.9),
      "cpu_s" -> ok.map(_.cpuSec).sum,
      "cached_mb" -> cachedMb,
      "heap_peak_mb" -> heapPeak)

    trace.foreach { t =>
      engineMetrics(t, wallS, codegen, gcS, jitS, stealS)
      probes(t)
      t.drain()
      layer("trace.listener_s") = t.listenerSeconds
      Files.writeString(Paths.get(s"${c.out}/trace.json"), t.spanJson)
    }

    writeResult(e2e, setupTimes, stealS, wallS)
    failures.isEmpty
  }

  // ---- traced-run layer metrics -------------------------------------------------

  private def engineMetrics(t: Trace, wallS: Double, cg: Codegen.Snap,
                            gcS: Double, jitS: Double, stealS: Double): Unit = {
    t.drain()
    val isOp = (g: String) => g.startsWith("op:")
    val all = t.totals(isOp)
    val opJobs = t.jobsOf(isOp)
    val coveredS = Trace.covered(opJobs.filter(_.end >= 0).map(j => (j.start, j.end))) / 1e3
    layer ++= Seq(
      "spark.jobs" -> all.jobs, "spark.stages" -> all.stages, "spark.tasks" -> all.tasks,
      "spark.empty_task_frac" -> (if (all.tasks == 0) 0.0 else all.emptyTasks.toDouble / all.tasks),
      "spark.task_busy_frac" -> all.runMs / 1e3 / (wallS * c.slots),
      "spark.driver_gap_s" -> math.max(0.0, wallS - coveredS),
      "spark.scheduler_delay_s" -> all.schedDelayMs / 1e3,
      "spark.shuffle_write_mb" -> mb(all.shuffleWrite),
      "spark.shuffle_read_mb" -> mb(all.shuffleRead),
      "spark.spill_mb" -> mb(all.spill),
      "spark.codegen_compile_s" -> cg.compileS,
      "spark.codegen_classes" -> cg.classes.toDouble,
      "jvm.gc_s" -> gcS, "jvm.jit_s" -> jitS, "host.steal_s" -> stealS)

    // per family: op seconds, jobs/tasks per op, shuffle MB
    Families.all.foreach { fam =>
      val ds = done.filter(_.op.family == fam)
      val cs = t.totals(g => ds.exists(d => g == s"op:${d.idx}"))
      val n = math.max(1, ds.size)
      layer ++= Seq(s"$fam.op_s" -> ds.map(_.sec).sum,
        s"$fam.jobs_per_op" -> cs.jobs.toDouble / n, s"$fam.tasks_per_op" -> cs.tasks.toDouble / n,
        s"$fam.shuffle_mb" -> mb(cs.shuffleWrite + cs.shuffleRead))
    }
  }

  /** E1 stage labels of `graft.Pipeline`; unlabeled E1 jobs count as tail. */
  private val e1Labels = Seq("dochash", "coverage", "sigcooc", "ctxrows", "senses", "sensevec")

  private def e1LabelMetrics(t: Trace, groups: Set[String], nOps: Int): Unit = {
    t.drain()
    val js = t.jobsOf(groups).filter(_.end >= 0)
    def label(j: t.Job) = Some(j.desc).filter(_.startsWith("e1:")).map(_.drop(3))
      .filter(e1Labels.contains).getOrElse("tail")
    (e1Labels :+ "tail").foreach { l =>
      val mine = js.filter(label(_) == l)
      layer(s"e1.$l.wall_s") = Trace.covered(mine.map(j => (j.start, j.end))) / 1e3 / math.max(1, nOps)
      layer(s"e1.$l.jobs") = mine.size.toDouble / math.max(1, nOps)
    }
  }

  /** After the timed phase: the E1 layer probe and the memo build probe.
    * The layer probe's triples land in `<out>/probe/layers`; without timed
    * E1 ops, one E1 op on the same input lands in `<out>/probe/e1`, and
    * run.py checks the two fingerprint equal (or the probe equal to the
    * timed E1 ops). */
  private def probes(t: Trace): Unit = {
    val e1Done = done.filter(d => d.op.family == "e1" && d.error.isEmpty)
    if (e1Done.nonEmpty) e1LabelMetrics(t, e1Done.map(d => s"op:${d.idx}").toSet, e1Done.size)
    else {
      val group = "probe:e1_op"
      t.span(group) {
        withGroup(group) {
          val r = Pipeline.induceAndEmit(spark, CorpusSynth.fromDocuments(spark, c.input), e1Cfg,
            None, c.input)
          r.triples.write.mode("overwrite").parquet(s"${c.out}/probe/e1")
          r.cleanup()
        }
      }
      e1LabelMetrics(t, Set(group), 1)
    }
    e1LayerProbe(t, c.input)
    memoProbe(t)
  }

  /** The calls `Pipeline.induceAndEmit` makes, in its order and with its
    * arguments, each boundary materialized and timed. */
  private def e1LayerProbe(t: Trace, dir: String): Unit = {
    import spark.implicits._
    val cfg = e1Cfg
    val held = mutable.ArrayBuffer.empty[org.apache.spark.sql.Dataset[_]]
    def step[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = t.span(s"probe:$name")(withGroup(s"probe:$name")(f))
      layer(s"$name") = (System.nanoTime() - t0) / 1e9
      r
    }
    def pin(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK); held += p; p.count(); p
    }
    Tuning.ensure(spark)
    val guarded = step("sources.scan_s") {
      val g = Pipeline.guard(CorpusSynth.fromDocuments(spark, dir), cfg)
      pin(g.select(col("repo"), col("path"), col("commit"), sha2(col("content"), 256).as("sha256")))
      g
    }
    val tokdocs = step("tokenize.tokdocs_s") {
      val td = Tokenize.tokDocs(guarded, cfg).persist(StorageLevel.MEMORY_AND_DISK)
      held += td; td.count(); td
    }
    val cov = step("tokenize.coverage_s")(pin(Tokenize.coverageFrom(tokdocs, cfg).toDF()))
    val cont = step("cooc.contingency_s") {
      val (cont, caches) = Cooc.contingency(spark, Tokenize.tokensFrom(tokdocs), cov.as[CovTok], cfg)
      held ++= caches
      pin(cont)
    }
    val sigcooc = step("significance.descriptors_s")(
      pin(Significance.descriptors(Significance.withLogp(cont), cfg)))
    val ctxrows = step("tokenize.ctxrows_s") {
      val dict = SenseInduction.dictionary(sigcooc).collect()
        .groupBy(_.getString(0))
        .map { case (e, rows) => e -> rows.map(r => r.getString(1) -> r.getInt(2)).toMap }
      pin(Tokenize.contextRowsFrom(tokdocs, cfg, dict).toDF())
    }
    val grouped = ctxrows.as[ThinNMF.Ctx].rdd
    val senseVecRaw = step("ml.senses_s")(pin(SenseInduction.senseMatrix(spark, grouped, cfg)))
    val assignRaw = step("ml.assign_s") {
      val h = SenseInduction.collectH(senseVecRaw)
      pin(ThinNMF.assign(grouped, spark, h, cfg.minSenseScore))
    }
    val assignments = step("linking.relabel_s") {
      val (a, s) = Linking.relabel(assignRaw, senseVecRaw)
      pin(s)
      a
    }
    step("linking.emit_s") {
      Linking.hasSenseTriples(assignments)
        .unionByName(Pipeline.coocTriples(cov.as[CovTok], sigcooc))
        .write.mode("overwrite").parquet(s"${c.out}/probe/layers")
    }
    held.foreach(_.unpersist(false))
  }

  /** Each memo built from scratch on the registry-sized input, in a fresh
    * model store so the E3 model is induced rather than loaded. */
  private def memoProbe(t: Trace): Unit = {
    val dir = if (c.workload == "e1_flagship") c.warm else c.input
    Memo.invalidate(spark)
    System.setProperty("graft.model.root", s"${c.out}/probe_models")
    val before = storageBytes
    memoBuilds(dir).foreach { case (name, build) =>
      val t0 = System.nanoTime()
      t.span(s"memo:$name")(withGroup(s"memo:$name")(build()))
      layer(s"memo.$name.build_s") = (System.nanoTime() - t0) / 1e9
    }
    layer("memo.cached_mb") = mb(storageBytes - before)
    Memo.invalidate(spark)
  }

  // ---- result -------------------------------------------------------------------

  private def writeResult(e2e: Seq[(String, Double)], setupTimes: Seq[Double],
                          stealS: Double, wallS: Double): Unit = {
    val oracle = SparkEntry.oracleSql
    val opsJson = done.map { d =>
      Json.obj(Seq("name" -> Json.str(d.op.name), "family" -> Json.str(d.op.family),
        "sec" -> Json.num(d.sec), "cpu_s" -> Json.num(d.cpuSec), "steal_s" -> Json.num(d.stealSec),
        "dir" -> Json.str(opDir(d.idx)),
        "oracle_sql" -> oracle.get(d.op.name).map(Json.str).getOrElse("null"),
        "error" -> d.error.map(Json.str).getOrElse("null")))
    }.mkString("[", ",\n", "]")
    val conf = spark.conf.getAll.toSeq.sorted.filter { case (k, _) =>
      k.startsWith("spark.sql.") && k != "spark.sql.warehouse.dir" || k == "spark.master" ||
        k.startsWith("spark.memory.") || k.startsWith("spark.executor.")
    }.map { case (k, v) => k -> Json.str(v) }
    // steal-heavy: the hypervisor took more than a tenth of the timed
    // phase's CPU capacity
    val stealHeavy = stealS > 0.1 * wallS * c.slots
    val env = Json.obj(Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "slots" -> c.slots.toString,
      "heap_max_mb" -> Json.num(mb(Runtime.getRuntime.maxMemory)),
      "steal_s" -> Json.num(stealS), "steal_heavy" -> stealHeavy.toString,
      "session_ready_s" -> Json.num(sessionReadyS),
      "setup_passes_s" -> setupTimes.map(Json.num).mkString("[", ",", "]"),
      "cached_at_end_mb" -> cachedFrames,
      "spark_version" -> Json.str(spark.version),
      "spark_conf" -> Json.obj(conf)))
    val json = Json.obj(Seq(
      "workload" -> Json.str(c.workload), "seed" -> c.seed.toString,
      "smoke" -> c.smoke.toString, "trace" -> c.trace.toString,
      "metrics" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
      "failures" -> failures.map { case (k, v) =>
        Json.obj(Seq("op" -> Json.str(k), "why" -> Json.str(v))) }.mkString("[", ",", "]"),
      "env" -> env, "ops" -> opsJson))
    Files.writeString(Paths.get(s"${c.out}/result.json"), json)
  }
}

/** Whole-stage codegen compile counters (JVM-wide). The compile-time
  * histogram keeps a sample, so compile seconds are its mean times the
  * exact compile count. */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  final case class Snap(classes: Long, compileS: Double) {
    def minus(o: Snap): Snap = Snap(classes - o.classes, compileS - o.compileS)
  }
  def snapshot(): Snap = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Snap(h.getCount, h.getSnapshot.getMean * h.getCount / 1e3)
  }
}

/** Registry query → operator family (the operator module its body calls);
  * `all` lists the families the `kg_dataprep` sample exercises. */
object Families {
  val all: Seq[String] = Seq("graph_iter", "graph_local", "ts_closure", "ts_bgp", "kg_store",
    "dedup", "vocab", "similarity", "selection", "text", "web", "mm")

  private val closure = Set("q_kg_reach", "q_kg_reach_approx", "q_kg_pathexpr", "q_kg_pathstar",
    "q_kg_pathplus", "q_kg_owl", "q_kg_owl_chain", "q_kg_rdfs", "q_kg_sameas")
  private val graphIter = Set("q_kg_pagerank", "q_kg_ppr", "q_kg_hits", "q_kg_wcc",
    "q_kg_labelprop", "q_kg_kcore", "q_kg_sssp")
  private val graphLocal = Set("q_kg_degrees", "q_kg_triangles", "q_kg_clustering",
    "q_kg_linkpredict")
  private val kgStore = Set("q_l3_cooc_triples", "q_l3_ntriples", "q_kg_ntriples_parse",
    "q_a3_incremental")

  def of(q: String): String = q match {
    case _ if closure(q) => "ts_closure"
    case _ if graphIter(q) => "graph_iter"
    case _ if graphLocal(q) => "graph_local"
    case _ if kgStore(q) => "kg_store"
    case _ if q.startsWith("q_kg_gazetteer") || q.startsWith("q_e3_") => "e3"
    case _ if q.startsWith("q_kg_") => "ts_bgp"
    case _ if q.startsWith("q_dedup_image") || q.startsWith("q_mm_") ||
      q == "q_multimodal_features" => "mm"
    case _ if q.startsWith("q_web_") || q == "q_url_dedup" => "web"
    case _ if q.startsWith("q_dedup_") || q.startsWith("q_decontaminate") ||
      q == "q_contamination" => "dedup"
    case _ if q.startsWith("q_vocab_") => "vocab"
    case _ if q.startsWith("q_sim_") || q.startsWith("q_emb_") || q == "q_search_bm25" ||
      q == "q_join_bloom" => "similarity"
    case _ if q.startsWith("q_select_") || q.startsWith("q_sample_") || q.startsWith("q_mix_") ||
      q.startsWith("q_lr_") || q == "q_dsir_weights" || q == "q_quality_buckets" ||
      q == "q_rank_stats" || q == "q_group_quantiles" || q == "q_shuffle_shards" ||
      q == "q_pack_sequences" => "selection"
    case _ if q.startsWith("q_text_") || q.startsWith("q_code_") || q == "q_redact_pii" ||
      q == "q_dataset_card" => "text"
    case _ if q.startsWith("q_events_") => "events"
    case _ => "e2"
  }
}
