package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.fixtures.FixtureConfig
import graft.pipeline.{KgInputs, PipelineResult}

/** Benchmark JVM. Runs one workload closed-loop with one client and writes
  * its measurements and the data the correctness checks need to a JSON
  * file, which run.py turns into the reported result.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <scale full|smoke> <workDir> <resultFile>
  */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      smoke: Boolean, work: String, result: String, cores: Int)

  /** Input sizes. The KG fixture has the `Fixtures.bench` shape (1000
    * entities, one hub entity per predicate on ~40% of edges) at a page
    * count that lets several pipeline runs fit in one measured window: a
    * unit's time is mostly its fixed cost (code generation and JIT), so
    * 4x the pages costs only ~1.6x the time. Smoke mode uses the
    * `Fixtures.tiny` shape and sf 0.001.
    */
  def kgConfig(c: Conf): FixtureConfig =
    if (c.smoke) FixtureConfig(200L, 100, c.seed) else FixtureConfig(KgPages, 1000, c.seed)
  val KgPages = 10000L
  def opsScale(c: Conf): Double = if (c.smoke) 0.001 else 0.01
  /** Stagings in an untraced run, whose median is `setup_s`; the traced
    * run, which does not report it, stages once.
    */
  val setupReps = 3
  /** Untimed units before the measured ones, in traced and untraced runs
    * alike, until the JIT has compiled the engine's and Spark's own hot
    * code: a KG unit takes ~2x its steady time cold and ~1.3x in the
    * second, a query pass ~5x cold and ~1.2x in the next three. Later
    * units still get a few percent faster; the warm-up is as long as the
    * time limit for all of a benchmark check's runs allows.
    */
  def warmupUnits(c: Conf): Int = if (c.workload == "kg_build") 2 else 4
  /** Measured untraced units at the least, however short `--seconds`. */
  val minUnits = 3

  /** The session configuration of the engine's own bench main
    * (graft.Bench), at `cores` cores and with its scratch space inside the
    * benchmark's work directory: the benchmark measures the engine as it is
    * configured, and tunes nothing of its own.
    */
  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.local.dir", localDir)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "256m")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 7) {
      System.err.println("usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <full|smoke> <workDir> <resultFile>")
      sys.exit(2)
    }
    val c = Conf(args(0), args(1).toLong, args(2).toDouble, args(3) == "1", args(4) == "smoke",
      args(5), args(6), Runtime.getRuntime.availableProcessors())
    require(Set("kg_build", "ops_queries")(c.workload), s"unknown workload ${c.workload}")
    Seq("stage", "tables", "ops_results", "spark-local").foreach(d => Kg.deleteTree(s"${c.work}/$d"))
    Files.createDirectories(Paths.get(c.work))
    val calibStart = Host.calibrate()
    val t0 = System.nanoTime()
    val spark = session(c.cores, s"${c.work}/spark-local")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val r = new Run(spark, c)
    val result = try {
      val body = if (c.workload == "ops_queries") r.ops() else r.kg()
      body ++ Map("workload" -> c.workload, "seed" -> c.seed, "trace" -> c.trace,
        "smoke" -> c.smoke, "host" -> (r.host ++ Map("session_start_s" -> sessionS,
          "calibration_s" -> Seq(calibStart, Host.calibrate()))))
    } finally r.spark.stop()
    Files.writeString(Paths.get(c.result), Json.value(result))
  }
}

/** One run of one workload: setup repetitions, untimed warm-up units,
  * then units until the measured window is spent; with tracing, the window
  * holds pairs of untraced and traced units, followed by one pass that
  * calls the layers one by one.
  */
final class Run(var spark: SparkSession, c: Main.Conf) {
  val host: Map[String, Any] = Host.record(spark, c)
  private val metrics = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  private val layers = scala.collection.mutable.LinkedHashMap[String, Double]()
  private val extra = scala.collection.mutable.LinkedHashMap[String, Any]()
  private var attempted = 0L
  private var failed = 0L
  /** Per-operation latencies are recorded only while this is set, in the
    * untraced units.
    */
  private var sampling = true
  private val cpu = scala.collection.mutable.ArrayBuffer[Double]()
  private val jvm = scala.collection.mutable.ArrayBuffer[Seq[Double]]()
  /** Seconds since the run began at which each phase ended. */
  private val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
  private val born = System.nanoTime()
  private def phase(name: String): Unit = phases(name) = (System.nanoTime() - born) / 1e9

  private def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

  /** Times `body`, counting it as one attempted operation; a throw counts
    * as failed and reads as +Inf, above any latency limit.
    */
  private def op(body: => Unit): Double = {
    attempted += 1
    val t0 = System.nanoTime()
    try { body; (System.nanoTime() - t0) / 1e9 }
    catch { case e: Exception =>
      failed += 1
      System.err.println(s"[perfbench] operation failed: $e")
      Double.PositiveInfinity
    }
  }

  /** Closed loop: units back to back until `seconds` have passed, at
    * least `min` of them. Between units, outside the timing, the heap is
    * collected and dirty pages are flushed, so neither lands in a later
    * unit.
    */
  private def loop(seconds: Double, min: Int, sample: Boolean)(unit: Int => Double): Seq[Double] = {
    val out = scala.collection.mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while (out.size < min || (System.nanoTime() - t0) / 1e9 < seconds) {
      quiesce()
      val c0 = Host.cpuSeconds()
      val j0 = Host.jvmCounters()
      out += unit(out.size)
      if (sample) {
        cpu += Host.cpuSeconds() - c0
        jvm += Host.jvmCounters().zip(j0).map { case (a, b) => a - b }
      }
    }
    out.toSeq
  }

  private def quiesce(): Unit = { System.gc(); Host.sync() }

  private def setup(rep: Int => Unit): Unit = {
    val reps = (0 until (if (c.trace) 1 else Main.setupReps)).map { i =>
      val t0 = System.nanoTime(); rep(i); (System.nanoTime() - t0) / 1e9
    }
    metric("setup_s", Stats.median(reps), "s")
    extra("setup_reps_s") = reps
    phase("setup")
  }

  private def warmup(unit: Int => Double): Unit = {
    extra("warmup_s") = (0 until Main.warmupUnits(c)).map { i =>
      val t0 = System.nanoTime(); unit(i); (System.nanoTime() - t0) / 1e9
    }
    phase("warmup")
  }

  /** Per untraced measured unit: process CPU seconds, JIT compile seconds,
    * GC seconds and Spark code-generation compiles.
    */
  private def unitCounters(): Unit = if (cpu.nonEmpty) {
    timing("cpu_s", cpu.toSeq)
    Seq("jit_s_samples", "gc_s_samples", "codegen_compiles_samples").zipWithIndex.foreach {
      case (k, i) => extra(k) = jvm.map(_(i)).toSeq
    }
  }

  private def timing(name: String, xs: Seq[Double]): Unit = {
    metric(name, Stats.median(xs), "s")
    extra(s"${name}_samples") = xs
    Stats.tail(xs).foreach { case (p, v) => extra(s"${name}_p$p") = v }
  }

  /** Per-layer Spark counters of the layered pass, whose span self time
    * per layer is `wall`.
    */
  private def listenerLayers(l: LayerListener, wall: Map[String, Double], names: Seq[String]): Unit = {
    val snap = l.snapshot(spark.sparkContext)
    names.foreach { layer =>
      val k = snap.getOrElse(layer, new LayerCounters)
      val w = wall.getOrElse(layer, 0.0)
      layers(s"$layer.jobs") = k.jobs.toDouble
      layers(s"$layer.tasks") = k.tasks.toDouble
      layers(s"$layer.busy_share") = if (w > 0) k.runMs / 1000.0 / (w * c.cores) else 0.0
      layers(s"$layer.gc_s") = k.gcMs / 1000.0
      layers(s"$layer.shuffle_write_bytes") = k.shuffleWriteBytes.toDouble
      layers(s"$layer.spill_bytes") = k.spillBytes.toDouble
      layers(s"$layer.failed_tasks") = k.failedTasks.toDouble
    }
  }

  val allLayers = Seq("dedup", "extract", "link", "canon", "prune", "table", "queries")

  /** Measures `unit` untraced and returns its samples. With tracing on,
    * untraced and traced units run in pairs whose order alternates (ABBA),
    * after the same warm-up as an untraced run. Units still get faster
    * from one to the next, so a single pair favours its second unit; in
    * each AB+BA quad a drift that is linear in time cancels, and the
    * overhead is the median over whole quads (a trailing odd pair is left
    * out of it).
    * Then one `layeredPass` runs under the listener.
    */
  private def measure(unit: Int => Double, layeredPass: Tracer => Unit): Seq[Double] = {
    if (!c.trace) {
      val plain = loop(c.seconds, Main.minUnits, sample = true)(unit)
      sampling = false
      plain
    } else {
      val tr = new Tracer(spark.sparkContext)
      // the listener is registered for the traced unit, which pays its cost
      def traced(i: Int): Double = {
        sampling = false
        val l = new LayerListener
        spark.sparkContext.addSparkListener(l)
        tr.trace = s"${c.workload}/traced/$i"
        try tr.span("unit", "pipeline")(unit(i))
        finally spark.sparkContext.removeSparkListener(l)
      }
      def plain(i: Int): Double = { sampling = true; unit(i) }
      val pairs = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
      loop(c.seconds, 2, sample = false) { k =>
        val (p, t) =
          if (k % 2 == 0) { val p = plain(2 * k); quiesce(); (p, traced(2 * k + 1)) }
          else { val t = traced(2 * k); quiesce(); (plain(2 * k + 1), t) }
        pairs += ((p, t))
        p + t
      }
      sampling = false
      val quads = pairs.toSeq.grouped(2).filter(_.size == 2).toSeq
      layers("trace.overhead_s") = Stats.median(quads.map(q => (q.map(_._2).sum - q.map(_._1).sum) / 2))
      layers("trace.overhead_ratio") = Stats.median(quads.map(q => q.map(_._2).sum / q.map(_._1).sum - 1))
      extra("trace_pairs_s") = pairs.map { case (p, t) => Seq(p, t) }.toSeq

      val before = tr.spans.size
      val ll = new LayerListener
      spark.sparkContext.addSparkListener(ll)
      tr.trace = s"${c.workload}/layered"
      quiesce()
      try layeredPass(tr)
      finally spark.sparkContext.removeSparkListener(ll)
      val layeredSpans = tr.spans.drop(before)
      val self = tr.selfSeconds(layeredSpans)
      listenerLayers(ll, self, allLayers)
      def bySpan(prefix: String) = layeredSpans.filter(_.name.startsWith(prefix)).map(_.seconds).sum
      Seq("dedup", "extract", "link", "canon").foreach(n => layers(s"$n.wall_s") = self.getOrElse(n, 0.0))
      layers("prune.score_wall_s") = bySpan("prune.score")
      layers("prune.prune_wall_s") = bySpan("prune.prune")
      layers("prune.review_wall_s") = bySpan("prune.review")
      layers("trace.spans") = tr.spans.size.toDouble
      val traceFile = s"${c.work}/trace-${c.workload}-seed${c.seed}.jsonl"
      Files.writeString(Paths.get(traceFile), tr.toJsonLines)
      extra("trace_file") = traceFile
      pairs.map(_._1).toSeq
    }
  }

  private def stubFallbacks(): Double =
    graft.multimodal.Multimodal.stubFallbackCounter(spark.sparkContext).value.toDouble

  private def finish(): Map[String, Any] = {
    phase("verify")
    extra("phase_end_s") = phases.toMap
    metric("peak_rss_mb", Host.peakRssMb(), "MB")
    metric("failed_ops_ratio", failed.toDouble / math.max(1L, attempted), "ratio")
    layers("multimodal.stub_fallback_rows") = stubFallbacks()
    Map(
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "layers" -> layers.toMap,
      "extra" -> extra.toMap)
  }

  // ------------------------------------------------------------------ KG

  def kg(): Map[String, Any] = {
    val cfg = Main.kgConfig(c)
    var st: Staged = null
    setup { i =>
      if (st != null) Kg.deleteTree(st.dir)
      st = Kg.stage(spark, cfg, s"${c.work}/stage/kg-${cfg.nPages}-${cfg.nEntities}-${cfg.seed}-rep$i")
      require(Kg.load(spark, st).pages.count() == cfg.nPages, "staged page count differs from the config")
    }
    val in = Kg.load(spark, st)
    val nAssert = graft.extract.TripleExtract.assertions(in.pages).count()
    var last: PipelineResult = null
    // every unit starts with an empty code-generation cache, as a build
    // in a new application does: the pipeline needs more classes (122)
    // than the cache keeps (100 by default), so with the cache left as the
    // previous unit left it, how many a unit recompiles (70 to 116) depends
    // on the order the previous unit's stages ran in
    val unit: Int => Double = { _ =>
      org.apache.spark.PerfbenchBus.clearCodegenCache()
      op { last = Kg.build(spark, st, in); Kg.sink(last) }
    }
    warmup(unit)

    // the traced pass calls the layers one by one, then measures the table
    // layer through the pipeline's own snapshot mode and resume
    val samples = measure(unit, { tr =>
      layers ++= Kg.layered(in, tr)
      tr.span("table", "table")(snapshotResume(st, in, tr))
    })
    phase("measure")
    timing("wall_s", samples)
    unitCounters()
    metric("assertions_per_s", nAssert / metrics("wall_s")._1, "1/s")
    extra("candidate_assertions") = nAssert

    // verification, untimed: P/R against the fixture oracle, the hash of
    // the distinct kept triples, and the text-extraction invariant
    val (p, r) = graft.pipeline.KgPipeline.precisionRecall(spark, cfg, last)
    metric("precision", p, "ratio")
    metric("recall", r, "ratio")
    extra("kept_hash") = Kg.keptHash(last)
    if (!layers.contains("extract.text_mismatch"))
      layers("extract.text_mismatch") = in.pages.where(
        graft.extract.TextExtract.extractTextCol(org.apache.spark.sql.functions.col("html")) =!=
          org.apache.spark.sql.functions.col("text")).count().toDouble

    if (c.trace) scaling(st, nAssert)
    finish()
  }

  /** One snapshot-mode run (`KgPipeline.runWith` with tables) into a fresh
    * table root, then a resume of the same run id, which must skip every
    * stage; run.py fails the run when it re-ran any. From the pipeline's own
    * stage metrics: `table.write_s` is the stages' build-and-write time,
    * `table.lineage_s` the rest of the snapshot call (lineage rows and table
    * re-reads), `table.resume_read_s` reading the resumed outputs back.
    */
  private def snapshotResume(st: Staged, in: KgInputs, tr: Tracer): Unit = {
    val root = s"${c.work}/tables/snapshot"
    Kg.deleteTree(root)
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
    }
    var first, resumed: Option[(PipelineResult, Double)] = None
    var readS = 0.0
    layers("table.snapshot_run_s") = op {
      first = Some(tr.span("table.snapshot", "table")(timed(Kg.snapshot(spark, st, in, root))))
      tr.span("table.snapshot_sink", "table")(Kg.sink(first.get._1))
    }
    layers("table.resume_s") = op {
      resumed = Some(tr.span("table.resume", "table")(timed(Kg.snapshot(spark, st, in, root))))
      readS = tr.span("table.resume_read", "table")(timed(Kg.sink(resumed.get._1)))._2
    }
    val (snap, callS) = first.getOrElse(sys.error("the snapshot run failed"))
    val res = resumed.getOrElse(sys.error("the resume run failed"))._1
    val writeS = snap.metrics.map(_.wallMs).sum / 1e3
    layers("table.write_s") = writeS
    layers("table.lineage_s") = callS - writeS
    layers("table.resume_read_s") = readS
    layers("table.bytes_written") = Kg.dirBytes(root).toDouble
    layers("table.stages_skipped") = snap.metrics.map(_.stage).diff(res.metrics.map(_.stage)).size.toDouble
    extra("resume_rerun_stages") = res.metrics.map(_.stage)
  }

  /** Weak scaling: the 4-core rate on the whole input against four times
    * the 1-core rate on url-hash buckets 0-3, a quarter of the same input.
    */
  private def scaling(st: Staged, nAssert: Long): Unit = {
    val aps4 = nAssert / metrics("wall_s")._1
    spark.stop()
    spark = Main.session(1, s"${c.work}/spark-local")
    val quarter: KgInputs = Kg.load(spark, st, 0, Kg.buckets / 4 - 1)
    val nq = graft.extract.TripleExtract.assertions(quarter.pages).count()
    val t1 = loop(0, 2, sample = false) { _ =>
      org.apache.spark.PerfbenchBus.clearCodegenCache()
      op(Kg.sink(Kg.build(spark, st, quarter)))
    }
    val aps1 = nq / Stats.median(t1)
    layers("scaling_eff") = aps4 / (c.cores * aps1)
    extra("scaling_1core_wall_s") = t1
  }

  // ----------------------------------------------------------------- ops

  def ops(): Map[String, Any] = {
    val sf = Main.opsScale(c)
    var dir = ""
    setup { i =>
      if (i > 0) Kg.deleteTree(dir)
      dir = s"${c.work}/stage/ops-sf$sf-seed${c.seed}-rep$i"
      OpsData.write(spark, dir, sf, c.seed)
    }
    val perQuery = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val unit: Int => Double = { _ =>
      val t0 = System.nanoTime()
      Ops.queries.foreach { q =>
        val t = op(Ops.sink(Ops.df(spark, dir, q)))
        if (sampling) perQuery += q -> t
      }
      (System.nanoTime() - t0) / 1e9
    }
    // the warm-up pass writes each result for the oracle comparison
    val results = s"${c.work}/ops_results"
    warmup { i =>
      if (i > 0) unit(-1)
      else Ops.queries.map(q => op(Ops.df(spark, dir, q).write.parquet(s"$results/$q"))).sum
    }
    perQuery.clear()

    val samples = measure(unit, { tr =>
      val l = Ops.layered(spark, dir, tr)
      Ops.families.foreach { case (f, qs) =>
        layers(s"queries.$f.wall_s") = qs.map(q => l.planS(q) + l.execS(q)).sum
      }
      layers("queries.plan_s") = l.planS.values.sum
      layers("queries.exec_s") = l.execS.values.sum
      layers("queries.count_gap_s") = Ops.queries.map(q => l.planS(q) + l.execS(q) - l.countS(q)).sum
      val pruned = Ops.queries.filter(q => l.pruned(q).nonEmpty)
      layers("queries.pruned_under_count") = pruned.size.toDouble
      extra("pruned_under_count") = pruned.map(q => Map("query" -> q, "pruned" -> l.pruned(q),
        "full_sink_s" -> (l.planS(q) + l.execS(q)), "count_s" -> l.countS(q))).toSeq
    })
    phase("measure")
    timing("wall_s", samples)
    unitCounters()
    val lat = perQuery.map(_._2).toSeq
    metric("query_p50_s", Stats.quantile(lat, 0.5), "s")
    metric("query_p90_s", Stats.quantile(lat, 0.9), "s")
    extra("query_samples") = lat.size
    extra("query_median_s") = perQuery.groupBy(_._1).map { case (q, xs) => q -> Stats.median(xs.map(_._2).toSeq) }
    extra("queries") = Ops.queries
    extra("ops_dir") = dir
    extra("results_dir") = results
    extra("oracle_sql") = Ops.queries.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    finish()
  }
}

/** The host and session a result was measured on. */
object Host {
  /** JIT compile seconds, GC seconds and Spark code-generation compiles,
    * each since JVM start.
    */
  def jvmCounters(): Seq[Double] = {
    import scala.jdk.CollectionConverters._
    import java.lang.management.ManagementFactory._
    Seq(getCompilationMXBean.getTotalCompilationTime / 1e3,
      getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)
  }

  def cpuSeconds(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Seconds for a fixed single-threaded integer loop: run at the start
    * and end of a run, it shows how fast the host was at the time.
    */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0L
    var i = 0
    while (i < 50000000) { x = graft.core.Ids.mix64(x); i += 1 }
    if (x == 42L) println() // keeps the result live, so the JIT keeps the loop
    (System.nanoTime() - t0) / 1e9
  }

  def sync(): Unit = new ProcessBuilder("sync").inheritIO().start().waitFor()

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def record(spark: SparkSession, c: Main.Conf): Map[String, Any] = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val memKb = scala.util.Try(scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemTotal:")).get.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    Map(
      "nproc" -> c.cores,
      "mem_total_mb" -> memKb / 1024,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "jvm_args" -> rt.getInputArguments.toArray.map(_.toString).filterNot(_.startsWith("--add-opens")).toSeq,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version,
      "spark_conf" -> spark.sparkContext.getConf.getAll
        .filter { case (k, _) => k.startsWith("spark.sql") || k == "spark.master" || k == "spark.local.dir" }
        .toMap)
  }
}
