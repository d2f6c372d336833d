package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark run: one workload, one seed, in a fresh JVM.
  *
  * {{{
  * graftbench.Main --workload pipeline|suite
  *   --seed N --seconds S --trace 0|1 --data SF_DIR --run-dir DIR
  *   --out RESULT.json --expected ROWS.tsv [--smoke 1] [--record 1]
  * }}}
  *
  * Set-up (session and workload preparation) is timed from JVM start.
  * Then one cold pass, one settling pass, and one measured warm pass
  * (three in a traced run), and more while fewer than `--seconds` have
  * been spent on measured passes. Every pass's outputs are checked; the
  * last pass also gets the workload's full check. The result file holds
  * every metric with its unit and per-pass samples. `--record 1` skips
  * the suite's row-count check and leaves the counts in the result file,
  * to refresh `expected_rows.tsv`.
  */
object Main {
  val cores = 4
  val maxMeasured = 50

  /** Task-bound queries: brute-force exact cosine top-k (q139) and an
    * IVF probe (q58), the next targets of kernel-level work. */
  val heavy: Seq[String] = Seq("q139_knn_clusters", "q58_ann_ivf_recall")
  /** Driver-bound queries, whose cost is planning, codegen and job
    * dispatch: the relational core and a sample of the binary-format
    * tail whose decoders run as `graft.functions` expressions. */
  val lightCore: Seq[String] = Seq(
    "q02_inlist_scan", "q05_semi_join", "q06_topk", "q12_union", "q15_pivot")
  val lightDecoders: Seq[String] = Seq(
    "q286_parquet_meta", "q290_zstd", "q295_xz", "q309_bson", "q313_cbor",
    "q347_subtitles", "q352_lzma_alone", "q362_gpt2_pretok")
  val suite: Seq[String] = heavy ++ lightCore ++ lightDecoders

  /** Every per-layer metric with its unit. A metric of a layer the
    * workload does not exercise reads 0. */
  val perLayer: Seq[(String, String)] = Seq(
    "catalog.parquet_s" -> "s", "catalog.jdbc_s" -> "s", "catalog.tables" -> "count",
    "walk.keys.customer" -> "count", "walk.keys.orders" -> "count", "walk.keys.lineitem" -> "count",
    "walk.jobs" -> "count", "walk.task_s" -> "s",
    "dump.jobs" -> "count", "dump.task_s" -> "s", "dump.bytes" -> "bytes", "dump.files" -> "count",
    "dump.bytes_per_row" -> "bytes/row",
    "copy_tree.s" -> "s", "replay.s" -> "s", "replay.rows" -> "count", "replay.rows_per_s" -> "rows/s",
    "sync.update_s" -> "s", "sync.update_ms_per_row" -> "ms/row",
    "sync.delete_tree_s" -> "s", "sync.delete_ms_per_key" -> "ms/key") ++
    heavy.map(q => s"q.$q.s" -> "s") ++ Seq(
    "ext.Similarity.task_s" -> "s", "ext.Dedup.task_s" -> "s", "ext.Corpus.task_s" -> "s",
    "ext.TextAnalysis.task_s" -> "s",
    "light.core_s" -> "s", "light.decoders_s" -> "s", "light.jobs_per_query" -> "count",
    "plan.analysis_s" -> "s", "plan.optimize_s" -> "s", "plan.physical_s" -> "s",
    "codegen.compile_s" -> "s", "codegen.classes" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.peak_exec_mem_mb" -> "MB",
    "spark.busy_frac" -> "frac", "spark.tasks_failed" -> "count") ++
    Kernels.all.map(k => s"kernel.${k.name}.mb_per_s" -> "MB/s") ++ Seq(
    "trace.overhead_s" -> "s", "trace.spans" -> "count", "trace.depth" -> "count")

  /** Listener counter → per-layer metric. */
  private val fromListener: Seq[(String, String)] = Seq(
    "layer.walk.jobs" -> "walk.jobs", "layer.walk.task_s" -> "walk.task_s",
    "layer.dump.jobs" -> "dump.jobs", "layer.dump.task_s" -> "dump.task_s",
    "layer.ext.Similarity.task_s" -> "ext.Similarity.task_s",
    "layer.ext.Dedup.task_s" -> "ext.Dedup.task_s",
    "layer.ext.Corpus.task_s" -> "ext.Corpus.task_s",
    "layer.ext.TextAnalysis.task_s" -> "ext.TextAnalysis.task_s") ++
    perLayer.map(_._1).filter(n => n.startsWith("spark.") || n.startsWith("plan.")).map(n => n -> n)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def session(runDir: Path): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("graftbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.files.maxPartitionBytes", "4m")
    .config("spark.sql.codegen.cache.maxEntries", "10000")
    .config("spark.local.dir", runDir.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", runDir.resolve("spark-warehouse").toString)
    .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase(name: String): Unit = phases(name) = (System.currentTimeMillis() - jvmStartMs) / 1e3
    phase("main")
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val smoke = a.getOrElse("smoke", "0") == "1"
    val record = a.getOrElse("record", "0") == "1"
    val runDir = Paths.get(a("run-dir")).toAbsolutePath
    val dbs = Files.createDirectories(runDir.resolve("derby"))
    System.setProperty("derby.system.home", dbs.toString)
    System.setProperty("derby.stream.error.file", runDir.resolve("derby.log").toString)

    val spark = session(runDir)
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    phase("session")
    val probe = new Probe(sc)
    if (traced) {
      sc.addSparkListener(probe)
      spark.listenerManager.register(probe)
    }

    val ctx = Ctx(spark, a("data"), runDir, dbs, seed, smoke)
    val expectedRows: Map[String, Long] = {
      val sf = Paths.get(a("data")).getFileName.toString
      scala.io.Source.fromFile(a("expected")).getLines()
        .map(_.split("\t")).collect { case Array(`sf`, q, n) => q -> n.toLong }.toMap
    }
    val w: Workload = workload match {
      case "pipeline" => new Pipeline(ctx)
      case "suite" => new Suite(ctx, suite, expectedRows, record)
      case other => sys.error(s"unknown workload $other")
    }
    Trace.enabled = traced
    Trace.span(s"setup.$workload")(w.setup())
    Trace.enabled = false
    phase("workload")
    val setupS = phases("workload")

    final case class Sample(i: Int, traced: Boolean, pass: Pass, layers: Map[String, Double])
    val samples = mutable.ArrayBuffer.empty[Sample]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var checks = 0
    def codegen(): Map[String, Double] = Map(
      "codegen.compile_s" -> CodeGenerator.compileTime / 1e9,
      "codegen.classes" -> CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount.toDouble)
    def runPass(i: Int, tracePass: Boolean): Boolean = {
      Trace.enabled = tracePass
      probe.enabled = tracePass
      val before = if (traced) probe.snapshot() ++ codegen() else Map.empty[String, Double]
      val spans0 = Trace.all.size
      attempted += w.opsPerPass
      val ok =
        try {
          val p = Trace.span(s"pass.$i")(w.pass(i))
          Trace.enabled = false
          probe.enabled = false
          val after = if (traced) probe.snapshot() ++ codegen() else Map.empty[String, Double]
          val bad = w.check(i, full = false)
          checks += 1
          failures ++= bad
          val diff = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
          val layerVals = diff ++ w.layers + ("trace.spans" -> (Trace.all.size - spans0).toDouble)
          samples += Sample(i, tracePass, p, layerVals)
          true
        } catch {
          case e: Exception =>
            e.printStackTrace()
            failures += s"pass $i failed: $e"
            false
        } finally {
          Trace.enabled = false
          probe.enabled = false
        }
      if (i > 0) w.cleanup(i - 1)
      ok
    }

    val t0 = System.nanoTime()
    var ok = true
    var i = 0
    // after the cold pass the JIT and Spark's caches keep warming for one
    // more pass, which is run but not measured; traced runs then time
    // passes traced, untraced, traced, so the overhead estimate cancels a
    // steady warm-up trend
    val settle = if (smoke) 0 else 1
    val measured = if (smoke) 0 else if (traced) 3 else 1
    Trace.enabled = traced
    Trace.span("passes") {
      ok = runPass(0, traced)
      if (ok && settle == 1) ok = runPass(1, tracePass = false)
      i = 1 + settle
      val warm0 = System.nanoTime()
      def m = i - 1 - settle // measured passes so far
      while (!smoke && ok && m < maxMeasured &&
        (m < measured || (System.nanoTime() - warm0) / 1e9 < seconds)) {
        ok = runPass(i, traced && m % 2 == 0)
        i += 1
      }
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    // the last pass's outputs get the full content check too
    val lastI = samples.lastOption.map(_.i).getOrElse(0)
    if (samples.nonEmpty && w.hasFullCheck) {
      failures ++= w.check(lastI, full = true)
      checks += 1
    }
    w.cleanup(i - 1)

    // kernels: outside the scheduler, in traced runs
    val kernelRates = mutable.Map.empty[String, Seq[Double]]
    if (traced) {
      Trace.enabled = true
      Trace.span("kernels") {
        Kernels.run(seed, if (smoke) 1 << 16 else 1 << 18, 3, if (smoke) 0.02 else 0.1).foreach {
          case (name, rates, good) =>
            attempted += 1
            checks += 1
            kernelRates(name) = rates
            if (!good) failures += s"kernel $name did not decode back to its input"
        }
      }
      Trace.enabled = false
    }

    // ---- metrics
    val warm = samples.filter(_.i > settle)
    val timedWarm = if (warm.isEmpty) samples.toSeq else warm.filter(_.traced == traced).toSeq
    val first = samples.find(_.i == 0)
    val wallS = median(timedWarm.map(_.pass.seconds))
    val stepNames = samples.headOption.map(_.pass.steps.map(_._1)).getOrElse(Nil)
    val stepMedians = stepNames.map(n => n -> median(timedWarm.flatMap(_.pass.steps.collect { case (`n`, s) => s })))
    val rows = median(timedWarm.map(_.pass.rows.toDouble))
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Seq[Double])]
    def put(n: String, v: Double, unit: String, xs: Seq[Double] = Nil): Unit = metrics(n) = (v, unit, xs)
    put("setup_s", setupS, "s", Seq(setupS))
    put("first_pass_s", first.map(_.pass.seconds).getOrElse(Double.NaN), "s", first.map(_.pass.seconds).toSeq)
    put("wall_s", wallS, "s", timedWarm.map(_.pass.seconds))
    put("rows_per_s", rows / wallS, "rows/s", timedWarm.map(s => s.pass.rows / s.pass.seconds))
    put("query_geomean_s", geomean(stepMedians.map(_._2)), "s")
    put("peak_rss_mb", vmHwmMb(), "MB")
    val failed = failures.size
    val total = attempted + checks
    put("fail_frac", failed.toDouble / math.max(total, 1), "frac")

    if (traced) {
      val tracedWarm = warm.filter(_.traced).toSeq
      val layerSamples = if (tracedWarm.isEmpty) samples.filter(_.traced).toSeq else tracedWarm
      def layerMedian(k: String): (Double, Seq[Double]) = {
        val xs = layerSamples.flatMap(_.layers.get(k))
        (if (xs.isEmpty) 0.0 else median(xs), xs)
      }
      val layerVals = mutable.LinkedHashMap.empty[String, (Double, Seq[Double])]
      fromListener.foreach { case (src, dst) => layerVals(dst) = layerMedian(src) }
      w.layers.keys.foreach(k => layerVals(k) = layerMedian(k))
      layerVals("trace.spans") = layerMedian("trace.spans")
      // warm passes hit the codegen cache: compilation is a cold-pass cost
      Seq("codegen.compile_s", "codegen.classes").foreach { k =>
        val xs = samples.filter(_.i == 0).flatMap(_.layers.get(k)).toSeq
        layerVals(k) = (xs.headOption.getOrElse(0.0), xs)
      }
      val busy = layerSamples.flatMap(s => s.layers.get("spark.task_s").map(_ / (s.pass.seconds * cores)))
      layerVals("spark.busy_frac") = (median(busy), busy)
      w match {
        case s: Suite =>
          s.queries.foreach { q =>
            val xs = layerSamples.flatMap(_.pass.steps.collect { case (`q`, t) => t })
            layerVals(s"q.$q.s") = (median(xs), xs)
            layerVals(s"q.$q.task_s") = layerMedian(s"group.$q.task_s")
          }
          def sumOf(pick: String => Boolean) = {
            val xs = layerSamples.map(_.pass.steps.collect { case (q, t) if pick(q) => t }.sum)
            (median(xs), xs)
          }
          layerVals("light.core_s") = sumOf(lightCore.contains)
          layerVals("light.decoders_s") = sumOf(lightDecoders.contains)
          val light = lightCore ++ lightDecoders
          val jpq = layerSamples.map(x => light.map(q => x.layers.getOrElse(s"group.$q.jobs", 0.0)).sum / light.size)
          layerVals("light.jobs_per_query") = (median(jpq), jpq)
        case _ =>
      }
      kernelRates.foreach { case (k, xs) => layerVals(s"kernel.$k.mb_per_s") = (median(xs), xs) }
      val on = warm.filter(_.traced).map(_.pass.seconds).toSeq
      val off = warm.filterNot(_.traced).map(_.pass.seconds).toSeq
      layerVals("trace.overhead_s") =
        (if (on.nonEmpty && off.nonEmpty) median(on) - median(off) else 0.0, Nil)
      layerVals("trace.depth") = (Trace.maxDepth.toDouble, Nil)
      perLayer.foreach { case (n, u) =>
        val (v, xs) = layerVals.getOrElse(n, (0.0, Nil))
        put(n, if (v.isNaN) 0.0 else v, u, xs)
      }
      layerVals.keys.filterNot(metrics.contains).foreach { n =>
        val (v, xs) = layerVals(n)
        put(n, v, "s", xs) // the per-query times of the suite
      }
    }

    val spans = Trace.all.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run" -> Trace.runId,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> Trace.selfSeconds(s)))
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced, "smoke" -> smoke,
      "provenance" -> Map(
        "cores" -> cores, "sf" -> Paths.get(a("data")).getFileName.toString,
        "data" -> a("data"),
        "maxPartitionBytes" -> spark.conf.get("spark.sql.files.maxPartitionBytes"),
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString),
      "passes" -> samples.map(s => Map("i" -> s.i, "traced" -> s.traced, "seconds" -> s.pass.seconds,
        "rows" -> s.pass.rows, "steps" -> s.pass.steps.map { case (n, t) => Map("name" -> n, "s" -> t) })),
      "setup_phases_s" -> phases,
      "memory_peak_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala.map(p =>
        p.getName -> p.getPeakUsage.getCommitted / 1048576.0).toMap,
      "measured_s" -> measuredS,
      "step_median_s" -> stepMedians.toMap,
      "attempted" -> total, "failed" -> failed, "failures" -> failures.take(50).toSeq,
      "metrics" -> metrics.map { case (n, (v, u, xs)) => n -> Map("value" -> v, "unit" -> u, "samples" -> xs) },
      "spans" -> spans)
    w match {
      case s: Suite => result("row_counts") = s.counts(0)
      case _ =>
    }
    Files.writeString(Paths.get(a("out")), Json.render(result))
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}
