package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload against the library and prints one JSON result
  * line: end-to-end metrics with tracing off, per-layer metrics with
  * tracing on.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --out <dir> [--smoke]
  * }}}
  */
object Main {
  /** Every run stops timing here even if `--seconds` has not elapsed. */
  val MaxOps = 400

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        smoke: Boolean, work: Path, out: Path)

  def parse(args: Array[String]): Opts = {
    val m = mutable.Map.empty[String, String]
    var smoke = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--smoke" => smoke = true; i += 1
        case k if k.startsWith("--") && i + 1 < args.length => m(k.drop(2)) = args(i + 1); i += 2
        case k => throw new IllegalArgumentException(s"unexpected argument $k")
      }
    }
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = req("workload")
    require(Workloads.Names.contains(w), s"unknown workload $w (one of ${Workloads.Names.mkString(", ")})")
    Opts(w, req("seed").toLong, req("seconds").toInt, req("trace") == "1", smoke,
      Paths.get(req("work")), Paths.get(req("out")))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Highest percentile with at least ten samples beyond it, with its
    * label; the maximum when there are fewer than eleven samples. It is
    * reported beside the median, not gated: runs that fit the time
    * budget make too few operations for a percentile with ten samples
    * beyond it. */
  def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted; val n = s.size
    if (n < 11) (s.last, s"max of $n")
    else (s(n - 11), f"p${100.0 * (n - 10) / n}%.1f of $n")
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = graft.sources.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(o.work)
    Files.createDirectories(o.out)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, o.work)
    val ok = try run(o, spark, jvmStart, cores) finally spark.stop()
    System.exit(if (ok) 0 else 1)
  }

  final case class Metric(name: String, value: Double, unit: String, base: String = "")

  /** Heap in use after full GCs, repeated until it settles: Spark frees
    * cached and broadcast blocks from its cleaner thread only after a
    * GC has collected the objects that referenced them. */
  def retainedHeapMib(): Double = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used()
    var rounds = 0
    var next = prev
    do { Thread.sleep(200); prev = next; next = used(); rounds += 1 }
    while (prev - next > 1.0 && rounds < 10)
    next
  }

  def run(o: Opts, spark: SparkSession, jvmStart: Long, cores: Int): Boolean = {
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    if (o.trace) Trace.start(spark)
    val sz = Sizes(o.smoke)
    val w = Workloads(o.workload, spark, o.seed, sz)
    val t0 = Workloads.now()
    w.setup(o.work.resolve("run"))
    val setupS = (Workloads.now() - t0) / 1000.0
    val ops = mutable.ArrayBuffer.empty[OpResult]
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val timedStart = System.currentTimeMillis()
    val deadline = Workloads.now() + o.seconds * 1000.0
    while ((Workloads.now() < deadline || ops.size + failed < w.minOps) && ops.size + failed < MaxOps) {
      try ops += w.op(ops.size + failed)
      catch { case e: Exception => failed += 1; errors += s"op failed: $e" }
    }
    val timedEnd = System.currentTimeMillis()
    val heapMib = retainedHeapMib()
    val problems = try w.check() catch { case e: Exception => Seq(s"check failed: $e") }
    errors ++= problems
    val attempted = ops.size + failed + 1 // the correctness check is one more operation
    val failedOps = failed + (if (problems.nonEmpty) 1 else 0)
    val lat = ops.map(_.latencyMs / 1000.0).toSeq
    val (tailS, tailLabel) = if (lat.nonEmpty) tail(lat) else (0.0, "none")
    val busyS = lat.sum
    val e2e = Seq(
      Metric("setup_s", sessionS + setupS, "s",
        f"JVM start to session $sessionS%.3f s + workload set-up $setupS%.3f s"),
      Metric("latency_p50_s", if (lat.nonEmpty) median(lat) else 0.0, "s",
        s"median of ${lat.size} ops: ${lat.take(12).map(v => f"$v%.3f").mkString(", ")}" +
          f"${if (lat.size > 12) ", ..." else ""} s; tail ($tailLabel) $tailS%.3f s"),
      Metric("throughput_per_s", if (busyS > 0) ops.map(_.items).sum / busyS else 0.0, "1/s",
        f"${ops.map(_.items).sum} ${w.itemName} over $busyS%.3f s of ${ops.size} ops"),
      Metric("stored_bytes_per_input_byte", w.storedBytesPerInputByte(), "B/B",
        "bytes under the table directories per input byte"),
      Metric("retained_heap_mib", heapMib, "MiB", "JVM heap after full GC"))
    val layer = if (o.trace) perLayer(spark, w, ops.size, busyS, cores, timedStart, timedEnd) else Nil
    val metrics = if (o.trace) layer else e2e
    val correct = errors.isEmpty
    errors.foreach(e => System.err.println(s"perfbench: $e"))
    val report = Report.json(o, e2e, layer, correct, attempted, failedOps)
    if (o.trace) Report.writeTrace(o, e2e, layer, Trace.finish(spark), timedStart, timedEnd)
    Files.write(o.out.resolve(s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json"),
      report.getBytes(UTF_8))
    e2e.foreach(m => System.err.println(f"perfbench: ${m.name}%-28s ${m.value}%.6f ${m.unit} (${m.base})"))
    println(Report.result(correct, attempted, failedOps, metrics))
    correct
  }

  /** Per-layer metrics of the timed phase, each per timed operation
    * unless its unit says otherwise. */
  def perLayer(spark: SparkSession, w: Workload, ops: Int, busyS: Double, cores: Int,
               timedStart: Long, timedEnd: Long): Seq[Metric] = {
    val extras = w.layerExtras()
    val spans = Trace.finish(spark).filter(s => s.start >= timedStart && s.end <= timedEnd && s.end >= 0)
    val n = math.max(ops, 1).toDouble
    def total(name: String): Double = spans.filter(_.name == name).map(_.dur).sum / 1000.0 / n
    val cs = spans.map(_.counters)
    def sum(f: Counters => Double): Double = cs.map(f).sum / n
    val jobWallS = Trace.unionMs(cs.flatMap(_.jobIntervals).filter(_._2 >= 0)) / 1000.0
    val streamSpans = spans.filter(_.name == "stream")
    val streamWallS = streamSpans.map(_.dur).sum / 1000.0
    val triggerS = streamSpans.map(_.counters.streamMs("triggerExecution")).sum / 1000.0
    val log = LogStats.diff(w.tableRoots, timedStart, timedEnd)
    val per = "per op"
    def m(name: String, v: Double, unit: String, base: String = per) = Metric(name, v, unit, base)
    val runS = sum(_.runNs / 1e9)
    Seq(
      m("run.ops", ops, "count", "timed operations (the base of every per-op value)"),
      m("bronze.s", total("bronze"), "s"),
      m("bronze.rows", sum(_.streamRows.toDouble), "count"),
      m("silver.s", total("silver"), "s"),
      m("silver.kept_ratio", extras.getOrElse("silver.kept_ratio", 0.0), "ratio",
        "silver order lines / delivered order lines"),
      m("gold.dims_s", total("gold.dims"), "s"),
      m("gold.fact_s", total("gold.fact"), "s"),
      m("gold.optimize_s", total("gold.optimize"), "s"),
      m("dq.s", total("dq"), "s"),
      m("dq.violations", extras.getOrElse("dq.violations", log.qualityRows / n), "count"),
      m("dq.scan_bytes_per_source_byte", {
        val dqIn = spans.filter(s => s.name == "dq" || hasAncestor(spans, s, "dq")).map(_.counters.input).sum
        if (log.silverBytes > 0) dqIn.toDouble / log.silverBytes else 0.0
      }, "B/B", "bytes the DQ spans read / bytes of the silver tables"),
      m("stream.start_s", (streamWallS - triggerS) / n, "s", "stream wall minus trigger execution, per op"),
      m("stream.latest_offset_ms", sum(_.streamMs("latestOffset").toDouble), "ms"),
      m("stream.query_planning_ms", sum(_.streamMs("queryPlanning").toDouble), "ms"),
      m("stream.add_batch_ms", sum(_.streamMs("addBatch").toDouble), "ms"),
      m("stream.wal_commit_ms", sum(_.streamMs("walCommit").toDouble), "ms"),
      m("stream.batches", sum(_.batches.toDouble), "count"),
      m("delta.snapshot_s", total("delta.snapshot"), "s"),
      m("delta.write_s", total("delta.write"), "s"),
      m("delta.merge_s", total("delta.merge"), "s"),
      m("delta.optimize_s", total("delta.optimize"), "s"),
      m("delta.read_s", total("delta.read"), "s"),
      m("delta.commits", log.commits / n, "count"),
      m("delta.log_bytes", log.logBytes / n, "B"),
      m("delta.checkpoints", log.checkpoints / n, "count"),
      m("delta.files_added", log.filesAdded / n, "count"),
      m("delta.files_removed", log.filesRemoved / n, "count"),
      m("delta.merge_rewrite_bytes_per_source_byte",
        if (log.inputBytes > 0) log.mergeAddBytes.toDouble / log.inputBytes else 0.0, "B/B",
        "bytes MERGE commits added / input bytes landed in the timed phase"),
      m("iceberg.metadata_bytes", log.icebergBytes / n, "B"),
      m("iceberg.manifests", log.icebergManifests / n, "count"),
      m("iceberg.snapshot_s", total("iceberg.snapshot"), "s"),
      m("iceberg.read_s", total("iceberg.read"), "s")) ++
      Report.QueryTemplates.map { t =>
        val q = spans.filter(_.name == s"query.$t")
        m(s"query.${t}_s", if (q.isEmpty) 0.0 else q.map(_.dur).sum / 1000.0 / q.size, "s",
          s"mean of ${q.size} queries")
      } ++ Seq(
      m("curate.exact_s", total("curate.exact"), "s"),
      m("curate.minhash_s", total("curate.minhash"), "s"),
      m("curate.clusters_s", total("curate.clusters"), "s"),
      m("curate.substring_s", total("curate.substring"), "s"),
      m("curate.candidates", extras.getOrElse("curate.candidates", 0.0), "count", "LSH candidate pairs of the corpus"),
      m("curate.verified_per_candidate", extras.getOrElse("curate.verified_per_candidate", 0.0), "ratio",
        "verified near-duplicate pairs / LSH candidate pairs"),
      m("engine.jobs", sum(_.jobs.toDouble), "count"),
      m("engine.stages", sum(_.stages.toDouble), "count"),
      m("engine.tasks", sum(_.tasks.toDouble), "count"),
      m("engine.executor_run_s", runS, "s"),
      m("engine.executor_cpu_s", sum(_.cpuNs / 1e9), "s"),
      m("engine.gc_s", sum(_.gcMs / 1e3), "s"),
      m("engine.scheduler_delay_s", sum(_.schedDelayMs / 1e3), "s"),
      m("engine.shuffle_write_bytes", sum(_.shuffleWrite.toDouble), "B"),
      m("engine.shuffle_read_bytes", sum(_.shuffleRead.toDouble), "B"),
      m("engine.spill_bytes", sum(_.spill.toDouble), "B"),
      m("engine.input_bytes", sum(_.input.toDouble), "B"),
      m("engine.output_bytes", sum(_.output.toDouble), "B"),
      m("engine.planning_s", sum(_.planningMs / 1e3), "s"),
      m("engine.driver_gap_s", math.max(0.0, busyS - jobWallS) / n, "s",
        "op wall minus the union of job intervals, per op"),
      m("engine.core_busy_ratio", if (busyS > 0) runS * n / (busyS * cores) else 0.0, "ratio",
        s"executor run time / (op wall x $cores cores)"))
  }

  private def hasAncestor(all: Seq[Span], s: Span, name: String): Boolean = {
    val byId = all.map(x => x.id -> x).toMap
    var p = byId.get(s.parent)
    while (p.isDefined) { if (p.get.name == name) return true; p = byId.get(p.get.parent) }
    false
  }
}

/** `_delta_log` and Iceberg `metadata/` files written in a time window. */
final case class LogStats(commits: Double, logBytes: Double, checkpoints: Double,
                          filesAdded: Double, filesRemoved: Double, mergeAddBytes: Long,
                          inputBytes: Long, icebergBytes: Double, icebergManifests: Double,
                          qualityRows: Double, silverBytes: Long)

object LogStats {
  private val Size = "\"size\":(\\d+)".r
  private val Records = "numRecords\\\\?\":(\\d+)".r

  private def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  def diff(roots: Seq[Path], from: Long, to: Long): LogStats = {
    val all = roots.flatMap(files)
    def inWindow(p: Path) = { val t = Files.getLastModifiedTime(p).toMillis; t >= from && t <= to }
    val logs = all.filter(p => p.getParent.getFileName.toString == "_delta_log" && inWindow(p))
    val commits = logs.filter(_.getFileName.toString.matches("\\d+\\.json"))
    var added, removed = 0.0; var mergeBytes = 0L; var qualityRows = 0.0
    commits.foreach { c =>
      val lines = Files.readAllLines(c).asScala
      val isMerge = lines.exists(l => l.startsWith("{\"commitInfo\"") && l.contains("\"MERGE\""))
      val quality = c.toString.contains("/tables/quality/")
      lines.foreach { l =>
        if (l.startsWith("{\"add\"")) {
          added += 1
          if (isMerge) mergeBytes += Size.findFirstMatchIn(l).map(_.group(1).toLong).getOrElse(0L)
          if (quality) qualityRows += Records.findFirstMatchIn(l).map(_.group(1).toDouble).getOrElse(0.0)
        } else if (l.startsWith("{\"remove\"")) removed += 1
      }
    }
    val landed = all.filter(p => p.toString.contains("/landing/") && p.toString.endsWith(".json") && inWindow(p))
    val ice = all.filter(p => p.getParent.getFileName.toString == "metadata" && inWindow(p))
    val silver = all.filter(p => p.toString.contains("/tables/silver_") && p.toString.endsWith(".parquet") &&
      !p.toString.contains("_delta_log") && inWindow(p))
    LogStats(commits.size, logs.map(Files.size).sum.toDouble,
      logs.count(_.getFileName.toString.contains(".checkpoint")).toDouble, added, removed,
      mergeBytes, landed.map(Files.size).sum, ice.map(Files.size).sum.toDouble,
      ice.count(p => p.getFileName.toString.endsWith(".avro") && !p.getFileName.toString.startsWith("snap-")).toDouble,
      qualityRows, silver.map(Files.size).sum)
  }
}
