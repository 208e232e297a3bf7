package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** A workload's phases. `prepare` makes the seeded inputs and the expected
  * results (benchmark work, untimed); `setup` does the library-side set-up
  * and is timed, several times over fresh directories, the last one kept;
  * `run` measures for the window. */
trait Workload {
  def prepare(ctx: Ctx): Unit
  def setup(ctx: Ctx, rep: Int): Unit
  def run(ctx: Ctx): Unit
  def report(ctx: Ctx): Report
}

final case class Metric(value: Double, unit: String, n: Int = -1)

/** `named`: every metric the workload measures, by name. The three roles
  * are the end-to-end metrics whose meaning the workload defines: the
  * typical latency of its primary op, its work rate, and its storage cost.
  * `inputDigest` is a checksum of the generated inputs, so a caller can
  * tell that another seed gave other inputs. */
final case class Report(
    named: Seq[(String, Metric)],
    opMs: Double,
    workPerS: Double,
    storedBytesPerRow: Double,
    inputDigest: Long)

object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val scale = opts.getOrElse("scale", "1").toDouble
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = new File(opts("out"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(trace, spark)
    val ctx = new Ctx(spark, seed, seconds, scale, work, tracer,
      wrongExpected = opts.get("wrong-expected").contains("1"))
    val w: Workload = workload match {
      case "ingest_compact" => new IngestCompact
      case "query_mix" => new QueryMix
      case "live_read_write" => new LiveReadWrite
      case "dedup_pipeline" => new DedupPipeline
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val tPrep = System.nanoTime()
    tracer.span("prepare")(w.prepare(ctx))
    val prepareS = (System.nanoTime() - tPrep) / 1e9
    val setupS = (1 to SetupReps).map { r =>
      val t0 = System.nanoTime()
      tracer.span("setup")(w.setup(ctx, r))
      (System.nanoTime() - t0) / 1e9
    }
    val oldGen = new Jvm.OldGenPeak
    val gc0 = Jvm.gcMs
    val cpu0 = Jvm.cpuNs
    val host0 = HostCpu.ticks()
    oldGen.start()
    val t0 = System.nanoTime()
    w.run(ctx)
    val windowS = (System.nanoTime() - t0) / 1e9
    val oldGenPeakMb = oldGen.stopMb()
    val stealShare = HostCpu.stealShare(host0, HostCpu.ticks())
    val gcMs = (Jvm.gcMs - gc0).toDouble
    val cpuS = (Jvm.cpuNs - cpu0) / 1e9
    val heapLive = Jvm.liveHeapMb()
    // the live set after the window is the floor
    val heapPeak = math.max(heapLive, oldGenPeakMb)

    val rep = w.report(ctx)
    val attempted = ctx.rec.attempted.get
    val failed = ctx.rec.failed.get
    val errorRate = if (attempted == 0) 1.0 else failed.toDouble / attempted

    val named: Seq[(String, Metric)] = Seq(
      "setup_s" -> Metric(Stats.median(setupS), "s", setupS.length)) ++ rep.named ++ Seq(
      "heap_live_mb" -> Metric(heapLive, "MB"),
      "heap_peak_mb" -> Metric(heapPeak, "MB"),
      "error_rate" -> Metric(errorRate, "ratio", attempted.toInt))
    val endToEnd: Seq[(String, Metric)] = Seq(
      "setup_s" -> Metric(Stats.median(setupS), "s"),
      "op_latency_ms" -> Metric(rep.opMs, "ms"),
      "work_per_s" -> Metric(rep.workPerS, "1/s"),
      "stored_bytes_per_row" -> Metric(rep.storedBytesPerRow, "B/row"),
      "heap_live_mb" -> Metric(heapLive, "MB"))
    val perLayer: Seq[(String, Metric)] =
      if (trace) Layers.compute(ctx, spark, gcMs, cpuS, oldGenPeakMb) else Nil

    val env = Env.record(spark, cores, seed, workload, scale, work, stealShare)
    def metricsJson(ms: Seq[(String, Metric)]): String = ms.map { case (k, m) =>
      s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}"}"""
    }.mkString("{", ", ", "}")
    val result =
      s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": ${metricsJson(if (trace) perLayer else endToEnd)}}"""

    named.foreach { case (k, m) =>
      val n = if (m.n >= 0) s"  (n=${m.n})" else ""
      println(f"$workload%-16s $k%-22s ${num(m.value)}%14s ${m.unit}$n")
    }
    println(f"$workload%-16s window_s               ${num(windowS)}%14s s")
    println(f"$workload%-16s prepare_s              ${num(prepareS)}%14s s")

    val record = new StringBuilder
    record ++= s"""{"workload": "$workload", "seed": $seed, "trace": $trace, """
    record ++= s""""env": $env, "input_digest": ${rep.inputDigest}, """
    record ++= s""""window_s": ${num(windowS)}, "prepare_s": ${num(prepareS)}, """
    record ++= s""""setup_reps_s": [${setupS.map(num).mkString(", ")}], """
    record ++= s""""op_ms": ${ctx.rec.kinds.map(k => s""""$k": [${ctx.rec.ms(k).map(num).mkString(", ")}]""")
      .mkString("{", ", ", "}")}, """
    record ++= s""""named": ${metricsJson(named)}, "end_to_end": ${metricsJson(endToEnd)}, """
    record ++= s""""per_layer": ${metricsJson(perLayer)}, "result": $result}"""
    val pw = new PrintWriter(out, "UTF-8")
    try pw.println(record.toString) finally pw.close()
    if (trace) {
      val sp = new PrintWriter(new File(out.getPath.stripSuffix(".json") + ".spans.jsonl"), "UTF-8")
      val spans = tracer.spanList
      val self = Layers.selfMs(spans)
      try spans.foreach(s => sp.println(s.json(Layers.layerOf(s.name), self(s.id))))
      finally sp.close()
    }
    spark.stop()
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** The environment a result was measured in. */
object Env {
  def record(spark: SparkSession, cores: Int, seed: Long, workload: String, scale: Double,
      work: java.nio.file.Path, stealShare: Double): String = {
    val rt = Runtime.getRuntime
    val medium =
      try Files.getFileStore(work).`type`() catch { case _: Exception => "unknown" }
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    Seq(
      "nproc" -> rt.availableProcessors.toString,
      "local_n" -> cores.toString,
      "max_memory_mb" -> (rt.maxMemory / 1048576).toString,
      "xmx_source" -> q(sys.env.getOrElse("PERFBENCH_XMX_SOURCE", "unknown")),
      "jvm" -> q(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
      "spark" -> q(spark.version),
      "commit" -> q(sys.env.getOrElse("PERFBENCH_COMMIT", "unknown")),
      "seed" -> seed.toString,
      "workload" -> q(workload),
      "scale" -> Main.num(scale),
      "scratch_medium" -> q(medium),
      "window_cpu_steal" -> Main.num(stealShare)
    ).map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
  }
}
