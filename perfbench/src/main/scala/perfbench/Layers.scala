package perfbench

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from its spans, the counts noted at
  * each library call, and the Spark listener. Span names map to layers:
  * `sql.plan` is the SQL front end, `sql.exec` and `dedup.*` execution,
  * `logio.snapshot` the log, `insert` the write path, `optimize` and
  * `cleanup` maintenance; root spans (`op.*`, `setup`, `check`, `prepare`)
  * belong to the benchmark itself. */
object Layers {
  def layerOf(name: String): String = name match {
    case "sql.plan" => "sql"
    case "sql.exec" => "exec"
    case n if n.startsWith("dedup.") => "exec"
    case "logio.snapshot" => "logio"
    case "insert" => "write"
    case "optimize" | "cleanup" => "maintenance"
    case _ => "bench"
  }
  val LayerNames: Seq[String] = Seq("sql", "exec", "logio", "write", "maintenance", "bench")

  /** Span duration minus the time its children cover. */
  def selfMs(spans: Seq[Span]): Map[Long, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  def compute(ctx: Ctx, spark: SparkSession, gcMs: Double, cpuS: Double,
      oldGenPeakMb: Double): Seq[(String, Metric)] = {
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    val t = ctx.tracer
    val spans = t.spanList
    val byName = spans.groupBy(_.name)
    val self = selfMs(spans)
    val selfByLayer = spans.groupBy(s => layerOf(s.name))
      .map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }

    val accs = t.jobs.map(_.bySpan.asScala.toMap).getOrElse(Map.empty)
    val spanById = spans.map(s => s.id -> s).toMap
    def rootName(spanId: Long): String =
      spanById.get(spanId).flatMap(s => spanById.get(s.op)).map(_.name).getOrElse("")
    def accsWhere(p: Long => Boolean) = accs.collect { case (id, a) if p(id) => a }
    // call durations within the window (its ops and their checks), not
    // those made during prepare or set-up, unless the window makes none
    def durs(name: String): Seq[Double] = {
      val all = byName.getOrElse(name, Nil)
      val inWindow = all.filterNot(s => Set("prepare", "setup")(rootName(s.id)))
      (if (inWindow.nonEmpty) inWindow else all).map(_.ms)
    }
    val inserts = byName.getOrElse("insert", Nil)
    val insertIds = inserts.map(_.id).toSet
    val insertAccs = accsWhere(insertIds)
    val ops = spans.count(s => s.parent == 0L && s.name.startsWith("op."))
    val opAccs = accsWhere(id => rootName(id).startsWith("op."))
    def perOp(v: Double): Double = if (ops == 0) 0.0 else v / ops
    def perInsert(v: Double): Double = if (inserts.isEmpty) 0.0 else v / inserts.length
    val alive = t.noted("select.files_alive")
    val scanned = t.noted("select.files_scanned")
    val allAccs = accs.values

    Seq(
      "sql.plan_ms" -> Metric(Stats.median(durs("sql.plan")), "ms"),
      "logio.fold_ms" -> Metric(Stats.median(durs("logio.snapshot")), "ms"),
      "logio.log_files" -> Metric(Stats.median(t.noted("logio.log_files")), "count"),
      "logio.commits" -> Metric(t.noted("commits").sum, "count"),
      "insert.ms" -> Metric(Stats.median(durs("insert")), "ms"),
      "insert.files_per_commit" -> Metric(Stats.mean(t.noted("insert.files")), "count"),
      "insert.bytes_per_row" -> Metric(
        ratio(t.noted("insert.bytes").sum, t.noted("insert.rows").sum), "B/row"),
      "insert.jobs_per_commit" -> Metric(perInsert(insertAccs.map(_.jobs).sum.toDouble), "count"),
      "insert.tasks_per_commit" -> Metric(perInsert(insertAccs.map(_.tasks).sum.toDouble), "count"),
      "optimize.ms" -> Metric(Stats.median(durs("optimize")), "ms"),
      "optimize.files_in" -> Metric(Stats.mean(t.noted("optimize.files_in")), "count"),
      "optimize.files_out" -> Metric(Stats.mean(t.noted("optimize.files_out")), "count"),
      "optimize.rewrite_amp" -> Metric(ratio(t.noted("optimize.bytes_written").sum,
        t.noted("optimize.bytes_alive").sum), "ratio"),
      "cleanup.ms" -> Metric(Stats.median(durs("cleanup")), "ms"),
      "cleanup.files_deleted" -> Metric(Stats.mean(t.noted("cleanup.files_deleted")), "count"),
      "cleanup.logs_deleted" -> Metric(Stats.mean(t.noted("cleanup.logs_deleted")), "count"),
      "select.files_alive" -> Metric(Stats.mean(alive), "count"),
      "select.files_scanned" -> Metric(Stats.mean(scanned), "count"),
      "select.prune_ratio" -> Metric(
        if (alive.sum == 0) 0.0 else 1.0 - scanned.sum / alive.sum, "ratio"),
      "select.listing_jobs" -> Metric(allAccs.map(_.listingJobs).sum.toDouble, "count"),
      "scan.bytes_read" -> Metric(Stats.mean(t.noted("scan.bytes_read")), "B"),
      "scan.rows_read" -> Metric(Stats.mean(t.noted("scan.rows_read")), "count"),
      "scan.ms" -> Metric(Stats.mean(t.noted("scan.ms")), "ms"),
      "exec.jobs" -> Metric(perOp(opAccs.map(_.jobs).sum.toDouble), "count"),
      "exec.tasks" -> Metric(perOp(opAccs.map(_.tasks).sum.toDouble), "count"),
      "exec.task_run_ms" -> Metric(perOp(opAccs.map(_.runMs).sum.toDouble), "ms"),
      "exec.shuffle_bytes" -> Metric(perOp(opAccs.map(_.shuffleBytes).sum.toDouble), "B"),
      "exec.spill_bytes" -> Metric(allAccs.map(_.spillBytes).sum.toDouble, "B"),
      "exec.peak_exec_mem_mb" -> Metric(
        allAccs.map(_.peakMem).maxOption.getOrElse(0L) / 1048576.0, "MB"),
      "jvm.gc_ms" -> Metric(gcMs, "ms"),
      "jvm.cpu_s" -> Metric(cpuS, "s"),
      "jvm.old_gen_peak_mb" -> Metric(oldGenPeakMb, "MB")
    ) ++ LayerNames.map(l => s"self.${l}_ms" -> Metric(selfByLayer.getOrElse(l, 0.0), "ms"))
  }

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}
