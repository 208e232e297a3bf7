package perfbench

import graft.ice.{FileMarker, IceTable, IceTableConfig}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import scala.collection.mutable
import scala.util.control.NonFatal

/** What one run of a workload gets: the session, its seed-derived inputs'
  * seed, the measuring window, a scratch directory inside the checkout, and
  * the recorder its ops report to. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Double,
    val scale: Double,
    val work: Path,
    val tracer: Tracer,
    val wrongExpected: Boolean) {
  val rec = new Recorder(tracer)
  /** Seeded parameter draws, separate from the row generators. */
  val draw = new Gen.Draw(seed * 7919 + 17)

  /** A fresh, empty directory under the run's scratch directory. */
  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }

  /** Points `graft.<name>` SQL names at tables under `warehouse`. */
  def useWarehouse(warehouse: String): Unit =
    spark.conf.set("spark.graft.warehouse", warehouse)
}

/** Op latencies and the attempted/failed tally. A failed op is one that
  * threw or whose output failed its correctness check. */
final class Recorder(tracer: Tracer) {
  private val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  private val shownErrors = new AtomicLong(0)

  def fail(kind: String, why: String): Unit = {
    failed.incrementAndGet()
    if (shownErrors.incrementAndGet() <= 5) System.err.println(s"perfbench: $kind failed: $why")
  }

  /** Runs one op, timed from `fromNs` (its due time, for open-loop ops),
    * records its latency under `kind`, then applies `check` to its result
    * outside the timed interval. */
  def op[T](kind: String, fromNs: Long = -1L)(f: => T)(check: T => Option[String]): Option[T] = {
    attempted.incrementAndGet()
    val t0 = if (fromNs >= 0) fromNs else System.nanoTime()
    val r = try Right(tracer.span(s"op.$kind")(f)) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    r match {
      case Left(e) =>
        fail(kind, e.toString)
        None
      case Right(v) =>
        synchronized(samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms)
        val verdict =
          try tracer.span("check")(check(v))
          catch { case NonFatal(e) => Some(s"check threw $e") }
        verdict.foreach(fail(kind, _))
        Some(v)
    }
  }

  def ms(kind: String): Seq[Double] =
    synchronized(samples.get(kind).map(_.toSeq).getOrElse(Nil))

  def kinds: Seq[String] = synchronized(samples.keys.toSeq.sorted)
}

/** Calls into the library, wrapped in the spans the traced run records. */
object Calls {
  def insert(ctx: Ctx, t: IceTable, df: org.apache.spark.sql.DataFrame): Seq[FileMarker] = {
    val ms = ctx.tracer.span("insert")(t.insert(df))
    ctx.tracer.note("insert.files", ms.length)
    ctx.tracer.note("insert.bytes", ms.map(_.fileBytes).sum)
    ctx.tracer.note("insert.rows", ms.map(_.rowCount.getOrElse(0L)).sum)
    ctx.tracer.note("commits", 1)
    ms
  }

  def snapshot(ctx: Ctx, t: IceTable): graft.ice.IceSnapshot = {
    val s = ctx.tracer.span("logio.snapshot")(t.snapshot())
    if (ctx.tracer.enabled) ctx.tracer.note("logio.log_files", logFiles(t.root))
    s
  }

  /** optimize then tombstoneCleanup, the icedb merge-and-clean cycle. */
  def maintain(ctx: Ctx, t: IceTable, cleanupMinAgeMs: Long): Unit = {
    val before = if (ctx.tracer.enabled) Some(t.snapshot()) else None
    val merges = ctx.tracer.span("optimize")(t.optimize(10000000L, 10))
    before.foreach { b =>
      val after = t.snapshot()
      val bSet = b.aliveFiles.map(_.path).toSet
      val written = after.aliveFiles.filterNot(m => bSet(m.path))
      ctx.tracer.note("optimize.files_in", b.aliveFiles.length)
      ctx.tracer.note("optimize.files_out", after.aliveFiles.length)
      ctx.tracer.note("optimize.bytes_written", written.map(_.fileBytes).sum)
      ctx.tracer.note("optimize.bytes_alive", after.aliveFiles.map(_.fileBytes).sum)
    }
    if (merges > 0) ctx.tracer.note("commits", 1)
    val c = ctx.tracer.span("cleanup")(t.tombstoneCleanup(cleanupMinAgeMs))
    ctx.tracer.note("cleanup.files_deleted", c.deletedDataFiles.length)
    ctx.tracer.note("cleanup.logs_deleted", c.deletedLogFiles.length + c.cleanedLogFiles.length)
    ctx.tracer.note("commits", 1)
  }

  /** One SQL statement, fully materialized: planning (parse, analysis with
    * the ice catalog's log fold, optimization, physical planning) and
    * execution are separate spans. */
  def sql(ctx: Ctx, text: String): Array[Row] = {
    val df = ctx.tracer.span("sql.plan") {
      val d = ctx.spark.sql(text)
      d.queryExecution.executedPlan
      d
    }
    val rows = ctx.tracer.span("sql.exec")(df.collect())
    if (ctx.tracer.enabled) ScanStats.note(ctx.tracer, df.queryExecution.executedPlan)
    rows
  }

  def logFiles(root: String): Int = {
    val p = Paths.get(root, "_log")
    if (!Files.isDirectory(p)) 0
    else {
      val s = Files.list(p)
      try s.filter(f => Files.isRegularFile(f)).count().toInt finally s.close()
    }
  }

  /** Bytes of every regular file under `root` (data, log and checkpoints). */
  def storedBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
  }

  /** Live rows of a table from its alive markers' footer row counts. */
  def liveRows(snap: graft.ice.IceSnapshot): Long =
    snap.aliveFiles.map(_.rowCount.getOrElse(0L)).sum

  def eventsConfig: IceTableConfig = {
    import org.apache.spark.sql.functions._
    IceTableConfig(
      partitionExpr = concat(lit("u="), pmod(xxhash64(col("user_id")), lit(16L)).cast("string")),
      sortOrder = Seq("event", "ts"),
      statsColumn = Some("ts"))
  }
}

/** File selection and scan counts from a finished query's physical plan. */
object ScanStats extends AdaptiveSparkPlanHelper {
  def note(tracer: Tracer, plan: org.apache.spark.sql.execution.SparkPlan): Unit =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s }.foreach { s =>
      val m = s.metrics
      def v(k: String): Double = m.get(k).map(_.value.toDouble).getOrElse(0.0)
      tracer.note("select.files_alive", s.relation.location.inputFiles.length)
      tracer.note("select.files_scanned", v("numFiles"))
      tracer.note("scan.bytes_read", v("filesSize"))
      tracer.note("scan.rows_read", v("numOutputRows"))
      tracer.note("scan.ms", v("scanTime"))
    }
}

/** Result comparison: integers, decimals and strings exactly; doubles to a
  * relative 1e-9. */
object Compare {
  def rows(got: Array[Row], want: Array[Row]): Option[String] =
    if (got.length != want.length) Some(s"${got.length} rows, expected ${want.length}")
    else got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if !row(g, w) => s"row $i is $g, expected $w"
    }

  private def row(g: Row, w: Row): Boolean =
    g.length == w.length && (0 until g.length).forall(i => value(g.get(i), w.get(i)))

  private def value(g: Any, w: Any): Boolean = (g, w) match {
    case (null, null) => true
    case (a: Double, b: Double) =>
      a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
    case (a: java.math.BigDecimal, b: java.math.BigDecimal) => a.compareTo(b) == 0
    case (a, b) => a == b
  }
}
