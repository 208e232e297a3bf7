package perfbench

import graft.ice.IceTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** One writer in a closed loop: batches of events into a 16-partition
  * table, and after every `K` commits an optimize followed by
  * tombstoneCleanup(0), icedb's insert → merge → clean cycle. Batch sizes
  * cover [1k, 200k] rows (times --scale) log-uniformly, stratified: every
  * cycle holds one batch from each of `K` equal log-width strata in a
  * seeded order, so small batches expose per-commit cost, large ones write
  * throughput, and every cycle and seed carries the same mix. */
final class IngestCompact extends Workload {
  private val K = 6
  private val MinRows = 1000.0
  private val MaxRows = 200000.0
  private val SetupBatch = 20000L
  private val CycleS = 6.0

  private var table: IceTable = _
  private var expRows = 0L
  private var expSum = 0L
  private var nextBatch = 0
  private var rowsCommitted = 0L

  private def scale(ctx: Ctx, n: Double): Long = math.max(1L, math.round(n * ctx.scale))

  /** Which of the `K` size strata batch `b` falls in; the seed orders each
    * cycle. */
  private def stratum(ctx: Ctx, b: Int): Int = {
    val order = new scala.util.Random(ctx.seed * 1000003L + Math.floorDiv(b, K))
      .shuffle((0 until K).toList)
    order(Math.floorMod(b, K))
  }

  /** The log-midpoint of batch `b`'s stratum. */
  private def batchSize(ctx: Ctx, b: Int): Long =
    scale(ctx, MinRows * math.pow(MaxRows / MinRows, (stratum(ctx, b) + 0.5) / K))

  /** (rows, checksum) of each batch, in one untimed job. */
  private def expected(ctx: Ctx, batches: Seq[(Int, Long)]): Map[Int, (Long, Long)] =
    Gen.eventBatches(ctx.spark, ctx.seed, batches)
      .groupBy("_b").agg(count(lit(1)), Gen.EventChecksum)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** One untimed cycle on a scratch table, batch ids below the set-up's:
    * the first cycle of a cold JVM runs its inserts about 1.3x slower. */
  def prepare(ctx: Ctx): Unit = {
    val wh = ctx.dir("warm")
    val t = new IceTable(ctx.spark, s"$wh/events", Calls.eventsConfig)
    (-2 * K until -K).foreach(b => t.insert(Gen.eventBatch(ctx.spark, ctx.seed, b, batchSize(ctx, b))))
    t.optimize(10000000L, 10)
    t.tombstoneCleanup(0L)
  }

  def setup(ctx: Ctx, rep: Int): Unit = {
    val wh = ctx.dir(s"setup$rep")
    ctx.useWarehouse(wh)
    table = new IceTable(ctx.spark, s"$wh/events", Calls.eventsConfig)
    // set-up batch ids run from -1 down, one per set-up, apart from the
    // window's and the warm-up's
    val b = -rep
    val n = scale(ctx, SetupBatch.toDouble)
    Calls.insert(ctx, table, Gen.eventBatch(ctx.spark, ctx.seed, b, n))
    Calls.maintain(ctx, table, 0L)
    val (r, s) = expected(ctx, Seq(b -> n))(b)
    expRows = r
    expSum = s
  }

  /** A whole number of cycles, --seconds / `CycleS` rounded: a cycle takes
    * 5 to 7 s on 4 cores, so a deadline would cut some runs after three
    * cycles and others after four, and the warmer fourth cycle would split
    * the runs into two groups. */
  def run(ctx: Ctx): Unit = {
    (1 to math.max(1, math.round(ctx.seconds / CycleS).toInt)).foreach { _ =>
      val batches = (nextBatch until nextBatch + K).map(b => b -> batchSize(ctx, b))
      nextBatch += K
      val exp = expected(ctx, batches)
      batches.foreach { case (b, n) =>
        val df: DataFrame = Gen.eventBatch(ctx.spark, ctx.seed, b, n)
        ctx.rec.op(s"insert.s${stratum(ctx, b)}")(Calls.insert(ctx, table, df))(_ => None).foreach { _ =>
          expRows += exp(b)._1
          expSum += exp(b)._2
          rowsCommitted += n
        }
      }
      ctx.rec.op("maintenance")(Calls.maintain(ctx, table, 0L))(_ => verify(ctx))
    }
  }

  /** Row count and checksum equal what was committed, and every alive
    * marker's file exists. */
  private def verify(ctx: Ctx): Option[String] = {
    val r = Calls.sql(ctx, "SELECT count(*), " +
      "sum(CAST(hash(ts, user_id, event, properties) AS BIGINT)) FROM graft.events")(0)
    val want = (expRows, expSum + (if (ctx.wrongExpected) 1L else 0L))
    val got = (r.getLong(0), r.getLong(1))
    val missing = Calls.snapshot(ctx, table).aliveFiles
      .filterNot(m => Files.exists(Paths.get(table.root, m.path)))
    if (got != want) Some(s"table holds (rows, checksum) $got, committed $want")
    else if (missing.nonEmpty) Some(s"${missing.length} alive markers have no file, e.g. ${missing.head.path}")
    else None
  }

  def report(ctx: Ctx): Report = {
    val byStratum = (0 until K).map(k => ctx.rec.ms(s"insert.s$k"))
    val ins = byStratum.flatten
    // the typical insert across batch sizes: one median per size stratum,
    // so the figure does not sit on the gap between two strata's latencies
    val typical = math.exp(byStratum.filter(_.nonEmpty).map(x => math.log(Stats.median(x))).sum /
      math.max(1, byStratum.count(_.nonEmpty)))
    val mnt = ctx.rec.ms("maintenance")
    val busyS = (ins.sum + mnt.sum) / 1000.0
    val rowsPerS = if (busyS == 0) 0.0 else rowsCommitted / busyS
    val bytesPerRow = Calls.storedBytes(table.root).toDouble /
      math.max(1L, Calls.liveRows(table.snapshot()))
    Report(Seq(
      "insert_p50_ms" -> Metric(Stats.median(ins), "ms", ins.length),
      "insert_p90_ms" -> Metric(Stats.quantile(ins, 0.9), "ms", ins.length),
      "ingest_rows_per_s" -> Metric(rowsPerS, "1/s", ins.length),
      "maintenance_p50_ms" -> Metric(Stats.median(mnt), "ms", mnt.length),
      "stored_bytes_per_row" -> Metric(bytesPerRow, "B/row")),
      opMs = typical, workPerS = rowsPerS, storedBytesPerRow = bytesPerRow,
      inputDigest = expSum)
  }
}
