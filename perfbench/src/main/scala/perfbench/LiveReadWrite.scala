package perfbench

import graft.ice.IceTable
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** One open-loop writer beside one closed-loop reader on `graft.live`,
  * which starts empty. The writer commits a small batch every
  * 1/`Rate` seconds, below what ingest_compact sustains, timed from each
  * batch's due time, and runs optimize + cleanup every `K` commits on its
  * own thread. The reader cycles through a snapshot (the alive-file list),
  * a recent-window SQL aggregate and a time-travel read, and checks each
  * against the committed prefixes. The log grows without checkpoints and
  * small files pile up between merges. */
final class LiveReadWrite extends Workload {
  private val Rate = 0.8
  private val K = 4
  /** Cleanup keeps tombstoned files this long, longer than any read. */
  private val RetainMs = 10000L

  private var root: String = _
  private var batches: IndexedSeq[(Long, (Long, Long))] = IndexedSeq.empty
  /** (rows, checksum) after each commit; entry i is the state after i
    * commits. The writer appends before it commits, so a reader racing a
    * commit finds the state it may see. */
  private val prefixes = mutable.ArrayBuffer((0L, 0L))
  private val committed = new AtomicInteger(0)
  /** The time-travel reads target instants after the latest cleanup:
    * cleanup consolidates merged logs, so history before it is gone. */
  private val travelFloorMs = new AtomicLong(0)
  private val lagMs = mutable.ArrayBuffer.empty[Double]

  private def batchRows(ctx: Ctx, b: Int): Long =
    math.max(1L, math.round((1000 + new scala.util.Random(ctx.seed * 31L + b).nextInt(3000)) *
      ctx.scale))

  def prepare(ctx: Ctx): Unit = {
    val n = (Rate * ctx.seconds).toInt + 4
    val sizes = (0 until n).map(b => batchRows(ctx, b))
    val sums = Gen.eventBatches(ctx.spark, ctx.seed, sizes.indices.map(b => b -> sizes(b)))
      .groupBy("_b").agg(count(lit(1)), Gen.EventChecksum)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    batches = sizes.indices.map(b => sizes(b) -> sums(b))
  }

  /** Creates the empty table and runs one round of every op on a scratch
    * table, so the window starts warm. */
  def setup(ctx: Ctx, rep: Int): Unit = {
    val wh = ctx.dir(s"setup$rep")
    ctx.useWarehouse(wh)
    val sample = Gen.eventBatch(ctx.spark, ctx.seed, -rep, batchRows(ctx, -rep))
    val warm = new IceTable(ctx.spark, s"$wh/warm", Calls.eventsConfig)
    Calls.insert(ctx, warm, sample)
    Calls.insert(ctx, warm, sample)
    Calls.maintain(ctx, warm, RetainMs)
    Calls.snapshot(ctx, warm)
    Calls.sql(ctx, s"SELECT count(*), sum(CAST(hash(ts, user_id, event, properties) AS BIGINT)) " +
      s"FROM graft.warm WHERE ts >= ${Gen.T0Ms}")
    root = s"$wh/live"
    val t = new IceTable(ctx.spark, root, Calls.eventsConfig)
    ctx.tracer.span("create")(t.createEmpty(t.getSchema(sample)))
    travelFloorMs.set(System.currentTimeMillis())
  }

  def run(ctx: Ctx): Unit = {
    val startNs = System.nanoTime()
    val endNs = startNs + (ctx.seconds * 1e9).toLong
    val writer = new Thread(() => write(ctx, startNs, endNs), "perfbench-writer")
    writer.start()
    read(ctx, endNs)
    writer.join()
  }

  private def write(ctx: Ctx, startNs: Long, endNs: Long): Unit = {
    val t = new IceTable(ctx.spark, root, Calls.eventsConfig)
    var b = 0
    var due = startNs
    while (due < endNs && b < batches.length) {
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      synchronized(lagMs += (System.nanoTime() - due) / 1e6)
      val (rows, (n, sum)) = batches(b)
      prefixes.synchronized {
        val (pn, ps) = prefixes.last
        prefixes += ((pn + n, ps + sum))
      }
      val df = Gen.eventBatch(ctx.spark, ctx.seed, b, rows)
      if (ctx.rec.op("insert", fromNs = due)(Calls.insert(ctx, t, df))(_ => None).isDefined)
        committed.incrementAndGet()
      b += 1
      if (b % K == 0) {
        ctx.rec.op("maintenance")(Calls.maintain(ctx, t, RetainMs))(_ => None)
        travelFloorMs.set(System.currentTimeMillis() + 1)
      }
      due = startNs + (b * 1e9 / Rate).toLong
    }
  }

  private def read(ctx: Ctx, endNs: Long): Unit = {
    val t = new IceTable(ctx.spark, root, Calls.eventsConfig)
    val rnd = new scala.util.Random(ctx.seed * 131L + 7)
    val checksum = "sum(CAST(hash(ts, user_id, event, properties) AS BIGINT))"
    def prefixList = prefixes.synchronized(prefixes.toIndexedSeq)
    def asPair(r: org.apache.spark.sql.Row) =
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    var i = 0
    while (System.nanoTime() < endNs) {
      i % 3 match {
        case 0 =>
          ctx.rec.op("snapshot")(Calls.snapshot(ctx, t)) { s =>
            val rows = Calls.liveRows(s) + (if (ctx.wrongExpected) 1L else 0L)
            if (prefixList.exists(_._1 == rows)) None
            else Some(s"snapshot holds $rows rows, no committed prefix has that many")
          }
        case 1 =>
          val from = math.max(0, committed.get - 2 - rnd.nextInt(5))
          val sql = s"SELECT count(*), $checksum FROM graft.live " +
            s"WHERE ts >= ${Gen.T0Ms + from * Gen.BatchSpanMs}"
          ctx.rec.op("query")(Calls.sql(ctx, sql)(0)) { r =>
            val got = asPair(r)
            val ps = prefixList
            if (from < ps.length &&
              ps.drop(from).exists(p => (p._1 - ps(from)._1, p._2 - ps(from)._2) == got)) None
            else Some(s"window from batch $from holds $got, not a committed range")
          }
        case _ =>
          val now = System.currentTimeMillis()
          val at = math.max(travelFloorMs.get, now - rnd.nextInt(2000))
          val sql = s"SELECT count(*), $checksum FROM graft.live TIMESTAMP AS OF $at"
          ctx.rec.op("query")(Calls.sql(ctx, sql)(0)) { r =>
            val got = asPair(r)
            if (prefixList.contains(got)) None
            else Some(s"time travel to $at holds $got, not a committed prefix")
          }
      }
      i += 1
    }
  }

  def report(ctx: Ctx): Report = {
    val ins = ctx.rec.ms("insert")
    val qs = ctx.rec.ms("query")
    val snaps = ctx.rec.ms("snapshot")
    val mnt = ctx.rec.ms("maintenance")
    val lags = synchronized(lagMs.toSeq)
    val reads = qs ++ snaps
    val readsPerS = if (reads.isEmpty) 0.0 else reads.length / (reads.sum / 1000.0)
    val bytesPerRow = Calls.storedBytes(root).toDouble /
      math.max(1L, Calls.liveRows(IceTable.open(ctx.spark, root).snapshot()))
    Report(Seq(
      "insert_p50_ms" -> Metric(Stats.median(ins), "ms", ins.length),
      "insert_p90_ms" -> Metric(Stats.quantile(ins, 0.9), "ms", ins.length),
      "writer_lag_p90_ms" -> Metric(Stats.quantile(lags, 0.9), "ms", lags.length),
      "maintenance_p50_ms" -> Metric(Stats.median(mnt), "ms", mnt.length),
      "query_p50_ms" -> Metric(Stats.median(qs), "ms", qs.length),
      "query_p90_ms" -> Metric(Stats.quantile(qs, 0.9), "ms", qs.length),
      "snapshot_p50_ms" -> Metric(Stats.median(snaps), "ms", snaps.length),
      "reads_per_s" -> Metric(readsPerS, "1/s", reads.length),
      "stored_bytes_per_row" -> Metric(bytesPerRow, "B/row")),
      opMs = Stats.median(ins), workPerS = readsPerS, storedBytesPerRow = bytesPerRow,
      inputDigest = batches.map(_._2._2).sum)
  }
}
