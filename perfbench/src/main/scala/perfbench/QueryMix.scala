package perfbench

import graft.ice.{IceTable, IceTableConfig}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** One client in a closed loop over ten SQL shapes against `graft.`
  * tables built and compacted during set-up. The log is short and static,
  * so planning, file selection, the parquet scan and the operators do the
  * work. Each cycle runs every query instance once, in a seeded order. */
final class QueryMix extends Workload {
  /** `{li} {o} {c} {ev}` name the tables; `{tt1}`.. the time-travel points.
    * `raw` is the same query over the generated parquet, which gives the
    * expected result. */
  private final case class Instance(shape: String, ice: String, raw: String) {
    var expected: Array[Row] = Array.empty
  }

  /** TPC-H-like scale factor of the star schema at --scale 1. */
  private val Sf = 0.03
  private val Versions = 3
  private var instances: Seq[Instance] = Nil
  /** The generated tables: the set-ups insert them, and the expected
    * results are computed over them. */
  private var raw: Map[String, org.apache.spark.sql.DataFrame] = Map.empty
  private var warehouse: String = _
  private var travelTs: Seq[Long] = Nil

  private def iceNames(sql: String): String = sql
    .replace("{li}", "graft.lineitem").replace("{o}", "graft.orders")
    .replace("{c}", "graft.customer").replace("{ev}", "graft.events")

  private def rawNames(sql: String): String = sql
    .replace("{li}", "raw_lineitem").replace("{o}", "raw_orders")
    .replace("{c}", "raw_customer").replace("{ev}", "raw_events")

  private def instancesFor(ctx: Ctx): Seq[Instance] = {
    val d = ctx.draw
    def month(i: Int): String = f"${1992 + i / 12}%04d-${1 + i % 12}%02d"
    def same(shape: String, sql: String) = Instance(shape, iceNames(sql), rawNames(sql))
    // the seed moves each range; widths stay fixed, so a query's cost does
    // not swing with the seed
    val q = 20 + d.int(11)
    val disc = 1 + d.int(4)
    val cutYear = 1996 + d.int(2)
    val flag = Seq("A", "N", "R")(d.int(3))
    val status = Seq("F", "O")(d.int(2))
    val m0 = d.int(76)
    val evFrom = Gen.T0Ms + d.int(29) * 86400000L + d.int(24) * 3600000L
    val oYear = 1992 + d.int(6)
    val j = 1 + d.int(Versions - 1)
    Seq(
      same("count", "SELECT count(*) AS c FROM {li}"),
      same("b5_filter", s"SELECT count(*) AS cnt, CAST(sum(l_quantity) AS BIGINT) AS sum_qty " +
        s"FROM {li} WHERE l_quantity < $q AND l_discount BETWEEN 0.0$disc AND 0.0${disc + 4}"),
      same("b6_group_agg", "SELECT l_returnflag, l_linestatus, count(*) AS cnt, " +
        "CAST(sum(l_quantity) AS BIGINT) AS sum_qty, " +
        "sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS sum_price, max(l_quantity) AS max_qty " +
        s"FROM {li} WHERE l_shipdate < TIMESTAMP '$cutYear-01-01 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
      same("b7_count_distinct", "SELECT count(DISTINCT l_orderkey) AS uniq_orders, " +
        "count(DISTINCT l_partkey) AS uniq_parts FROM {li}"),
      same("b10_percentile", "SELECT percentile(l_quantity, 0.5) AS p50, " +
        s"percentile(l_quantity, 0.9) AS p90 FROM {li} WHERE l_returnflag = '$flag'"),
      same("b11_topk", "SELECT l_orderkey, sum(CAST(l_extendedprice AS DECIMAL(15,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev " +
        s"FROM {li} WHERE l_linestatus = '$status' " +
        "GROUP BY l_orderkey ORDER BY rev DESC, l_orderkey LIMIT 10"),
      same("partition_count", "SELECT count(*) AS c FROM {li} " +
        s"WHERE m BETWEEN '${month(m0)}' AND '${month(m0 + 6)}'"),
      same("stats_range", "SELECT count(*) AS c, sum(value) AS v FROM {ev} " +
        s"WHERE ts >= $evFrom AND ts < ${evFrom + 86400000L}"),
      same("star_join", "SELECT c_mktsegment, count(*) AS cnt, " +
        "sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS revenue " +
        "FROM {li} JOIN {o} ON l_orderkey = o_orderkey JOIN {c} ON o_custkey = c_custkey " +
        s"WHERE o_orderdate >= TIMESTAMP '$oYear-01-01 00:00:00' " +
        s"AND o_orderdate < TIMESTAMP '${oYear + 1}-01-01 00:00:00' " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
      Instance("time_travel",
        s"SELECT count(*) AS c, sum(value) AS v FROM graft.events TIMESTAMP AS OF {tt$j}",
        s"SELECT count(*) AS c, sum(value) AS v FROM raw_events WHERE pmod(event_id, $Versions) < $j"))
  }

  def prepare(ctx: Ctx): Unit = {
    val s = ctx.spark
    val sf = Sf * ctx.scale
    val dir = ctx.dir("raw")
    raw = Map(
      "lineitem" -> Gen.lineitem(s, ctx.seed, sf), "orders" -> Gen.orders(s, ctx.seed, sf),
      "customer" -> Gen.customer(s, ctx.seed, sf), "events" -> Gen.events(s, ctx.seed, sf))
      .map { case (name, df) =>
        df.write.parquet(s"$dir/$name")
        name -> s.read.parquet(s"$dir/$name")
      }
    raw("lineitem").withColumn("m", date_format(col("l_shipdate"), "yyyy-MM"))
      .createOrReplaceTempView("raw_lineitem")
    Seq("orders", "customer", "events").foreach(t => raw(t).createOrReplaceTempView(s"raw_$t"))
    instances = instancesFor(ctx)
    val byRaw = onTwoThreads(instances.map(_.raw).distinct)(q => q -> s.sql(q).collect()).toMap
    instances.foreach(i => i.expected = byRaw(i.raw))
    if (ctx.wrongExpected) {
      val first = instances.head
      first.expected = Array(Row(first.expected(0).getLong(0) + 1))
    }
  }

  def setup(ctx: Ctx, rep: Int): Unit = {
    val s = ctx.spark
    warehouse = ctx.dir(s"setup$rep")
    def table(name: String, cfg: IceTableConfig) = new IceTable(s, s"$warehouse/$name", cfg)
    val li = table("lineitem", IceTableConfig(
      partitionExpr = concat(lit("m="), date_format(col("l_shipdate"), "yyyy-MM")),
      sortOrder = Seq("l_shipdate", "l_orderkey")))
    val ord = table("orders", IceTableConfig(
      partitionExpr = concat(lit("y="), date_format(col("o_orderdate"), "yyyy")),
      sortOrder = Seq("o_orderkey")))
    val cust = table("customer", IceTableConfig(
      partitionExpr = lit("p=0"), sortOrder = Seq("c_custkey")))
    // weekly partitions: a ts range prunes within them on the stats column
    val ev = table("events", IceTableConfig(
      partitionExpr = concat(lit("w="),
        date_format(date_trunc("week", timestamp_millis(col("ts"))), "yyyy-MM-dd")),
      sortOrder = Seq("ts"), statsColumn = Some("ts")))
    Calls.insert(ctx, li, raw("lineitem"))
    Calls.insert(ctx, ord, raw("orders"))
    Calls.insert(ctx, cust, raw("customer"))
    Seq(li, ord, cust).foreach(t => Calls.maintain(ctx, t, 0L))
    // events keeps its history: `Versions` commits, time travel between them
    travelTs = (0 until Versions).map { v =>
      Calls.insert(ctx, ev, raw("events").where(pmod(col("event_id"), lit(Versions)) === v))
      Thread.sleep(2)
      val between = System.currentTimeMillis()
      Thread.sleep(2)
      between
    }
    ctx.tracer.span("optimize")(ev.optimize(1000000000L, 100))
    Seq(li, ord, cust, ev).foreach(t => Calls.snapshot(ctx, t))
  }

  /** Untimed benchmark work (expected results, warm-up) on two client
    * threads: each shape's first run is dominated by single-threaded
    * planning and code generation. */
  private def onTwoThreads[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try xs.map(x => pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
      .map(_.get())
    finally pool.shutdown()
  }

  private def sqlOf(i: Instance): String =
    travelTs.zipWithIndex.foldLeft(i.ice) { case (q, (ts, v)) => q.replace(s"{tt${v + 1}}", ts.toString) }

  def run(ctx: Ctx): Unit = {
    ctx.useWarehouse(warehouse)
    // untimed passes: each shape's first runs against the ice tables
    // compile its plan and JIT the planner, which the expected-result
    // queries did not fully share
    onTwoThreads(instances ++ instances)(i => ctx.spark.sql(sqlOf(i)).collect())
    // whole cycles only, so every shape weighs the same in every run
    val end = System.nanoTime() + (ctx.seconds * 1e9).toLong
    while (System.nanoTime() < end) {
      ctx.draw.shuffle(instances).foreach { i =>
        ctx.rec.op(s"query.${i.shape}")(Calls.sql(ctx, sqlOf(i)))(got =>
          Compare.rows(got, i.expected))
      }
    }
  }

  /** The shapes' costs differ by 20x, so a median over all samples falls
    * in the gap between cheap and costly shapes and jumps between runs;
    * the typical latency is the geometric mean of all samples instead. */
  def report(ctx: Ctx): Report = {
    val shapes = instances.map(_.shape).distinct
    val qs = shapes.flatMap(s => ctx.rec.ms(s"query.$s"))
    val geomeanMs =
      if (qs.isEmpty) 0.0 else math.exp(qs.map(m => math.log(math.max(m, 1e-3))).sum / qs.length)
    val qps = if (qs.isEmpty) 0.0 else qs.length / (qs.sum / 1000.0)
    val roots = Seq("lineitem", "orders", "customer", "events").map(n => s"$warehouse/$n")
    val rows = roots.map(r => Calls.liveRows(IceTable.open(ctx.spark, r).snapshot())).sum
    val bytesPerRow = roots.map(Calls.storedBytes).sum.toDouble / math.max(1L, rows)
    Report(Seq(
      "query_p50_ms" -> Metric(Stats.median(qs), "ms", qs.length),
      "query_p90_ms" -> Metric(Stats.quantile(qs, 0.9), "ms", qs.length),
      "query_geomean_ms" -> Metric(geomeanMs, "ms", qs.length),
      "queries_per_s" -> Metric(qps, "1/s", qs.length),
      "stored_bytes_per_row" -> Metric(bytesPerRow, "B/row")) ++
      shapes.map { s =>
        val ms = ctx.rec.ms(s"query.$s")
        s"query_p50_ms.$s" -> Metric(Stats.median(ms), "ms", ms.length)
      },
      opMs = geomeanMs, workPerS = qps, storedBytesPerRow = bytesPerRow,
      inputDigest = instances.map(_.expected.toSeq).hashCode.toLong)
  }
}
