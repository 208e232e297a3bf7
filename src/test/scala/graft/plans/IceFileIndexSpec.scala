package graft.plans

import graft.SparkSpec
import graft.ice.{IceTable, IceTableConfig}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Catalog-grade reads: partition keys become queryable columns and WHERE
  * clauses on them prune files inside the optimizer. */
class IceFileIndexSpec extends SparkSpec {
  import spark.implicits._

  private def eventsTable(): IceTable = {
    val df = Seq(
      (1L, "a", "2024-01-01"), (2L, "b", "2024-01-01"),
      (3L, "a", "2024-01-02"), (4L, "b", "2024-01-03"),
      (5L, "a", "2024-01-03")
    ).toDF("id", "user", "day")
    val table = new IceTable(spark, tmpDir("fidx"), IceTableConfig(
      partitionExpr = concat(lit("u="), col("user"), lit("/d="), col("day")),
      sortOrder = Seq("id")))
    table.insert(df)
    table
  }

  test("partition keys surface as queryable string columns") {
    val table = eventsTable()
    val df = IceFileIndex.dataFrame(spark, table)
    assert(df.columns.toSet == Set("id", "user", "day", "u", "d"))
    val r = df.groupBy("d").count().orderBy("d").collect()
      .map(x => (x.getString(0), x.getLong(1)))
    assert(r.toSeq == Seq(("2024-01-01", 2L), ("2024-01-02", 1L), ("2024-01-03", 2L)))
  }

  test("WHERE on a partition key prunes files in the optimizer") {
    val table = eventsTable()
    IceFileIndex.registerView(spark, table, "ice_events")
    val q = spark.sql("select count(*) as cnt from ice_events where d = '2024-01-03'")
    assert(q.as[Long].head() == 2L)

    val plan = q.queryExecution.executedPlan
    val scans = plan.collect {
      case a: AdaptiveSparkPlanExec => a.executedPlan.collect { case s: FileSourceScanExec => s }
      case s: FileSourceScanExec => Seq(s)
    }.flatten
    assert(scans.nonEmpty)
    val scan = scans.head
    // optimizer-side pruning: only the 2 files of d=2024-01-03 are read
    assert(scan.metadata("PartitionFilters").contains("d"))
    assert(scan.inputRDDs().map(_.partitions.length).sum > 0)
    val selected = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
      .flatMap(_.files)
    assert(selected.length == 2)
    assert(selected.forall(_.getPath.toString.contains("d=2024-01-03")))
  }

  test("WHERE on the stats column skips files via log-side min/max") {
    val df = (0 until 100).map(i => (i.toLong, s"g${i / 25}")).toDF("v", "grp")
    val table = new IceTable(spark, tmpDir("fidx_stats"), IceTableConfig(
      partitionExpr = concat(lit("g="), col("grp")),
      sortOrder = Seq("v"),
      statsColumn = Some("v")))
    table.insert(df) // 4 files with disjoint v ranges [0,24]..[75,99]
    IceFileIndex.registerView(spark, table, "ice_stats")
    val q = spark.sql("select count(*) as cnt from ice_stats where v between 30 and 60")
    assert(q.as[Long].head() == 31L)
    val scans = q.queryExecution.executedPlan.collect {
      case a: AdaptiveSparkPlanExec => a.executedPlan.collect { case s: FileSourceScanExec => s }
      case s: FileSourceScanExec => Seq(s)
    }.flatten
    val selected = scans.head.relation.location
      .listFiles(scans.head.partitionFilters, scans.head.dataFilters)
      .flatMap(_.files)
    // v∈[30,60] intersects only [25,49] and [50,74] — 2 of 4 files listed,
    // from the log's marker stats, with zero plan-time file reads
    assert(selected.length == 2, s"expected 2 files, got ${selected.length}")
    // the explicit read plans through the same index: same files kept
    def planned(df: org.apache.spark.sql.DataFrame): Int =
      PlanScans.fileScans(df).map(s =>
        s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
          .flatMap(_.files).length).sum
    val explicit = table.read().where(col("v").between(30, 60))
    assert(explicit.count() == 31L)
    assert(planned(explicit) == planned(q))
  }

  private def scanOf(q: org.apache.spark.sql.DataFrame) = {
    val scans = q.queryExecution.executedPlan.collect {
      case a: AdaptiveSparkPlanExec => a.executedPlan.collect { case s: FileSourceScanExec => s }
      case s: FileSourceScanExec => Seq(s)
    }.flatten
    assert(scans.nonEmpty)
    scans.head
  }

  test("implicit cast on a string stats column derives no window (no mis-prune)") {
    // WHERE k > 5 on a STRING column coerces to Cast(k AS DOUBLE) > 5.0:
    // the literal lives in a numeric ordering domain while the recorded
    // stats are strings — a window derived from it would prune wrongly
    // (lexicographically "100" < "5.0"). The filter must be ignored.
    val df = Seq(("100", "a"), ("200", "a"), ("300", "b"), ("400", "b"))
      .toDF("k", "grp")
    val table = new IceTable(spark, tmpDir("fidx_strstats"), IceTableConfig(
      partitionExpr = concat(lit("g="), col("grp"), lit("/k="), col("k")),
      sortOrder = Seq("k"),
      statsColumn = Some("k")))
    table.insert(df) // 4 files, string stats "100".."400"
    IceFileIndex.registerView(spark, table, "ice_str_stats")
    val q = spark.sql("select count(*) as cnt from ice_str_stats where k > 5")
    assert(q.as[Long].head() == 4L, "every value is numerically > 5")
    val scan = scanOf(q)
    val selected = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters).flatMap(_.files)
    assert(selected.length == 4,
      s"cast comparison must not produce a stats window; got ${selected.length} files")
  }

  test("numeric widening cast on a numeric stats column still prunes") {
    val df = (0 until 100).map(i => (i.toLong, s"g${i / 25}")).toDF("v", "grp")
    val table = new IceTable(spark, tmpDir("fidx_numcast"), IceTableConfig(
      partitionExpr = concat(lit("g="), col("grp")),
      sortOrder = Seq("v"),
      statsColumn = Some("v")))
    table.insert(df) // 4 files: [0,24] [25,49] [50,74] [75,99]
    IceFileIndex.registerView(spark, table, "ice_numcast")
    // double literal → Cast(v AS DOUBLE) >= 60.5: order-preserving numeric
    // widening, safe to window on — only [50,74] and [75,99] may intersect
    val q = spark.sql("select count(*) as cnt from ice_numcast where v >= 60.5")
    assert(q.as[Long].head() == 39L)
    val scan = scanOf(q)
    val selected = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters).flatMap(_.files)
    assert(selected.length == 2, s"expected 2 files, got ${selected.length}")
  }

  test("IN-list filters derive a [min,max] stats cover and skip files") {
    val df = (0 until 100).map(i => (i.toLong, s"g${i / 25}")).toDF("v", "grp")
    val table = new IceTable(spark, tmpDir("fidx_inlist"), IceTableConfig(
      partitionExpr = concat(lit("g="), col("grp")),
      sortOrder = Seq("v"),
      statsColumn = Some("v")))
    table.insert(df) // 4 files: [0,24] [25,49] [50,74] [75,99]
    IceFileIndex.registerView(spark, table, "ice_inlist")
    def planned(q: org.apache.spark.sql.DataFrame): Int = {
      val scan = scanOf(q)
      scan.relation.location
        .listFiles(scan.partitionFilters, scan.dataFilters)
        .flatMap(_.files).length
    }
    // a small IN (stays a catalyst In node): the cover [30, 41] touches
    // one file's window — the dim-change probe shape on a key-clustered
    // base
    val q = spark.sql(
      "select count(*) as cnt from ice_inlist where v in (30, 41, 33)")
    assert(q.as[Long].head() == 3L)
    assert(planned(q) == 1, s"expected 1 file, got ${planned(q)}")
    // a wide IN (past the InSet conversion threshold): same cover rule
    val many = (26 to 49).mkString(", ")
    val q2 = spark.sql(
      s"select count(*) as cnt from ice_inlist where v in ($many)")
    assert(q2.as[Long].head() == 24L)
    assert(planned(q2) == 1, s"expected 1 file, got ${planned(q2)}")
    // values spanning file windows: the INTERVAL cover [10, 60] is
    // coarse by design — it keeps the middle window too (3 files, not
    // 2); per-value precision is the tradeoff for a single sound
    // [lo, hi] per column, and it never false-skips
    val q3 = spark.sql(
      "select count(*) as cnt from ice_inlist where v in (10, 60)")
    assert(q3.as[Long].head() == 2L)
    assert(planned(q3) == 3, s"expected the 3-file cover, got ${planned(q3)}")
    // a null in the list matches nothing extra: the non-null cover holds
    val q4 = spark.sql(
      "select count(*) as cnt from ice_inlist where v in (7, null)")
    assert(q4.as[Long].head() == 1L)
    assert(planned(q4) == 1, s"expected 1 file, got ${planned(q4)}")
  }

  test("unparseable double stats (Infinity) keep the file, never fail the plan") {
    val df = Seq((1.0, "a"), (Double.PositiveInfinity, "a"), (5.0, "b"), (7.0, "b"))
      .toDF("v", "grp")
    val table = new IceTable(spark, tmpDir("fidx_inf"), IceTableConfig(
      partitionExpr = concat(lit("g="), col("grp")),
      sortOrder = Seq("grp"),
      statsColumn = Some("v")))
    table.insert(df) // g=a stats = ("1.0", "Infinity") — not BigDecimal-parseable
    IceFileIndex.registerView(spark, table, "ice_inf")
    val q = spark.sql("select count(*) as cnt from ice_inf where v between 0 and 10")
    // old comparator threw NumberFormatException inside listFiles here
    assert(q.as[Long].head() == 3L)
    val scan = scanOf(q)
    val selected = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters).flatMap(_.files)
    assert(selected.length == 2, "unparseable stats are conservatively kept")
  }

  test("snapshot pinning: the view is isolated from later inserts") {
    val table = eventsTable()
    val df = IceFileIndex.dataFrame(spark, table)
    assert(df.count() == 5)
    table.insert(Seq((6L, "c", "2024-01-04")).toDF("id", "user", "day"))
    assert(df.count() == 5) // pinned snapshot
    assert(IceFileIndex.dataFrame(spark, table).count() == 6)
  }

  test("partition values containing the key prefix parse correctly") {
    val snapKeys = {
      val table = eventsTable()
      IceFileIndex.partitionKeys(table, table.snapshot())
    }
    assert(snapKeys == Seq("u", "d"))
  }
}
