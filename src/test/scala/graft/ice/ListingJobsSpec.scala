package graft.ice

import graft.SparkSpec
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Every read of an explicit file list plans from the log markers: no
  * DataFrameReader listing job, even above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths, where
  * such a job would run one task per file. */
class ListingJobsSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs started by `body` whose description (or a stage name) marks
    * them as InMemoryFileIndex's parallel leaf-file listing. */
  private def listingJobs(body: => Any): Int = {
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        if (desc.startsWith("Listing leaf files") ||
            js.stageInfos.exists(_.name.startsWith("Listing leaf files")))
          n.incrementAndGet()
        ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.graft.TestListenerBus.waitUntilEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  private def maxTs(t: IceTable): Long =
    t.logio.currentLogFiles(t.root).map(f => IceLogIO.logFileInfo(f)._1).max

  private def byType(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.groupBy(ChangeFeed.ChangeTypeCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("change feed, dv delete/materialize and readAdded run no listing job") {
    val files = 40
    val threshold = spark.conf
      .get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    assert(files > threshold)
    val t = new IceTable(spark, tmpDir("listing_jobs"), IceTableConfig(
      partitionExpr = concat(lit("p="), pmod(col("id"), lit(files.toLong))),
      sortOrder = Seq("id")))
    val wh = new java.io.File(t.root).getParent
    val name = new java.io.File(t.root).getName
    t.insert((0L until 10L * files).map(i => (i, s"v$i")).toDF("id", "v"))
    assert(t.snapshot().aliveFiles.length == files)
    val insEnd = maxTs(t)

    // insert window: one scan over the window's insert files
    assert(listingJobs(
      assert(byType(ChangeFeed.between(t, 0L, insEnd)) == Map("insert" -> 400L))) == 0)
    assert(listingJobs(assert(t.readAdded(0L).count() == 400L)) == 0)

    Thread.sleep(2)
    val preTs = System.currentTimeMillis()
    Thread.sleep(2)
    // four deletes, each marking one row in every file: > 32 mark files
    assert(listingJobs((0 until 4).foreach { k =>
      assert(DeleteVectors.deleteWhere(t,
        col("id").between(k * files, k * files + files - 1)) == files)
    }) == 0)
    val dv = DeleteVectors.dvTable(t)
    assert(dv.snapshot().aliveFiles.length > threshold)
    assert(t.readAdded(0L).count() == 400L, "readAdded stays dv-blind")
    val markEnd = math.max(maxTs(t), maxTs(dv))

    // mark window: one scan over the mark files, one over the marked files
    assert(listingJobs(
      assert(byType(ChangeFeed.between(t, insEnd, markEnd)) == Map("delete" -> 160L))) == 0)

    // resurrect window: RESTORE retires every mark file
    spark.conf.set(graft.plans.IceSqlResolution.WarehouseKey, wh)
    try spark.sql(s"RESTORE TABLE graft.`$name` TO TIMESTAMP AS OF $preTs").collect()
    finally spark.conf.unset(graft.plans.IceSqlResolution.WarehouseKey)
    assert(listingJobs(
      assert(byType(ChangeFeed.between(t, markEnd)) == Map("insert" -> 160L))) == 0)

    assert(DeleteVectors.deleteWhere(t, col("id") < files) == files)
    assert(listingJobs(assert(DeleteVectors.materialize(t) == files)) == 0)
    assert(t.read().count() == 400L - files)
  }
}
