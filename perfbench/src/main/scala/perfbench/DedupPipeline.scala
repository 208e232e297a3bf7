package perfbench

import graft.ice.{IceTable, IceTableConfig}
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** One client in a closed loop over a batch job: read the `documents` ice
  * table, drop exact duplicates, find near duplicates with MinHash banding
  * and keep one document per duplicate group (`graft.operators.Dedup`),
  * then write the kept documents to a fresh ice table. The corpus is
  * replicated with seeded salt tokens so one pass takes seconds. */
final class DedupPipeline extends Workload {
  private val Replicas = 4
  private val Threshold = 0.7

  private var raw: String = _
  private var nBase = 0L
  private var expectKept = 0L
  private var expectPlanted = 0L
  private var docsPerJob = 0L
  private var textDigest = 0L
  private var lastOut: String = _
  private var docsRoot: String = _

  private val outCfg = IceTableConfig(partitionExpr = lit("p=0"), sortOrder = Seq("doc_id"))

  def prepare(ctx: Ctx): Unit = {
    nBase = math.max(200L, math.round(300 * ctx.scale))
    raw = ctx.dir("raw")
    Gen.documents(ctx.spark, ctx.seed, nBase, Replicas).write.parquet(s"$raw/documents")
    val docs = ctx.spark.read.parquet(s"$raw/documents")
    docsPerJob = docs.count()
    textDigest = docs.agg(sum(hash(col("text")).cast("long"))).head().getLong(0)
    // every base document survives; each near copy pairs with its source
    expectKept = nBase * Replicas
    expectPlanted = docs.where(col("doc_id") % Gen.ReplicaStride >= Gen.NearCopy).count()
    // one untimed pass over a small table compiles the job's code paths
    ctx.useWarehouse(ctx.dir("warm"))
    load(ctx, s"${ctx.work}/warm/documents", docs.where(col("doc_id") < 200))
    job(ctx, s"${ctx.work}/warm/out")
  }

  private def load(ctx: Ctx, root: String, docs: org.apache.spark.sql.DataFrame): Unit = {
    val t = new IceTable(ctx.spark, root, IceTableConfig(
      partitionExpr = concat(lit("lang="), col("lang")), sortOrder = Seq("doc_id")))
    Seq(0, 1).foreach(p => Calls.insert(ctx, t, docs.where(pmod(col("doc_id"), lit(2)) === p)))
    Calls.maintain(ctx, t, 0L)
    Calls.snapshot(ctx, t)
  }

  /** The dedup job over `graft.documents`, writing the kept documents to a
    * fresh table at `outRoot`. Returns that table and the verified pairs. */
  private def job(ctx: Ctx, outRoot: String): (IceTable, org.apache.spark.sql.DataFrame) = {
    val docs = ctx.tracer.span("sql.plan") {
      val d = ctx.spark.sql("SELECT doc_id, text FROM graft.documents")
      d.queryExecution.executedPlan
      d
    }
    val exact = Dedup.exactDedup(docs, Seq("text"), "doc_id")
    val pairs = ctx.tracer.span("dedup.pairs")(
      Dedup.minHashDupPairs(exact, "doc_id", "text", threshold = Threshold))
    val kept = ctx.tracer.span("dedup.keep")(Dedup.keepCanonical(exact, "doc_id", pairs))
    val out = new IceTable(ctx.spark, outRoot, outCfg)
    Calls.insert(ctx, out, kept)
    (out, pairs)
  }

  def setup(ctx: Ctx, rep: Int): Unit = {
    val wh = ctx.dir(s"setup$rep")
    ctx.useWarehouse(wh)
    docsRoot = s"$wh/documents"
    load(ctx, docsRoot, ctx.spark.read.parquet(s"$raw/documents"))
  }

  def run(ctx: Ctx): Unit = {
    val end = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var n = 0
    while (System.nanoTime() < end) {
      n += 1
      val outRoot = s"${docsRoot}_kept$n"
      ctx.rec.op("job")(job(ctx, outRoot)) { case (out, pairs) =>
        val planted = pairs.where(col("idB") - col("idA") === Gen.NearCopy).count()
        val r = Calls.sql(ctx, s"SELECT count(*), count(DISTINCT doc_id) FROM graft.documents_kept$n")(0)
        val kept = (r.getLong(0), r.getLong(1))
        val want = expectKept + (if (ctx.wrongExpected) 1L else 0L)
        if (planted != expectPlanted) Some(s"found $planted planted near duplicates of $expectPlanted")
        else if (kept != (want, want)) Some(s"kept (rows, distinct ids) $kept, expected $want")
        else if (Calls.liveRows(Calls.snapshot(ctx, out)) != want) Some("log row counts disagree")
        else None
      }
      // keep only the latest output on disk
      Option(lastOut).foreach(p => deleteTree(java.nio.file.Paths.get(p)))
      lastOut = outRoot
    }
  }

  private def deleteTree(p: java.nio.file.Path): Unit = {
    val s = java.nio.file.Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
    finally s.close()
  }

  def report(ctx: Ctx): Report = {
    val jobs = ctx.rec.ms("job")
    val docsPerS = if (jobs.isEmpty) 0.0 else docsPerJob * jobs.length / (jobs.sum / 1000.0)
    val roots = Seq(docsRoot) ++ Option(lastOut)
    val rows = roots.map(r => Calls.liveRows(IceTable.open(ctx.spark, r).snapshot())).sum
    val bytesPerRow = roots.map(Calls.storedBytes).sum.toDouble / math.max(1L, rows)
    Report(Seq(
      "job_p50_s" -> Metric(Stats.median(jobs) / 1000.0, "s", jobs.length),
      "docs_per_s" -> Metric(docsPerS, "1/s", jobs.length),
      "stored_bytes_per_row" -> Metric(bytesPerRow, "B/row")),
      opMs = Stats.median(jobs), workPerS = docsPerS, storedBytesPerRow = bytesPerRow,
      inputDigest = textDigest)
  }
}
