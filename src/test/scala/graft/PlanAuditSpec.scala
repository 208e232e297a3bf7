package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col

/** Physical-plan audits: the properties that make these queries survive a
  * 100× scale-up are asserted, not assumed — filter pushdown reaching the
  * parquet scan, column pruning, broadcast dimension joins, TakeOrdered
  * top-k, codegen'd aggregation for the minhash fan-out.
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def planOf(df: DataFrame): String = {
    df.collect() // force AQE finalization
    df.queryExecution.executedPlan.toString
  }
  private def scansOf(df: DataFrame): Seq[FileSourceScanExec] = {
    df.collect()
    graft.plans.PlanScans.fileScans(df)
  }

  test("b5: predicates push down to the parquet scan; columns pruned") {
    Fixtures.ensureConf(spark)
    val df = SparkEntry.queries("b5_filter")(spark, sfDir)
    val scan = scansOf(df).head
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("LessThan(l_quantity"), pushed)
    assert(pushed.contains("l_discount"), pushed)
    // projection pruned to the two referenced columns
    val read = scan.metadata("ReadSchema")
    assert(read.contains("l_quantity") && read.contains("l_discount"), read)
    assert(!read.contains("l_extendedprice"), read)
  }

  test("join_star: dimension join is broadcast, not shuffled") {
    Fixtures.ensureConf(spark)
    val df = SparkEntry.queries("join_star_schema")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("b11: top-k plans as TakeOrderedAndProject, not a global sort") {
    Fixtures.ensureConf(spark)
    val df = SparkEntry.queries("b11_topk")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("GlobalSort"), plan.take(2000))
  }

  test("minhash signatures aggregate inside codegen'd HashAggregate") {
    val docs = Fixtures.raw(spark, sfDir, "documents")
    val df = operators.Dedup.minHashSignatures(docs, "doc_id", "text")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan.take(2000))
    // partial (map-side) aggregation before the shuffle
    assert(plan.contains("partial_min") || plan.contains("partial"), plan.take(2000))
  }

  test("snapshot read scans exactly the alive files (no directory glob)") {
    Fixtures.ensureConf(spark)
    val fx = Fixtures.eventsIce(spark, sfDir)
    val df = fx.table.read().groupBy("event_type").count()
    val scan = scansOf(df).head
    val alive = fx.table.snapshot().aliveFiles.length
    assert(scan.relation.location.inputFiles.length == alive)
  }

  test("b7 approx uniq: HLL aggregates partially before the shuffle") {
    Fixtures.ensureConf(spark)
    val df = SparkEntry.queries("b7_approx_uniq")(spark, sfDir)
    val plan = planOf(df)
    // both the exact distinct and the HLL sketch must combine map-side
    assert(plan.contains("partial_approx_count_distinct"), plan.take(2000))
  }

  test("minhash near-dup plan: single tokenization, no all-pairs join") {
    val docs = Fixtures.raw(spark, sfDir, "documents")
    // the planned (lazy) form: the public API localCheckpoints the result,
    // which would hide the internal plan behind an opaque RDD scan
    val (df, tok) = operators.Dedup.minHashDupPairsPlanned(
      docs, "doc_id", "text", 0.7, 128, 16, 3, 1000)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    tok.unpersist()
    // no CartesianProduct / BroadcastNestedLoopJoin anywhere — every join
    // is keyed (bucket or id): the all-pairs failure mode is structural
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoop"), plan.take(2000))
    // the corpus scan is the cached tok table, not a re-tokenization:
    // at most one InMemoryTableScan source feeds every downstream branch
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      plan.take(2000))
  }

  test("range_join is a keyed hash/merge join, never a nested loop") {
    Fixtures.ensureConf(spark)
    val df = SparkEntry.queries("range_join")(spark, sfDir)
    val plan = planOf(df)
    // the whole point of time bucketing: the window predicate rides an
    // EQUI-join on (key, bucket) — an inequality-only join would plan as
    // a nested loop and go quadratic per key
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoop"), plan.take(2000))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      plan.take(2000))
  }

  test("bm25 fuses doc length and all term counts into one aggregation pass") {
    Fixtures.ensureConf(spark)
    val stats = operators.Search.docTermStats(
      Fixtures.raw(spark, sfDir, "documents"), "doc_id", "text",
      Seq("spark", "query", "window"))
    val plan = planOf(stats)
    // one scan, one generate (the token explode), one keyed aggregate —
    // a per-term pass would scan the corpus |terms| times
    assert(scansOf(stats).length == 1, plan.take(2000))
    assert(plan.contains("HashAggregate"), plan.take(2000))
  }

  test("LSH candidate-dedup exchange carries only (qid, id) — no vectors") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    val emb = Fixtures.raw(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) as embedding")
    val queries = emb.where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val df = operators.Similarity.lshTopK(emb, "vec_id", "embedding",
      queries, "qid", "qvec", k = 5, dim = 64, tables = 4, bits = 4)
    df.collect()
    def shuffles(p: SparkPlan): Seq[ShuffleExchangeLike] = p match {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case q: QueryStageExec => shuffles(q.plan)
      case r: ReusedExchangeExec => shuffles(r.child)
      case s: ShuffleExchangeLike => s +: s.children.flatMap(shuffles)
      case other => other.children.flatMap(shuffles) ++
        other.subqueries.flatMap(shuffles)
    }
    val all = shuffles(df.queryExecution.executedPlan)
    // the banded exchange (candidate distinct) must move exactly two longs
    // per row: the tables× explode multiplies rows, so any vector column
    // riding it multiplies shuffle bytes by `tables`
    assert(all.exists(_.child.output.map(_.name).toSet == Set("qid", "id")),
      all.map(_.child.output.map(_.name).mkString("[", ",", "]")).mkString(" "))
  }

  test("LSH bucketing runs the native graft_dot, not interpreted HOF dots") {
    val emb = Fixtures.raw(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) as embedding")
    val queries = emb.where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val df = operators.Similarity.lshTopK(emb, "vec_id", "embedding",
      queries, "qid", "qvec", k = 5, dim = 64, tables = 4, bits = 4)
    // audit the analyzed plan: `tables × bits` hyperplane projections per
    // row must all be the codegen'd expression — one interpreted HOF
    // aggregate() would dominate the corpus scan at scale
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("graft_dot"), analyzed.take(2000))
    assert(!analyzed.contains("aggregate("), analyzed.take(2000))
    assert(df.count() > 0)
  }
}
