package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs. Every value is a pure function of (seed, salt,
  * row key), so the same seed gives the same rows however Spark splits the
  * work, and the library sees only the generated DataFrames. */
object Gen {
  private def h(seed: Long, salt: Int, key: Column): Column =
    xxhash64(lit(seed), lit(salt), key)

  /** Uniform integer in [0, n). */
  def uni(seed: Long, salt: Int, key: Column, n: Long): Column =
    pmod(h(seed, salt, key), lit(n))

  private def pick(seed: Long, salt: Int, key: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (uni(seed, salt, key, values.length) + 1).cast("int"))

  /** Seeded parameter draws, made in the benchmark's own JVM thread. */
  final class Draw(seed: Long) {
    private val r = new scala.util.Random(seed)
    def int(n: Int): Int = r.nextInt(n)
    def shuffle[T](xs: Seq[T]): Seq[T] = r.shuffle(xs)
  }

  // ---------------------------------------------------------- star schema

  private val Day = 86400L
  private val Y1992 = 694224000L // 1992-01-01T00:00:00Z
  /** Ship dates span the 83 months 1992-01 .. 1998-11. */
  val ShipSpanS: Long = 912470400L - Y1992

  def lineitem(spark: SparkSession, seed: Long, sf: Double): DataFrame = {
    val nOrders = orders(sf)
    val id = col("id")
    spark.range((4 * nOrders).toLong).select(
      (uni(seed, 1, id, nOrders) + 1).as("l_orderkey"),
      (uni(seed, 2, id, math.max(1L, (200000 * sf).toLong)) + 1).as("l_partkey"),
      (uni(seed, 3, id, math.max(1L, (10000 * sf).toLong)) + 1).as("l_suppkey"),
      (uni(seed, 4, id, 7) + 1).cast("int").as("l_linenumber"),
      (uni(seed, 5, id, 50) + 1).cast("double").as("l_quantity"),
      ((uni(seed, 6, id, 9000000) + 90000) / 100.0).as("l_extendedprice"),
      (uni(seed, 7, id, 11) / 100.0).as("l_discount"),
      (uni(seed, 8, id, 9) / 100.0).as("l_tax"),
      pick(seed, 9, id, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 10, id, Seq("F", "O")).as("l_linestatus"),
      timestamp_seconds(lit(Y1992) + uni(seed, 11, id, ShipSpanS)).as("l_shipdate"))
  }

  def orders(sf: Double): Long = math.max(10L, (1500000 * sf).toLong)
  def customers(sf: Double): Long = math.max(5L, (150000 * sf).toLong)

  def orders(spark: SparkSession, seed: Long, sf: Double): DataFrame = {
    val id = col("id")
    spark.range(orders(sf)).select(
      (id + 1).as("o_orderkey"),
      (uni(seed, 21, id, customers(sf)) + 1).as("o_custkey"),
      pick(seed, 22, id, Seq("F", "O", "P")).as("o_orderstatus"),
      ((uni(seed, 23, id, 50000000) + 100000) / 100.0).as("o_totalprice"),
      timestamp_seconds(lit(Y1992) + uni(seed, 24, id, 2405 * Day)).as("o_orderdate"),
      pick(seed, 25, id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
  }

  def customer(spark: SparkSession, seed: Long, sf: Double): DataFrame = {
    val id = col("id")
    spark.range(customers(sf)).select(
      (id + 1).as("c_custkey"),
      concat(lit("Customer#"), (id + 1).cast("string")).as("c_name"),
      uni(seed, 31, id, 25).cast("int").as("c_nationkey"),
      ((uni(seed, 32, id, 1100000) - 100000) / 100.0).as("c_acctbal"),
      pick(seed, 33, id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))
  }

  // ------------------------------------------------------------ events

  val EventNames: Seq[String] =
    Seq("page_view", "click", "signup", "purchase", "search", "logout")

  /** 2024-01-01T00:00:00Z in epoch millis: event time base. */
  val T0Ms = 1704067200000L

  /** One batch of events in the icedb perf-test shape (ts epoch millis,
    * user_id, event, properties JSON). Batch `b`'s timestamps lie in
    * [T0Ms + b * BatchSpanMs, T0Ms + (b + 1) * BatchSpanMs), so a window
    * starting at a batch boundary selects whole batches. */
  val BatchSpanMs = 60000000L

  def eventBatch(spark: SparkSession, seed: Long, b: Int, n: Long): DataFrame =
    spark.range(n).select(eventCols(seed, lit(b.toLong), col("id")): _*)

  /** Several batches in one DataFrame, with the batch id in `_b`: the rows
    * equal those of [[eventBatch]] for each (batch, rows) pair. */
  def eventBatches(spark: SparkSession, seed: Long, batches: Seq[(Int, Long)]): DataFrame = {
    val width = batches.map(_._2).max
    val b = element_at(array(batches.map(x => lit(x._1.toLong)): _*),
      (col("id") / width).cast("int") + 1)
    val rows = element_at(array(batches.map(x => lit(x._2)): _*), (col("id") / width).cast("int") + 1)
    val i = pmod(col("id"), lit(width))
    spark.range(batches.length * width).where(i < rows)
      .select(eventCols(seed, b, i) :+ b.cast("int").as("_b"): _*)
  }

  private def eventCols(seed: Long, b: Column, i: Column): Seq[Column] = {
    val key = b * 1000000000L + i
    Seq(
      (lit(T0Ms) + b * BatchSpanMs + uni(seed, 41, key, BatchSpanMs)).as("ts"),
      concat(lit("user_"), uni(seed, 42, key, 5000).cast("string")).as("user_id"),
      pick(seed, 43, key, EventNames).as("event"),
      concat(lit("{\"page\":\"/p"), uni(seed, 44, key, 200).cast("string"),
        lit("\",\"ref\":\"r"), uni(seed, 45, key, 50).cast("string"),
        lit("\",\"ms\":"), uni(seed, 46, key, 100000).cast("string"), lit("}"))
        .as("properties"))
  }

  /** Order-independent content checksum of event rows. */
  val EventChecksum: Column =
    sum(hash(col("ts"), col("user_id"), col("event"), col("properties")).cast("long"))

  /** Events for the query mix: a month of traffic with a numeric value. */
  def events(spark: SparkSession, seed: Long, sf: Double): DataFrame = {
    val id = col("id")
    spark.range(math.max(100L, (1000000 * sf).toLong)).select(
      id.as("event_id"),
      (lit(T0Ms) + uni(seed, 51, id, 31 * Day * 1000)).as("ts"),
      concat(lit("user_"), uni(seed, 52, id, 1000).cast("string")).as("user_id"),
      pick(seed, 53, id, EventNames).as("event"),
      (uni(seed, 54, id, 100000) / 100.0).as("value"),
      concat(lit("{\"page\":\"/p"), uni(seed, 55, id, 200).cast("string"), lit("\"}"))
        .as("properties"))
  }

  // ----------------------------------------------------------- documents

  private val Vocab = Seq("spark", "batch", "part", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
    "filter", "query", "big", "key", "window", "row", "table", "stream",
    "merge", "data", "join", "vector", "customer", "the", "a", "index",
    "commit", "log", "file", "snapshot", "schema", "shard", "cache", "page", "token")

  /** Id offsets: a document's kind lives in its id, so the dedup checks can
    * tell planted copies from their sources. */
  val ReplicaStride = 10000000L
  val ExactCopy = 1000000L
  val NearCopy = 2000000L
  val NearSuffix = " planted near duplicate marker"

  /** `nBase` distinct documents replicated `nRep` times. Replica r > 0
    * weaves a salt token into every 3rd word, so replicas share almost no
    * shingles. One base document in 20 gets an exact copy and another one
    * in 20 a near copy (three appended words, Jaccard about 0.9); copies
    * always carry a larger id than their source. */
  def documents(spark: SparkSession, seed: Long, nBase: Long, nRep: Int): DataFrame = {
    val b = col("id")
    val len = uni(seed, 61, b, 40) + 12
    val words = transform(sequence(lit(1), len.cast("int")), i =>
      element_at(array(Vocab.map(lit): _*),
        (pmod(xxhash64(lit(seed), lit(62), b, i), lit(Vocab.length.toLong)) + 1).cast("int")))
    // a per-document token keeps every base text distinct
    val baseText = concat_ws(" ", concat(lit("t"), b.cast("string")), array_join(words, " "))
    val kind = uni(seed, 63, b, 20)
    val replicas = (0 until nRep).map { r =>
      val text =
        if (r == 0) baseText
        else concat_ws(" ", transform(split(baseText, " "), (w, ix) =>
          when(ix % 3 === 0, concat(lit(s"q${r}x"), w)).otherwise(w)))
      spark.range(nBase).select((b + r * ReplicaStride).as("doc_id"), text.as("text"),
        kind.as("_kind"))
    }.reduce(_ unionByName _)
    val exact = replicas.where(col("_kind") === 0)
      .select((col("doc_id") + ExactCopy).as("doc_id"), col("text"), col("_kind"))
    val near = replicas.where(col("_kind") === 1)
      .select((col("doc_id") + NearCopy).as("doc_id"), concat(col("text"), lit(NearSuffix))
        .as("text"), col("_kind"))
    replicas.unionByName(exact).unionByName(near)
      .select(col("doc_id"), col("text"),
        pick(seed, 64, col("doc_id"), Seq("en", "de", "fr", "zh")).as("lang"),
        length(col("text")).cast("long").as("n_chars"))
  }
}
