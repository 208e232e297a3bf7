package graft.plans

import graft.ice.{FileMarker, IceSnapshot, IceTable}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{NumericType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The one Catalyst [[FileIndex]] every ice scan plans through: a marker
  * list from the log, never a directory glob.
  *
  *  - The catalog relation ([[IceFileIndex.relationFor]]) passes a
  *    snapshot's alive files and its Hive-style partition keys (parsed
  *    from `_data/{k=v/...}/uuid.parquet` marker paths). The keys become
  *    real queryable columns, and `WHERE` clauses on them prune files
  *    inside the optimizer (`PartitionFilters` in the plan). This subsumes
  *    the reference's `get_files` UDF / parameterized-view integrations
  *    (ch/user_scripts/main.go:44-73, examples/segment-webhook-sink.py:84-90
  *    — B21/B22): instead of splicing file lists into SQL text, the
  *    resolver IS the table.
  *  - Explicit reads ([[graft.ice.IceTable.scanMarkers]]) pass their own
  *    marker list with an empty partition schema: one
  *    [[PartitionDirectory]], and a relation schema that is exactly the
  *    passed data schema.
  *
  * Neither lists a file. DataFrameReader resolves a multi-path read
  * through InMemoryFileIndex, which above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (default 32)
  * paths runs a DISTRIBUTED listing job with one task per path, and every
  * one of those tasks re-deserializes the full Hadoop Configuration from
  * the task binary (measured 15-20 ms CPU per task: ~35 CPU-s ahead of a
  * 2000-file compaction scan, an 83-task job ahead of every query on the
  * 83-partition lineitem fixture). The log already records every path
  * and exact byte size at commit time (`FileMarker.fileBytes` =
  * `getFileStatus(dest).getLen`), so this index serves the plan straight
  * from the markers; at object-store scale that replaces per-file
  * HEAD/LIST round-trips with zero I/O.
  *
  * Deletion vectors: catalog relations are overlaid by the
  * [[IceDvOverlay]] rule, pinned at `asOf`. Explicit scans arrive already
  * tagged [[IceDvOverlay.DvApplied]]: they are DV-blind by contract, and
  * the readers that need deletes applied do it themselves.
  *
  * The marker list is pinned at construction — MVCC isolation holds for
  * the lifetime of the DataFrame. */
final class IceFileIndex(
    val table: IceTable,
    val markers: Seq[FileMarker],
    dataSchema: StructType,
    override val partitionSchema: StructType,
    val asOf: Long = Long.MaxValue) extends FileIndex {

  /** partition values row → markers, built once driver-side. */
  private lazy val partitions: Seq[(InternalRow, Seq[FileMarker])] =
    if (partitionSchema.isEmpty) Seq(InternalRow.empty -> markers)
    else markers
      .groupBy(m => table.partitionOf(m.path))
      .toSeq.sortBy(_._1)
      .map { case (part, ms) =>
        val kv = IceTable.partitionKvOf(part) // THE shared k=v semantics
        InternalRow.fromSeq(partitionSchema.map(f =>
          UTF8String.fromString(kv.getOrElse(f.name, "")))) -> ms
      }

  // sizes come from the log markers — no S3 HEAD/LIST needed. Paths are
  // FS-QUALIFIED (scheme + authority) so `_metadata.file_path` carries the
  // same prefix as every other scan — the deletion-vector anti-join strips
  // `table.qualifiedRoot` off it
  private def statusOf(m: FileMarker): FileStatusWithMetadata =
    FileStatusWithMetadata(new FileStatus(
      m.fileBytes, false, 1, 128L * 1024 * 1024, m.createdMs,
      new Path(table.qualifiedRoot + "/" + m.path)))

  // ------------------------------------------------- stats-based skipping
  //
  // The optimizer hands listFiles the non-partition conjuncts as
  // dataFilters; when the table records log-side [min, max] stats for a
  // column, simple comparisons against it turn into a conservative
  // [lo, hi] window and files whose stats interval cannot intersect it are
  // never listed (IceTable.filesMatchingStats), still with zero plan-time
  // object-store reads.

  private val statsCols: Seq[String] =
    (table.cfg.statsColumn.toSeq ++ table.cfg.statsColumns).distinct
  private val statsNumeric: Map[String, Boolean] =
    statsCols.map(c => c -> IceTable.statsNumeric(dataSchema, c)).toMap

  /** Conservative per-column [lo, hi] windows for every stats column, from
    * conjunctive comparison filters; anything unrecognized just widens.
    *
    * A comparison only qualifies when it is against the bare attribute, or
    * against a numeric→numeric cast of it on a numeric stats column (the
    * widening casts Spark inserts for type coercion — order-preserving, and
    * the cast literal still compares correctly as BigDecimal against the
    * raw stats). Any other cast (e.g. a string column implicitly cast to
    * DOUBLE by `WHERE k > 5`) moves the literal into a different ordering
    * domain than the recorded stats, so pruning on it would be wrong —
    * those filters are ignored. */
  private def statsWindows(
      dataFilters: Seq[Expression]): Map[String, (Option[String], Option[String])] = {
    if (statsCols.isEmpty) return Map.empty
    def colOf(e: Expression): Option[String] = e match {
      case a: Attribute if statsNumeric.contains(a.name) => Some(a.name)
      case Cast(child, dt, _, _)
          if dt.isInstanceOf[NumericType] &&
            child.dataType.isInstanceOf[NumericType] =>
        colOf(child).filter(statsNumeric(_)) // numeric→numeric widening only
      case _ => None
    }
    def litStr(l: Literal): Option[String] =
      Option(l.value).map(_.toString)
    val lo = scala.collection.mutable.Map.empty[String, String]
    val hi = scala.collection.mutable.Map.empty[String, String]
    // an unparseable comparison keeps the current bound (wider window = safe)
    def tightenLo(c: String, v: String): Unit =
      lo(c) = lo.get(c).fold(v)(cur =>
        if (IceTable.statsTryCmp(statsNumeric(c), v, cur).exists(_ > 0)) v else cur)
    def tightenHi(c: String, v: String): Unit =
      hi(c) = hi.get(c).fold(v)(cur =>
        if (IceTable.statsTryCmp(statsNumeric(c), v, cur).exists(_ < 0)) v else cur)
    // [min, max] cover of a value set. EVERY value must parse under the
    // column's comparator (an unparseable element would make the reduce
    // pick an arbitrary endpoint and tighten WRONGLY — a false skip);
    // string columns always compare, numeric columns via BigDecimal.
    // Empty or partly-unparseable sets tighten nothing (safe).
    def tightenToCover(c: String, vals: Seq[String]): Unit = {
      val isNum = statsNumeric(c)
      if (vals.nonEmpty &&
          vals.forall(v => IceTable.statsTryCmp(isNum, v, v).isDefined)) {
        val mn = vals.reduce((x, y) =>
          if (IceTable.statsTryCmp(isNum, y, x).exists(_ < 0)) y else x)
        val mx = vals.reduce((x, y) =>
          if (IceTable.statsTryCmp(isNum, y, x).exists(_ > 0)) y else x)
        tightenLo(c, mn); tightenHi(c, mx)
      }
    }
    dataFilters.foreach {
      case GreaterThanOrEqual(a, l: Literal) =>
        colOf(a).foreach(c => litStr(l).foreach(tightenLo(c, _)))
      case GreaterThan(a, l: Literal) =>
        colOf(a).foreach(c => litStr(l).foreach(tightenLo(c, _)))
      case LessThanOrEqual(a, l: Literal) =>
        colOf(a).foreach(c => litStr(l).foreach(tightenHi(c, _)))
      case LessThan(a, l: Literal) =>
        colOf(a).foreach(c => litStr(l).foreach(tightenHi(c, _)))
      case EqualTo(a, l: Literal) if colOf(a).isDefined =>
        colOf(a).foreach(c =>
          litStr(l).foreach { v => tightenLo(c, v); tightenHi(c, v) })
      case GreaterThanOrEqual(l: Literal, a) =>
        colOf(a).foreach(c => litStr(l).foreach(tightenHi(c, _)))
      case GreaterThan(l: Literal, a) =>
        colOf(a).foreach(c => litStr(l).foreach(tightenHi(c, _)))
      case LessThanOrEqual(l: Literal, a) =>
        colOf(a).foreach(c => litStr(l).foreach(tightenLo(c, _)))
      case LessThan(l: Literal, a) =>
        colOf(a).foreach(c => litStr(l).foreach(tightenLo(c, _)))
      case EqualTo(l: Literal, a) if colOf(a).isDefined =>
        colOf(a).foreach(c =>
          litStr(l).foreach { v => tightenLo(c, v); tightenHi(c, v) })
      // IN-lists (the dim-change probes, any isin pushdown): a SOUND
      // interval cover — [min, max] of the list's non-null values. A
      // matching row must equal one of those values, so it lies inside
      // the cover; null list entries match nothing and drop out. On a
      // key-clustered layout a small IN prunes to the few files whose
      // stats window intersects the list's span
      case org.apache.spark.sql.catalyst.expressions.In(a, list)
          if colOf(a).isDefined && list.nonEmpty &&
            list.forall(_.isInstanceOf[Literal]) =>
        val c = colOf(a).get
        tightenToCover(c,
          list.collect { case l: Literal => litStr(l) }.flatten)
      case s: org.apache.spark.sql.catalyst.expressions.InSet
          if colOf(s.child).isDefined =>
        val c = colOf(s.child).get
        tightenToCover(c, s.hset.toSeq.collect {
          case v if v != null => v.toString })
      case _ => ()
    }
    (lo.keySet ++ hi.keySet).map(c => c -> (lo.get(c), hi.get(c))).toMap
  }

  override def rootPaths: Seq[Path] = Seq(new Path(table.qualifiedRoot))

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val pruned = if (partitionFilters.isEmpty) partitions else {
      val attrs = partitionSchema.zipWithIndex.map { case (f, i) =>
        f.name -> BoundReference(i, f.dataType, nullable = true)
      }.toMap
      val bound = partitionFilters.map(_.transform {
        case a: Attribute => attrs(a.name)
      })
      val predicate = Predicate.create(bound.reduce(
        org.apache.spark.sql.catalyst.expressions.And))
      partitions.filter { case (row, _) => predicate.eval(row) }
    }
    val windows = statsWindows(dataFilters)
    pruned.map { case (row, ms) =>
      PartitionDirectory(row,
        table.filesMatchingStats(ms, dataSchema, windows).map(statusOf))
    }
  }

  override def inputFiles: Array[String] =
    markers.map(m => s"${table.qualifiedRoot}/${m.path}").toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = markers.map(_.fileBytes).sum

  /** Sum of the markers' recorded physical row counts, defined only when
    * EVERY marker carries one — the metadata-only `count(*)` input
    * ([[org.apache.spark.sql.graft.MetadataOnlyCount]]). A single rc-less
    * file (reference-written log, pre-field history) disables the fast
    * path rather than corrupting it; an empty list is a legitimate zero. */
  def metadataRowCount: Option[Long] =
    if (markers.forall(_.rowCount.isDefined)) Some(markers.iterator.flatMap(_.rowCount).sum)
    else None

  /** Numeric-compared (min, max) of `colName` across the markers' footer
    * stats, defined iff EVERY marker records stats for that column (a
    * file whose rows are all-null there records none — blocking is the
    * conservative, correct answer; footer min/max skip nulls exactly like
    * SQL `min`/`max`). Values returned as the stored strings; the caller
    * owns typed reconstruction. No markers → None (SQL yields NULL there
    * — let the scan say so). */
  def metadataMinMax(colName: String): Option[(String, String)] = {
    if (markers.isEmpty) return None
    val all = markers.map(table.markerStats(_, colName))
    if (all.exists(_.isEmpty)) return None
    try {
      val parsed = all.flatten.map { case (mn, mx) =>
        (BigDecimal(mn) -> mn, BigDecimal(mx) -> mx)
      }
      Some((parsed.minBy(_._1._1)._1._2, parsed.maxBy(_._2._1)._2._2))
    } catch { case _: NumberFormatException => None }
  }
}

object IceFileIndex {

  /** Partition keys present in a snapshot's marker paths, in first-seen
    * order (all typed string — the partition path is a string codec). */
  def partitionKeys(table: IceTable, snap: IceSnapshot): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    snap.aliveFiles.foreach { m =>
      table.partitionOf(m.path).split("/").foreach { seg =>
        val i = seg.indexOf('=')
        if (i > 0) seen += seg.substring(0, i)
      }
    }
    // the bucket directory level of a bucketed table is routing detail
    // (surfaced through the relation's BucketSpec), not a queryable
    // partition column — exposing it would also collide across joined
    // bucketed tables
    if (table.cfg.bucketBy.isDefined) (seen - "bkt").toSeq else seen.toSeq
  }

  /** Snapshot → the catalog-grade [[HadoopFsRelation]] (partition columns
    * queryable, optimizer-side file pruning, zero plan-time object-store
    * reads). Also the batch half of the `format("ice")` reader
    * ([[graft.streaming.IceStreamProvider]] returns it from
    * `createRelation`). */
  def relation(spark: SparkSession, table: IceTable,
      maxTs: Long = Long.MaxValue): HadoopFsRelation =
    relationFor(spark, table, table.snapshot(maxTs))

  /** [[relation]] over an already-pinned snapshot. */
  def relationFor(spark: SparkSession, table: IceTable,
      snap: IceSnapshot): HadoopFsRelation = {
    val pSchema = StructType(partitionKeys(table, snap)
      .map(StructField(_, StringType, nullable = true)))
    val dataSchema = snap.schema.toStructType
    HadoopFsRelation(
      location = new IceFileIndex(
        table, snap.aliveFiles, dataSchema, pSchema, snap.timestamp),
      partitionSchema = pSchema,
      dataSchema = dataSchema,
      // co-located joins/aggs on the bucket columns plan WITHOUT an
      // exchange when the table is bucketed (see IceTableConfig.bucketBy)
      bucketSpec = table.bucketSpecFor(snap),
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
  }

  /** Snapshot → catalog-grade DataFrame with queryable partition columns
    * and optimizer-side file pruning. Deletion vectors are APPLIED (same
    * contract as [[graft.ice.IceTable.read]]): the SQL catalog, temp
    * views, and the DataFrame API always agree after a
    * [[graft.ice.DeleteVectors.deleteWhere]]. No-dv tables pay one
    * existence probe and keep the bare relation plan. */
  def dataFrame(spark: SparkSession, table: IceTable,
      maxTs: Long = Long.MaxValue,
      preSnap: Option[graft.ice.IceSnapshot] = None): DataFrame = {
    // preSnap: a caller that just folded the log (IceTable.openWithSnapshot
    // in the SQL resolver) passes its snapshot so resolution costs ONE
    // fold, not two — only valid for the same maxTs it was folded at
    val snap = preSnap.getOrElse(table.snapshot(maxTs))
    val rel = relationFor(spark, table, snap)
    // persisted ANALYZE statistics ride the relation as catalog plan
    // stats so CBO join reordering / broadcast decisions use analyzed
    // rowCount + ndv/min/max/nullCount (inert while cbo.enabled=false:
    // the attached sizeInBytes IS the bare relation's file-bytes sum).
    // The standard ANALYZE staleness contract applies — estimates from
    // the last analysis, exact only until the table moves. Time-traveled
    // reads get NO stats: pairing the current analysis's rowCount with an
    // as-of file set is not staleness but a cross-version contradiction
    // (a grown table would refuse to broadcast its tiny historical self).
    val df = (if (maxTs == Long.MaxValue) table.cachedStats else None) match {
      case Some(st) =>
        val types = snap.schema.toStructType.fields
          .map(f => f.name -> f.dataType).toMap
        val colStats = st.columns.flatMap { cs =>
          types.get(cs.column).map { dt =>
            // equi-height histogram (if analyzed): bin height is exactly
            // non-null rows / bins by construction, so it is recomputed
            // here rather than persisted
            val hist = cs.bins.filter(_.nonEmpty).map { bs =>
              org.apache.spark.sql.graft.StatsBridge.histogram(
                math.max(0L, st.rowCount - cs.nullCount).toDouble / bs.size,
                bs.map(b => (b.lo, b.hi, b.ndv)))
            }
            cs.column -> org.apache.spark.sql.graft.StatsBridge.columnStat(
              cs.column, dt, cs.ndv, cs.nullCount, cs.min, cs.max,
              cs.avgLen, cs.maxLen, hist)
          }
        }.toMap
        org.apache.spark.sql.graft.StatsBridge.planWithStats(
          spark, rel, new Path(table.root).getName,
          sizeInBytes = BigInt(snap.aliveFiles.map(_.fileBytes).sum),
          rowCount = Some(BigInt(st.rowCount)), colStats)
      case None => spark.baseRelationToDataFrame(rel)
    }
    // baseRelationToDataFrame analyzes EAGERLY: when the session has the
    // IceDvOverlay extension rule, the overlay is already in `df`'s
    // analyzed plan — stacking a second anti-join here would both waste a
    // join and fail analysis (the rule's projection hides `_metadata`).
    // Only sessions WITHOUT the extension need the inline overlay.
    val ruleActive = spark.sessionState.analyzer.extendedResolutionRules
      .exists(_.isInstanceOf[IceDvOverlay])
    if (ruleActive) df else table.withDeletesApplied(df, snap.aliveFiles, snap.timestamp)
  }

  /** Register the snapshot as a temp view: `spark.sql("... FROM name WHERE
    * d = '2024-01-01'")` prunes partitions in the optimizer (B21: the
    * parameterized-view shape without SQL splicing). */
  def registerView(spark: SparkSession, table: IceTable, name: String,
      maxTs: Long = Long.MaxValue): DataFrame = {
    val df = dataFrame(spark, table, maxTs)
    df.createOrReplaceTempView(name)
    df
  }
}
