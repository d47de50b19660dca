package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 `TableProvider` — the fifth Catalyst extension surface
  * the engine demonstrates (after codegen `Expression`s, native
  * `TypedImperativeAggregate`s, a custom `SparkStrategy`, and an
  * optimizer `Rule`): a deterministic integer-range GENERATOR table
  * (`graft-range`), the connector shape every custom V2 source shares —
  * `TableProvider` → `Table(BATCH_READ)` → `ScanBuilder` → `Batch` with
  * explicit `InputPartition`s → serializable `PartitionReaderFactory`.
  *
  * Semantics: `n` rows `id = 0..n-1` split into `slices` contiguous
  * input partitions (the planner sees `slices`-way parallelism, exactly
  * how a real connector surfaces its splits), each row carrying
  *   - `sq`     = id·id (pure integer, oracle-replayable),
  *   - `bucket` = id mod 16.
  *
  * The ScanBuilder implements `SupportsPushDownRequiredColumns`, so a
  * projection reaches the reader as a pruned schema and the readers
  * materialize ONLY the requested fields — the column-pruning contract
  * a columnar connector lives by (q432's REQUIRE pins both the
  * `BatchScan` node and the pruned ReadSchema in the physical plan).
  *
  * Registered through `DataSourceRegister` (META-INF/services), so
  * `spark.read.format("graft-range")` resolves by short name — the V2
  * loading path (`DataSourceV2Utils`) hands the options to
  * [[GraftRangeTable]] as table properties.
  *
  * Reference scope: the reference engine reads its inputs as whole
  * files (`/root/reference/src/mr/worker.rs:142-193`); a pluggable
  * table source is north-star surface.
  */
class GraftRangeSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-range"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftRangeSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val n = Option(properties.get("n")).map(_.toLong).getOrElse(1000L)
    val slices = Option(properties.get("slices")).map(_.toInt).getOrElse(8)
    val batchRows =
      Option(properties.get("batchRows")).map(_.toLong).getOrElse(math.max(n, 1L))
    val clustered =
      Option(properties.get("clusterByBucket")).exists(_.toBoolean)
    // opt-in: let a CLUSTERED scan also accept aggregate pushdown (the
    // composed-capability connector shape, q468); kept off by default so
    // the raw-scan SPJ gate (q460) keeps pinning the un-aggregated
    // clustered scan instance
    val clusterAgg =
      Option(properties.get("clusterAgg")).exists(_.toBoolean)
    require(n >= 0 && slices >= 1 && batchRows >= 1,
      s"graft-range: bad n=$n slices=$slices batchRows=$batchRows")
    new GraftRangeTable(n, slices, batchRows, clustered, clusterAgg)
  }
}

object GraftRangeSource {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("sq", LongType, nullable = false),
    StructField("bucket", IntegerType, nullable = false)))

  /** Contiguous [start, end) ranges over [lo, hi), remainder spread over
    * the first few — shared by the batch Scan and the micro-batch stream
    * (each micro-batch re-splits ITS offset range the same way, so the
    * stream keeps `slices`-way parallelism per trigger). Each partition
    * carries its split ordinal, surfaced as the `_slice` metadata
    * column. */
  def slicePartitions(lo: Long, hi: Long, slices: Int): Array[InputPartition] = {
    val n = math.max(hi - lo, 0L)
    val base = n / slices; val rem = n % slices
    (0 until slices).iterator.map { i =>
      val start = lo + i * base + math.min(i.toLong, rem)
      val end = start + base + (if (i < rem) 1L else 0L)
      GraftRangePartition(start, end, i): InputPartition
    }.filter { case GraftRangePartition(s, e, _) => e > s }.toArray
  }

  /** The connector's metadata columns ([[SupportsMetadataColumns]]):
    * `_slice` is the input-partition ordinal a row was read by — the
    * graft-range analogue of a file source's `_metadata.file_name`
    * (q421's audit discipline on the V2 surface). */
  val sliceMetaCol = "_slice"
}

class GraftRangeTable(n: Long, slices: Int, batchRows: Long,
                      clustered: Boolean = false, clusterAgg: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"graft_range(n=$n, slices=$slices)"
  override def schema(): StructType = GraftRangeSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  /** `_slice`: the split ordinal serving each row — hidden until a query
    * references it by name, then delivered through the same pruned-schema
    * path as any data column (the readers emit it from the partition's
    * own descriptor, so it is provenance, not a recomputation). */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftRangeSource.sliceMetaCol
      override def dataType(): org.apache.spark.sql.types.DataType = IntegerType
      override def isNullable: Boolean = false
      override def comment(): String = "input-partition (split) ordinal"
    })
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftRangeScanBuilder(n, slices, batchRows, clustered, clusterAgg)
}

class GraftRangeScanBuilder(n: Long, slices: Int, batchRows: Long,
                            clustered: Boolean = false,
                            clusterAgg: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {
  import org.apache.spark.sql.sources._
  private var required: StructType = GraftRangeSource.schema
  private var lo = 0L
  private var hi = Long.MaxValue
  private var pushed: Array[Filter] = Array.empty
  private var aggFuncs: Option[Seq[String]] = None
  private var aggGrouped = false
  private var limitOpt: Option[Int] = None
  private var topNDesc: Option[Boolean] = None

  /** Both pushes are PARTIAL (Scala needs the explicit override where
    * the two interfaces' identical default methods meet): Spark keeps
    * its own Limit / TakeOrdered on top of the narrowed scan. */
  override def isPartiallyPushed(): Boolean = true

  /** LIMIT pushdown: the generator's natural order is id ascending, so
    * "any `limit` rows" (the LIMIT contract) is answered deterministically
    * by truncating the post-filter interval to its first `limit` ids —
    * the connector-side skip that turns "generate 10⁶, keep 1000" into
    * "generate 1000" (≙ a real source stopping after `limit` rows per
    * the SupportsPushDownLimit contract). Partial push (default
    * `isPartiallyPushed` = true): Spark keeps its own Limit on top. */
  override def pushLimit(limit: Int): Boolean =
    if (clustered || limit < 0) false
    else { limitOpt = Some(limit); true }

  /** Top-N pushdown (ORDER BY id [ASC|DESC] LIMIT k): the top-k by id
    * over a contiguous interval is itself a contiguous interval — the
    * first k ids (asc) or last k ids (desc) — so the connector narrows
    * the generated range in closed form. Only a single sort key on `id`
    * is accepted (any null ordering: id is non-nullable); anything else
    * declines and Spark plans its own TakeOrderedAndProject over the
    * full scan. Partial push: Spark still sorts the k survivors. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
                        limit: Int): Boolean = {
    if (clustered || limit < 0 || orders.length != 1) return false
    val so = orders.head
    so.expression() match {
      case r: NamedReference if r.fieldNames.sameElements(Array("id")) =>
        topNDesc = Some(so.direction() ==
          org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING)
        limitOpt = Some(limit)
        true
      case _ => false
    }
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Range predicates on `id` narrow the GENERATED interval — the
    * connector-side pushdown that turns "generate n, filter to 100"
    * into "generate 100" (≙ a real source skipping row groups). Only
    * id-bound comparisons are accepted; everything else stays a
    * residual for Spark to apply post-scan. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, residual) = filters.partition {
      case GreaterThan("id", _: java.lang.Long) => true
      case GreaterThanOrEqual("id", _: java.lang.Long) => true
      case LessThan("id", _: java.lang.Long) => true
      case LessThanOrEqual("id", _: java.lang.Long) => true
      case EqualTo("id", _: java.lang.Long) => true
      case _ => false
    }
    accepted.foreach {
      case GreaterThan("id", v: java.lang.Long) => lo = math.max(lo, v + 1L)
      case GreaterThanOrEqual("id", v: java.lang.Long) => lo = math.max(lo, v)
      case LessThan("id", v: java.lang.Long) => hi = math.min(hi, v)
      case LessThanOrEqual("id", v: java.lang.Long) => hi = math.min(hi, v + 1L)
      case EqualTo("id", v: java.lang.Long) =>
        lo = math.max(lo, v); hi = math.min(hi, v + 1L)
      case _ => ()
    }
    pushed = accepted
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** Aggregate pushdown (PARTIAL: `supportCompletePushDown` stays false,
    * so Spark plans the final merge over the connector's per-partition
    * pre-aggregated rows — the shape a real source with row-group
    * statistics uses). Accepted: optional GROUP BY bucket, and any mix
    * of COUNT(*) / MIN(id) / MAX(id) / SUM(sq) — each closed-form over
    * a contiguous id interval, so the readers emit O(slices × 16) rows
    * WITHOUT materializing a single base row. Anything else is
    * declined and Spark falls back to a plain scan + its own agg. */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean = false
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    // in default clustered mode the point IS the reported partitioning —
    // an agg-pushdown scan would answer in closed form and lose the
    // KeyGroupedPartitioning the SPJ gate pins, so decline and let
    // Spark aggregate over the clustered scan (exchange-free anyway).
    // With clusterAgg=true the two capabilities COMPOSE (q468): a
    // GROUP BY bucket is accepted and the pushed-agg scan itself keeps
    // reporting KeyGroupedPartitioning over one partial row per bucket
    // — a global (ungrouped) agg is still declined, since it could not
    // preserve the bucket partitioning.
    if (clustered && !clusterAgg) return false
    def isCol(e: org.apache.spark.sql.connector.expressions.Expression,
              name: String): Boolean = e match {
      case r: NamedReference => r.fieldNames.sameElements(Array(name))
      case _ => false
    }
    val grouped = aggregation.groupByExpressions match {
      case Array() if !clustered => Some(false)
      case Array(g) if isCol(g, "bucket") => Some(true)
      case _ => None
    }
    if (grouped.isEmpty) return false
    val specs = aggregation.aggregateExpressions.map {
      case _: CountStar => Some("count")
      case m: Min if isCol(m.column, "id") => Some("min_id")
      case m: Max if isCol(m.column, "id") => Some("max_id")
      case s: Sum if !s.isDistinct && isCol(s.column, "sq") => Some("sum_sq")
      case _ => None
    }
    if (specs.isEmpty || specs.exists(_.isEmpty)) return false
    aggFuncs = Some(specs.map(_.get).toSeq)
    aggGrouped = grouped.get
    true
  }

  override def build(): Scan = aggFuncs match {
    case Some(funcs) if clustered =>
      new GraftRangeClusteredAggScan(math.max(lo, 0L), math.min(hi, n), funcs)
    case Some(funcs) =>
      new GraftRangeAggScan(math.max(lo, 0L), math.min(hi, n), slices,
        aggGrouped, funcs)
    case None if clustered =>
      new GraftRangeClusteredScan(math.max(lo, 0L), math.min(hi, n), required)
    case None =>
      // apply a pushed limit/top-N to the post-filter interval: asc (or
      // plain LIMIT) keeps its first k ids, desc keeps its last k
      val l = math.max(lo, 0L); val h = math.min(hi, n)
      val (nl, nh) = (limitOpt, topNDesc) match {
        case (Some(k), Some(true)) => (math.max(l, h - k), h)
        case (Some(k), _) => (l, math.min(h, l + k))
        case _ => (l, h)
      }
      new GraftRangeScan(nl, nh, slices, required, batchRows,
        pushedLimit = limitOpt, pushedTopNDesc = topNDesc)
  }
}

/** The STORAGE-PARTITIONED scan (`clusterByBucket=true`): one input
  * partition per `bucket` value, each carrying its partition key
  * ([[HasPartitionKey]]), and the scan reports
  * `KeyGroupedPartitioning(identity(bucket), 16)` through
  * [[org.apache.spark.sql.connector.read.SupportsReportPartitioning]].
  * With `spark.sql.sources.v2.bucketing.enabled`, Catalyst converts the
  * report into a physical KeyGroupedPartitioning over the partitions'
  * declared key values, so an equi-join (or aggregate) keyed on
  * `bucket` between two such scans plans with NO Exchange — the
  * storage-partitioned join (SPARK-37377), which is how Iceberg/Delta
  * bucket-partitioned tables join at 100 TB without shuffling either
  * side. All 16 bucket partitions are always planned (empty intervals
  * included), so both join sides expose identical partition-value sets
  * and the co-partition check never needs value back-fill.
  *
  * The clustered scan ALSO implements `SupportsRuntimeFiltering` on
  * `id` (q468): the two capabilities compose, because runtime
  * filtering only narrows WHICH ids each bucket partition generates —
  * the partition-key layout is untouched. Spark's KeyGrouped runtime-
  * filter contract demands the filtered partitions expose the exact
  * same partition-value set ([[planInputPartitions]] always returns
  * all 16 buckets, surviving-id lists attached per bucket, possibly
  * empty), so BatchScanExec keeps the reported partitioning and the
  * SPJ above stays exchange-free while the readers generate only the
  * runtime-surviving ids — an Iceberg scan dropping files at execution
  * inside a storage-partitioned join, the 100 TB composition. */
class GraftRangeClusteredScan(val lo: Long, val hi: Long, protected val required: StructType)
    extends GraftRangeIdFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning => V2KeyGroupedPartitioning, Partitioning}
  /** Real size/row statistics (a fourth composed capability — every
    * serious connector reports them): without these, every V2 scan
    * weighs in at defaultSizeInBytes and the optimizer can neither
    * rank join sides nor justify a dynamic-pruning subquery (the q468
    * benefit estimate compares the pruned side's size against the
    * filtering side's — two unknowns cancel to "no benefit"). */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val rows = math.max(hi - lo, 0L)
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows * 24L) // 2×i64 + i32 + slack
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  override def description(): String = s"graft-range [$lo, $hi) clustered_by=bucket"
  override def outputPartitioning(): Partitioning =
    new V2KeyGroupedPartitioning(
      Array(org.apache.spark.sql.connector.expressions.Expressions.identity("bucket")),
      16)
  override def planInputPartitions(): Array[InputPartition] = runtimeSet match {
    case Some(vals) =>
      // all 16 buckets STAY planned (identical partition-value set, the
      // KeyGrouped runtime-filter contract); each carries only its own
      // surviving ids — empty buckets read zero rows
      (0 until 16).map { b =>
        GraftRangeBucketPartition(b, lo, hi,
          vals.filter(v => (v % 16L).toInt == b)): InputPartition
      }.toArray
    case None =>
      (0 until 16).map(b => GraftRangeBucketPartition(b, lo, hi): InputPartition)
        .toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftRangeReaderFactory(required.fieldNames)
}

/** The pushed-aggregation scan in CLUSTERED mode (`clusterAgg=true`,
  * q468): the GROUP BY bucket partials are answered in closed form AND
  * the scan keeps reporting `KeyGroupedPartitioning(identity(bucket),
  * 16)` — one `HasPartitionKey` partition per bucket emitting that
  * bucket's single pre-aggregated row — so Spark's final merge
  * aggregate runs exchange-free on the storage partitioning, and a
  * bucket-keyed join above it still plans as a storage-partitioned
  * join. This is the three-capability composition a lakehouse
  * connector (Iceberg with bucket partition transforms + min/max
  * stats) serves at 100 TB: nothing row-shaped crosses the scan
  * boundary, nothing shuffles above it. */
class GraftRangeClusteredAggScan(val lo: Long, val hi: Long,
                                 val funcs: Seq[String])
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
  import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning => V2KeyGroupedPartitioning, Partitioning}
  override def readSchema(): StructType = StructType(
    StructField("bucket", IntegerType, nullable = false) +:
      funcs.map(f => StructField(f, LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-range [$lo, $hi) clustered_by=bucket pushed_aggs=${funcs.mkString(",")}"
  override def outputPartitioning(): Partitioning =
    new V2KeyGroupedPartitioning(
      Array(org.apache.spark.sql.connector.expressions.Expressions.identity("bucket")),
      16)
  override def planInputPartitions(): Array[InputPartition] =
    (0 until 16).map(b => GraftRangeBucketPartition(b, lo, hi): InputPartition)
      .toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftRangeClusteredAggReaderFactory(funcs)
}

/** Emits each bucket partition's single closed-form partial row
  * (bucket, partial₁, …) over the ids ≡ bucket (mod 16) in [lo, hi) —
  * an empty bucket interval emits NO row (a zero row would corrupt
  * min/max in Spark's final merge; absent groups are the correct
  * partial-agg shape). */
class GraftRangeClusteredAggReaderFactory(funcs: Seq[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftRangeBucketPartition]
    val first = p.lo + java.lang.Math.floorMod(p.bucket - p.lo, 16L)
    val rows: Iterator[Array[Any]] =
      if (first >= p.hi) Iterator.empty
      else {
        val c = (p.hi - 1 - first) / 16 + 1
        Iterator.single(java.lang.Integer.valueOf(p.bucket) +:
          GraftRangeAggReaderFactory.apAggs(funcs, first, 16L, c))
      }
    GraftRangeAggReaderFactory.rowReader(rows)
  }
}

/** The runtime filter on `id` shared by the graft-range batch scans
  * ([[GraftRangeScan]], [[GraftRangeClusteredScan]]): Spark's
  * dynamic-pruning rule hands [[filter]] the build side's distinct join
  * keys at execution, and the surviving ids in [lo, hi) become
  * [[runtimeSet]] for the scan's partition planning. */
trait GraftRangeIdFiltering extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
  import org.apache.spark.sql.sources.{Filter, In}
  def lo: Long
  def hi: Long
  protected def required: StructType
  /** Runtime-narrowed id set (sorted), observable by plan REQUIREs. */
  @volatile var runtimeSet: Option[Array[Long]] = None
  /** Only advertised while `id` survives column pruning: Spark resolves
    * filterAttributes against the PRUNED scan output, so a scan whose
    * projection dropped `id` (q460's digest sides) must not offer it. */
  override def filterAttributes(): Array[NamedReference] =
    if (required.fieldNames.contains("id"))
      Array(org.apache.spark.sql.connector.expressions.Expressions.column("id"))
    else Array.empty
  override def filter(filters: Array[Filter]): Unit = filters.foreach {
    case In("id", vs) =>
      runtimeSet = Some(vs.collect { case l: java.lang.Long => l.longValue() }
        .filter(v => v >= lo && v < hi).sorted)
    case _ => () // unrecognized runtime filters are safely ignored
  }
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
}

/** Generates ids in [lo, hi) — the post-pushdown interval. Also
  * implements `SupportsRuntimeFiltering` on `id`: when the scan feeds
  * a join whose other side is small and selectively filtered, Spark's
  * dynamic-pruning rule delivers the build side's DISTINCT join keys
  * to [[filter]] AT RUNTIME, and the readers then generate ONLY those
  * ids — the V2 runtime-skipping contract (what dynamic partition
  * pruning is to a partitioned parquet table, and how an Iceberg scan
  * drops files at execution time). Runtime filtering is advisory:
  * Spark still applies the join itself, so an over-narrow push could
  * only lose rows if the connector dropped keys INSIDE the pushed set
  * — q454's oracle hash-gates against that. */
class GraftRangeScan(val lo: Long, val hi: Long, slices: Int,
                     protected val required: StructType, batchRows: Long,
                     val pushedLimit: Option[Int] = None,
                     val pushedTopNDesc: Option[Boolean] = None)
    extends GraftRangeIdFiltering
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  /** `SupportsReportOrdering`: every partition shape this scan plans —
    * contiguous [start, end) ranges, sorted runtime-filter id chunks,
    * and the narrowed top-N interval — emits ids ASCENDING within the
    * partition, so the scan reports `id ASC NULLS FIRST` and Spark's
    * EnsureRequirements elides the redundant local Sort a consumer
    * (sortWithinPartitions, sort-merge join side, single-partition
    * global sort) would otherwise pay. Only advertised while `id`
    * survives column pruning — an ordering on a pruned-away column
    * would not resolve against the scan output. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (required.fieldNames.contains("id"))
      Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column("id"),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
    else Array.empty
  override def description(): String = s"graft-range [$lo, $hi)" +
    pushedLimit.map(k => s" pushed_limit=$k" +
      pushedTopNDesc.map(d => s" order_by_id_${if (d) "desc" else "asc"}")
        .getOrElse("")).getOrElse("")
  override def planInputPartitions(): Array[InputPartition] = runtimeSet match {
    case Some(vals) =>
      // contiguous chunks of the surviving id set, keeping slices-way
      // parallelism over however few ids remain
      if (vals.isEmpty) Array.empty
      else vals.grouped(math.max(1, (vals.length + slices - 1) / slices))
        .zipWithIndex
        .map { case (ids, i) => GraftRangeSetPartition(ids, i): InputPartition }
        .toArray
    case None => GraftRangeSource.slicePartitions(lo, hi, slices)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftRangeReaderFactory(required.fieldNames)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    // both post-pushdown bounds flow into the stream: offsets start at
    // `lo`, admission stops at `hi` — a pushed id-range (were Spark ever
    // to push filters into a micro-batch scan) streams exactly [lo, hi)
    new GraftRangeMicroBatchStream(lo, hi, slices, batchRows)
}

/** Micro-batch streaming read of the same generator: offsets are row
  * counts in [lo, hi), each trigger admits up to `batchRows` more ids
  * ([committed, hwm)), and each batch re-splits its range into `slices`
  * input partitions. The offset log is the integer high-water mark —
  * restart replays [lastCommitted, hwm) exactly, so the source is
  * replayable the way the V2 streaming contract requires: the in-memory
  * hwm RE-SEEDS from every offset the checkpoint log hands back
  * (`deserializeOffset`/`commit` advance it monotonically), so a
  * restarted query resumes past its committed ranges instead of
  * re-admitting them from `lo`. Admission control lives in
  * `latestOffset` (the rate-limit shape a real queue source uses). */
class GraftRangeMicroBatchStream(lo: Long, hi: Long, slices: Int, batchRows: Long)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxRows}
  private val hwm = new java.util.concurrent.atomic.AtomicLong(lo)
  /** Monotonic advance: hwm = max(hwm, v). */
  private def seed(v: Long): Unit = {
    var cur = hwm.get()
    while (v > cur && !hwm.compareAndSet(cur, v)) cur = hwm.get()
  }
  override def initialOffset(): Offset = GraftRangeOffset(lo)
  override def latestOffset(): Offset = {
    val cur = hwm.get()
    seed(math.min(math.max(cur, lo) + batchRows, hi))
    GraftRangeOffset(hwm.get())
  }

  // ---- admission control + Trigger.AvailableNow ----
  // With SupportsAdmissionControl, the engine asks for each batch's end
  // through latestOffset(start, limit) under the source's default read
  // limit (maxRows = batchRows, the same per-trigger admission the
  // no-arg path applies). SupportsTriggerAvailableNow then makes
  // AvailableNow a MULTI-BATCH drain: prepare...() snapshots the
  // currently-available end (`hi` — the generator's data is all
  // "available now"), and the engine keeps running batchRows-sized
  // batches until the stream reaches that snapshot, then stops — the
  // run-to-completion-and-exit shape a backfill/restart job uses
  // (q465 drives it across two sessions sharing one checkpoint).
  @volatile private var availableNowEnd: Long = -1L
  override def prepareForTriggerAvailableNow(): Unit = availableNowEnd = hi
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(batchRows)
  override def reportLatestOffset(): Offset = GraftRangeOffset(hi)
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cap = if (availableNowEnd >= 0) math.min(availableNowEnd, hi) else hi
    val cur = math.max(math.max(hwm.get(), start.asInstanceOf[GraftRangeOffset].v), lo)
    val next = limit match {
      case r: ReadMaxRows => math.min(cur + r.maxRows(), cap)
      case _ => cap // allAvailable (and anything row-uncountable): drain
    }
    seed(next)
    GraftRangeOffset(hwm.get())
  }
  override def deserializeOffset(json: String): Offset = {
    val v = json.trim.toLong
    seed(v) // checkpoint restart: never re-plan below a logged offset
    GraftRangeOffset(v)
  }
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    GraftRangeSource.slicePartitions(
      start.asInstanceOf[GraftRangeOffset].v,
      end.asInstanceOf[GraftRangeOffset].v, slices)
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftRangeReaderFactory(GraftRangeSource.schema.fieldNames)
  override def commit(end: Offset): Unit =
    seed(end.asInstanceOf[GraftRangeOffset].v)
  override def stop(): Unit = ()
}

case class GraftRangeOffset(v: Long) extends Offset {
  override def json: String = v.toString
}

/** The pushed-aggregation scan: emits per-partition PRE-AGGREGATED rows
  * — (bucket?, partial₁, partial₂, …) in the exact positional order
  * V2ScanRelationPushDown expects (group-by columns first, then one
  * column per aggregate function) — computed in closed form over the
  * partition's contiguous id interval. No base row ever crosses the
  * scan boundary: COUNT/MIN/MAX over an arithmetic progression are
  * direct formulas and SUM(id²) is the square-pyramid partial sum, so
  * the "scan" is O(slices × 16) arithmetic regardless of n. */
class GraftRangeAggScan(val lo: Long, val hi: Long, slices: Int,
                        val grouped: Boolean, val funcs: Seq[String])
    extends Scan with Batch {
  override def readSchema(): StructType = {
    val aggFields = funcs.map(f => StructField(f, LongType, nullable = false))
    StructType(
      (if (grouped) Seq(StructField("bucket", IntegerType, nullable = false))
       else Seq.empty) ++ aggFields)
  }
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-range [$lo, $hi) pushed_aggs=${funcs.mkString(",")}" +
      (if (grouped) " group_by=bucket" else "")
  override def planInputPartitions(): Array[InputPartition] =
    GraftRangeSource.slicePartitions(lo, hi, slices)
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftRangeAggReaderFactory(grouped, funcs)
}

object GraftRangeAggReaderFactory {
  /** Arithmetic-progression partials over ids first, first+step, …
    * (c terms): count, min, max, and Σ id² = c·a² + 2·a·step·Σj +
    * step²·Σj² with Σj = c(c-1)/2, Σj² = (c-1)c(2c-1)/6 — exact int64
    * at the gated n. Shared by the sliced ([[GraftRangeAggScan]]) and
    * clustered ([[GraftRangeClusteredAggScan]]) pushed-agg readers. */
  def apAggs(funcs: Seq[String], first: Long, step: Long, c: Long): Array[Any] = {
    val last = first + step * (c - 1)
    val sj = c * (c - 1) / 2
    val sj2 = (c - 1) * c * (2 * c - 1) / 6
    val sumSq = c * first * first + 2 * first * step * sj + step * step * sj2
    funcs.map[Any] {
      case "count" => java.lang.Long.valueOf(c)
      case "min_id" => java.lang.Long.valueOf(first)
      case "max_id" => java.lang.Long.valueOf(last)
      case "sum_sq" => java.lang.Long.valueOf(sumSq)
    }.toArray
  }

  /** A reader over precomputed aggregate rows: the sliced
    * ([[GraftRangeAggReaderFactory]]) and clustered
    * ([[GraftRangeClusteredAggReaderFactory]]) pushed-agg readers. */
  def rowReader(rows: Iterator[Array[Any]]): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var cur: Array[Any] = _
      override def next(): Boolean = {
        if (!rows.hasNext) return false
        cur = rows.next(); true
      }
      override def get(): InternalRow = new GenericInternalRow(cur)
      override def close(): Unit = ()
    }
}

class GraftRangeAggReaderFactory(grouped: Boolean, funcs: Seq[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftRangePartition]
    def apRow(bucket: Int, first: Long, step: Long, c: Long): Array[Any] = {
      val aggs = GraftRangeAggReaderFactory.apAggs(funcs, first, step, c)
      if (grouped) java.lang.Integer.valueOf(bucket) +: aggs else aggs
    }
    val rows: Iterator[Array[Any]] =
      if (p.end <= p.start) Iterator.empty
      else if (grouped) (0 until 16).iterator.flatMap { b =>
        val first = p.start + java.lang.Math.floorMod(b - p.start, 16L)
        if (first >= p.end) Iterator.empty
        else Iterator.single(apRow(b, first, 16L, (p.end - 1 - first) / 16 + 1))
      }
      else Iterator.single(apRow(0, p.start, 1L, p.end - p.start))
    GraftRangeAggReaderFactory.rowReader(rows)
  }
}

case class GraftRangePartition(start: Long, end: Long, slice: Int = 0)
    extends InputPartition

/** An explicit surviving-id chunk (runtime-filtered scan). */
case class GraftRangeSetPartition(ids: Array[Long], slice: Int = 0)
    extends InputPartition

/** One bucket's rows of [lo, hi) — ids ≡ bucket (mod 16), declared as
  * the partition's key so BatchScanExec can build the physical
  * KeyGroupedPartitioning for storage-partitioned joins. A non-null
  * `ids` array (the runtime-filtered clustered scan) replaces the
  * generated interval with the explicit surviving ids of THIS bucket
  * (possibly empty — the partition must still exist so the filtered
  * scan exposes the identical partition-value set). */
case class GraftRangeBucketPartition(bucket: Int, lo: Long, hi: Long,
                                     ids: Array[Long] = null)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](java.lang.Integer.valueOf(bucket)))
}

class GraftRangeReaderFactory(fields: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val (iter: Iterator[Long], slice: Int) = partition match {
      case GraftRangePartition(start, end, sl) => (Iterator.range(start, end), sl)
      case GraftRangeSetPartition(ids, sl) => (ids.iterator, sl)
      case GraftRangeBucketPartition(b, lo, hi, ids) =>
        if (ids != null) (ids.iterator, b)
        else {
          val first = lo + java.lang.Math.floorMod(b - lo, 16L)
          (Iterator.iterate(first)(_ + 16L).takeWhile(_ < hi), b)
        }
    }
    new PartitionReader[InternalRow] {
      private var cur = 0L
      override def next(): Boolean = {
        if (!iter.hasNext) return false
        cur = iter.next(); true
      }
      override def get(): InternalRow = {
        // materialize ONLY the pruned columns, in the pruned order
        // (including a requested `_slice` metadata column)
        val vals = fields.map {
          case "id" => java.lang.Long.valueOf(cur)
          case "sq" => java.lang.Long.valueOf(cur * cur)
          case "bucket" => java.lang.Integer.valueOf((cur % 16L).toInt)
          case GraftRangeSource.sliceMetaCol => java.lang.Integer.valueOf(slice)
        }
        new GenericInternalRow(vals.asInstanceOf[Array[Any]])
      }
      override def close(): Unit = ()
    }
  }
}
