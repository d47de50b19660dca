package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 WRITE path — the sink half of the connector surface
  * ([[GraftRangeSource]] is the read half): an in-memory table store
  * (`graft-mem`) exercising the full V2 write contract — `SupportsWrite`
  * → `WriteBuilder` → `BatchWrite` → serializable `DataWriterFactory` →
  * per-partition `DataWriter`s whose buffered rows travel back through
  * `WriterCommitMessage`s and become visible ONLY at `commit` (the
  * transactional all-or-nothing shape every real V2 sink implements;
  * `abort` drops the messages and the table never sees partial data).
  * Read-back goes through the same store as a V2 `Batch` scan, so a
  * write→read roundtrip exercises both directions of the API.
  *
  * The store itself is a JVM-local map — the point is the CONTRACT
  * (planner-visible V2 write + scan nodes, partition-parallel writers,
  * commit-time atomicity), not durability; a production sink swaps the
  * map for its client and keeps every override identical.
  */
class GraftMemSink extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-mem"
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.containsKey("changesFrom"))
      GraftMemStore.schemaOf(options.get("table"))
        .add("_change_type", org.apache.spark.sql.types.StringType, nullable = false)
    else GraftMemStore.schemaOf(options.get("table"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    // changesFrom/changesTo: the CDC read (Delta readChangeFeed shape);
    // versionAsOf: the DataFrame-reader route to the same snapshot pin
    // SQL's VERSION AS OF takes through the catalog
    if (properties.containsKey("changesFrom")) {
      val tbl = properties.get("table")
      val from = properties.get("changesFrom").toInt
      val to = Option(properties.get("changesTo")).map(_.toInt)
        .getOrElse(GraftMemStore.currentVersion(tbl))
      new GraftMemChangesTable(tbl, GraftMemStore.schemaOf(tbl), from, to)
    } else
      new GraftMemTable(properties.get("table"), schema,
        Option(properties.get("versionAsOf")).map(_.toInt))
}

/** JVM-local table store: name → (schema, committed rows), plus a
  * commit JOURNAL — one record per `BatchWrite.commit` with the commit
  * kind, the delete-filter description, and the deleted/inserted row
  * counts. The journal is what lets a gate prove "insert + update +
  * untouched keys in ONE commit" from the store's own history (q450)
  * instead of trusting the plan. */
object GraftMemStore {
  /** Eviction bound: the store keeps at most this many tables, dropping
    * the LEAST-RECENTLY-ACCESSED table (and its journal) when a new one
    * would exceed the cap — access order, not creation order, so a
    * long-lived table an in-flight gate is still reading (appends,
    * scans, journal checks all touch it) cannot be evicted out from
    * under it by a burst of newer one-shot tables. Every eviction is
    * logged to stderr so an 'unknown table' failure downstream is
    * traceable to its cause. The gates create one uniquely-named table
    * per run, so an unbounded map would leak for the lifetime of a
    * long-lived JVM; 256 is far above any single run's live-table
    * count while keeping the store bounded forever. */
  private val maxTables = 256
  /** All store + journal state mutates under this ONE monitor: every
    * commit's table mutation and its journal append are a single
    * atomic step, so concurrent writers can never observe (or produce)
    * a journal order that diverges from table state. The store is a
    * driver-local test sink — one uncontended lock per COMMIT (not per
    * row; rows buffer in per-task DataWriters) is noise. */
  private val tables = // accessOrder = true: get() refreshes recency
    new java.util.LinkedHashMap[String, (StructType, Array[InternalRow])](
      16, 0.75f, true)
  private val journal =
    new java.util.HashMap[String, List[CommitRecord]]()
  /** SNAPSHOT history (the time-travel surface): name → ascending
    * `(version, rows)` pairs, where version v is the table state AFTER
    * the v-th journaled commit (version 0 = empty at creation) — the
    * Iceberg/Delta snapshot model with the commit sequence number as
    * the snapshot id (wall-clock timestamps would break the engine's
    * determinism discipline, so snapshots are addressed by version
    * only). Rows arrays are immutable once committed, so a snapshot is
    * a cheap extra reference, not a copy. [[expireSnapshots]] is the
    * retention knob: it drops the oldest entries exactly the way
    * `expire_snapshots` does, after which a pinned read of a dropped
    * version fails loudly while retained versions keep reading. */
  private val snapshots =
    new java.util.HashMap[String, Vector[(Int, Array[InternalRow])]]()
  /** Record the CURRENT state as the snapshot for the just-journaled
    * commit; call under the monitor after the table mutation and its
    * logCommit. */
  private def recordSnapshot(name: String): Unit = {
    val v = journal.getOrDefault(name, Nil).length
    val rows = tables.get(name)._2
    snapshots.merge(name, Vector(v -> rows), (old, add) => old ++ add)
  }

  /** One committed write: kind ∈ {append, overwrite}, the filter set an
    * overwrite deleted by, and the row movement it caused. */
  case class CommitRecord(kind: String, filters: String, deleted: Int, inserted: Int)
  private def logCommit(name: String, rec: CommitRecord): Unit =
    journal.merge(name, List(rec), (old, add) => old ++ add)
  def commitsOf(name: String): List[CommitRecord] = synchronized {
    journal.getOrDefault(name, Nil)
  }

  /** LRU eviction of the tables beyond [[maxTables]] (the map is
    * access-ordered, so the head IS the least-recently-touched table);
    * call under the monitor after any insert. Logged: a later 'unknown
    * table' failure must be attributable to eviction, not mystery. */
  private def evictOverflow(): Unit =
    while (tables.size() > maxTables) {
      val eldest = tables.keySet().iterator().next()
      tables.remove(eldest)
      journal.remove(eldest)
      snapshots.remove(eldest)
      System.err.println(
        s"[graft-mem] evicted least-recently-used table '$eldest' " +
          s"(store cap $maxTables)")
    }

  def exists(name: String): Boolean = synchronized { tables.containsKey(name) }
  def create(name: String, schema: StructType): Unit = synchronized {
    require(!tables.containsKey(name), s"graft-mem: table '$name' already exists")
    tables.put(name, (schema, Array.empty[InternalRow]))
    recordSnapshot(name)
    evictOverflow()
  }
  def drop(name: String): Boolean = synchronized {
    journal.remove(name)
    snapshots.remove(name)
    tables.remove(name) != null
  }
  def schemaOf(name: String): StructType = synchronized {
    val t = tables.get(name)
    require(t != null, s"graft-mem: unknown table '$name'")
    t._1
  }
  /** Pad pre-evolution rows (written before an ADD COLUMN) to the
    * current schema arity — added columns read NULL for old rows, the
    * Iceberg read-time semantics (old data files simply lack the
    * column). Post-evolution rows pass through untouched. */
  private def padded(schema: StructType, rows: Array[InternalRow]): Array[InternalRow] =
    rows.map { r =>
      if (r.numFields == schema.length) r
      else {
        val vals = new Array[Any](schema.length)
        var i = 0
        while (i < r.numFields) { vals(i) = r.get(i, schema(i).dataType); i += 1 }
        new GenericInternalRow(vals): InternalRow
      }
    }

  def rowsOf(name: String): Array[InternalRow] = synchronized {
    val t = tables.get(name)
    require(t != null, s"graft-mem: unknown table '$name'")
    padded(t._1, t._2)
  }

  /** Schema evolution (ADD COLUMN): the new column must be nullable —
    * existing rows read NULL for it (enforced here because the padded
    * read has no other value to give them). The change is journaled
    * and snapshotted like a data commit, but moves no rows: the CDC
    * diff across it is empty, and time-travel reads of PRE-evolution
    * snapshots use the current schema with NULL for the new column —
    * both the Iceberg behavior. */
  def addColumn(name: String, field: org.apache.spark.sql.types.StructField): Unit =
    synchronized {
      val old = tables.get(name)
      require(old != null, s"graft-mem: unknown table '$name'")
      require(field.nullable,
        s"graft-mem: added column '${field.name}' must be nullable — " +
          "existing rows read NULL for it")
      require(!old._1.fieldNames.contains(field.name),
        s"graft-mem: table '$name' already has a column '${field.name}'")
      tables.put(name, (old._1.add(field), old._2))
      logCommit(name, CommitRecord("add_column",
        s"${field.name}:${field.dataType.simpleString}", 0, 0))
      recordSnapshot(name)
    }
  /** Current version = number of journaled commits (snapshot ids are
    * the commit sequence). */
  def currentVersion(name: String): Int = synchronized {
    require(tables.containsKey(name), s"graft-mem: unknown table '$name'")
    journal.getOrDefault(name, Nil).length
  }
  /** Rows at a pinned snapshot version; fails loudly when the version
    * was expired (or never existed) — a time-travel read must never
    * silently fall back to another state. */
  def rowsAt(name: String, version: Int): Array[InternalRow] = synchronized {
    require(tables.containsKey(name), s"graft-mem: unknown table '$name'")
    val hist = snapshots.getOrDefault(name, Vector.empty)
    val rows = hist.find(_._1 == version).map(_._2).getOrElse(
      throw new IllegalArgumentException(
        s"graft-mem: table '$name' has no snapshot at version $version " +
          s"(retained versions: ${hist.map(_._1).mkString(", ")}) — " +
          "expired or never committed"))
    // pre-evolution snapshots read with the CURRENT schema, NULL for
    // since-added columns (Iceberg time-travel + evolution semantics)
    padded(tables.get(name)._1, rows)
  }
  /** Snapshot retention: keep only the newest `keepLast` snapshots
    * (the current state always survives — it is the newest snapshot by
    * construction). Returns the number of snapshots dropped. */
  def expireSnapshots(name: String, keepLast: Int): Int = synchronized {
    require(keepLast >= 1, "graft-mem: expireSnapshots must keep at least 1")
    val hist = snapshots.getOrDefault(name, Vector.empty)
    val keep = hist.takeRight(keepLast)
    snapshots.put(name, keep)
    hist.length - keep.length
  }
  def retainedVersions(name: String): Seq[Int] = synchronized {
    snapshots.getOrDefault(name, Vector.empty).map(_._1)
  }

  /** CDC between two retained snapshots (the Delta readChangeFeed /
    * Iceberg incremental-scan shape): the MULTISET diff of the two row
    * sets — rows gaining multiplicity are `insert`s, rows losing it are
    * `delete`s (an upsert therefore shows as delete-of-old +
    * insert-of-new, which is what a downstream incremental consumer
    * must apply). Diffing needs value equality, so only atomic column
    * types are accepted — a nested type fails loudly rather than
    * diffing by reference. Both endpoint versions must be retained
    * ([[rowsAt]] enforces), so expiry bounds how far back a consumer
    * can fall behind — exactly Delta's CDC-retention contract. */
  def changesBetween(name: String, fromV: Int, toV: Int): Array[(InternalRow, String)] =
    synchronized {
      require(fromV <= toV,
        s"graft-mem: changesBetween needs fromVersion <= toVersion, got $fromV > $toV")
      val schema = schemaOf(name)
      schema.fields.foreach { f =>
        require(f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
            f.dataType == org.apache.spark.sql.types.StringType ||
            f.dataType == org.apache.spark.sql.types.BooleanType ||
            f.dataType == org.apache.spark.sql.types.DateType ||
            f.dataType == org.apache.spark.sql.types.TimestampType,
          s"graft-mem: CDC diff needs value-comparable atomic columns; " +
            s"'${f.name}' is ${f.dataType.simpleString}")
      }
      // UTF8String / boxed primitives have value-based equals+hashCode,
      // so the row's value Seq is a usable multiset key
      def counts(rows: Array[InternalRow]): Map[Seq[Any], (Int, InternalRow)] =
        rows.groupBy(_.toSeq(schema)).map { case (k, rs) => k -> (rs.length, rs.head) }
      val from = counts(rowsAt(name, fromV))
      val to = counts(rowsAt(name, toV))
      val out = scala.collection.mutable.ArrayBuffer.empty[(InternalRow, String)]
      (from.keySet ++ to.keySet).foreach { k =>
        val (nf, nt) = (from.get(k).map(_._1).getOrElse(0), to.get(k).map(_._1).getOrElse(0))
        val row = to.get(k).orElse(from.get(k)).get._2
        if (nt > nf) (1 to nt - nf).foreach(_ => out += ((row, "insert")))
        else if (nf > nt) (1 to nf - nt).foreach(_ => out += ((row, "delete")))
      }
      out.toArray
    }
  def append(name: String, schema: StructType, rows: Array[InternalRow]): Unit =
    synchronized {
      val old = tables.get(name)
      if (old == null) tables.put(name, (schema, rows))
      else tables.put(name, (old._1, old._2 ++ rows))
      logCommit(name, CommitRecord("append", "", 0, rows.length))
      recordSnapshot(name)
      evictOverflow()
    }

  /** Metadata delete (`SupportsDelete.deleteWhere`): remove rows
    * matching the predicate in one journaled store mutation. */
  def delete(name: String, pred: InternalRow => Boolean, filtersDesc: String): Unit =
    synchronized {
      val old = tables.get(name)
      require(old != null, s"graft-mem: unknown table '$name'")
      val kept = old._2.filterNot(pred)
      tables.put(name, (old._1, kept))
      logCommit(name, CommitRecord("delete", filtersDesc,
        old._2.length - kept.length, 0))
      recordSnapshot(name)
    }

  /** Truncate-by-filter + insert, ATOMICALLY under one store mutation:
    * rows matching `delete` leave, `rows` enter, everything else is
    * untouched — the V2 `OverwriteByExpression` contract (and, with a
    * key-membership filter, exactly a MERGE-style keyed upsert). */
  def overwrite(name: String, schema: StructType, delete: InternalRow => Boolean,
                filtersDesc: String, rows: Array[InternalRow]): Unit =
    synchronized {
      val old = tables.get(name)
      if (old == null) {
        // overwrite of an absent table = plain insert
        tables.put(name, (schema, rows))
        logCommit(name, CommitRecord("overwrite", filtersDesc, 0, rows.length))
      } else {
        val kept = old._2.filterNot(delete)
        tables.put(name, (old._1, kept ++ rows))
        logCommit(name, CommitRecord("overwrite", filtersDesc,
          old._2.length - kept.length, rows.length))
      }
      recordSnapshot(name)
      evictOverflow()
    }
}

/** @param asOfVersion when set, the table is a READ-ONLY pin of one
  *   snapshot: scans read [[GraftMemStore.rowsAt]] (failing loudly on
  *   an expired version at execution) and every write surface refuses —
  *   the `VERSION AS OF` contract (Iceberg/Delta time travel). */
class GraftMemTable(tableName: String, tableSchema: StructType,
                    asOfVersion: Option[Int] = None)
    extends Table with SupportsWrite with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String =
    s"graft_mem($tableName${asOfVersion.map(v => s"@v$v").getOrElse("")})"
  override def schema(): StructType = tableSchema
  private def refuseSnapshotWrite(): Unit =
    asOfVersion.foreach { v =>
      throw new UnsupportedOperationException(
        s"graft-mem: table '$tableName' VERSION AS OF $v is a read-only " +
          "snapshot — writes must target the current table")
    }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.TRUNCATE)

  /** GROUP-BASED row-level operations (`MERGE INTO` / row-level UPDATE;
    * DELETE keeps preferring the metadata path — Spark's
    * OptimizeMetadataOnlyDeleteFromTable swaps the row-level plan back
    * to [[deleteWhere]] whenever canDeleteWhere accepts, which q456's
    * journal REQUIRE pins). The group here is the WHOLE table — the
    * in-memory analogue of a copy-on-write file group: Spark's
    * ReplaceData plan reads the table through [[newScanBuilder]],
    * computes carried + merged rows, and writes the full survivor set
    * back through this operation's WriteBuilder, which commits as ONE
    * atomic truncate+insert (journaled as `replace_merge`/
    * `replace_update`, so a gate can prove update+insert+carry-over
    * landed in one commit from the store's own history). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    refuseSnapshotWrite()
    import org.apache.spark.sql.connector.write.{LogicalWriteInfo => LWI, RowLevelOperation => RLO, RowLevelOperationBuilder => RLOB, Write => V2Write, WriteBuilder => WB, BatchWrite => BW, DataWriterFactory => DWF, PhysicalWriteInfo => PWI, WriterCommitMessage => WCM}
    new RLOB {
      override def build(): RLO = new RLO {
        override def command(): RLO.Command = info.command()
        override def description(): String =
          s"graft-mem group-based ${info.command()} (whole-table group)"
        override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
          GraftMemTable.this.newScanBuilder(options)
        override def newWriteBuilder(lwi: LWI): WB = new WB {
          override def build(): V2Write = new V2Write {
            override def toBatch: BW = new BW {
              override def createBatchWriterFactory(i: PWI): DWF =
                // NOT the plain factory: the rewrite hands writers a
                // ProjectingInternalRow VIEW over a wider operation row
                // (data columns + the __row_id column), and that
                // view's copy() returns the UNDERLYING wide row — the
                // writer must materialize field-by-field through the
                // view against the write schema
                new GraftMemProjectingWriterFactory(lwi.schema())
              override def commit(messages: Array[WCM]): Unit = {
                // writer rows are already materialized in write-schema
                // order; re-order to the table schema by name (they
                // match here, but a connector must not assume it)
                val ws = lwi.schema()
                val idx = tableSchema.fields.map { f =>
                  require(ws.fieldNames.contains(f.name),
                    s"graft-mem row-level write lost column '${f.name}': $ws")
                  (ws.fieldIndex(f.name), f.dataType)
                }
                val rows = messages.flatMap {
                  case GraftMemCommit(rs) => rs
                  case _ => Array.empty[InternalRow]
                }.map { r =>
                  new GenericInternalRow(
                    idx.map { case (i, dt) => r.get(i, dt) }.toArray[Any])
                    : InternalRow
                }
                GraftMemStore.overwrite(tableName, tableSchema, _ => true,
                  s"replace_${info.command().toString.toLowerCase}", rows)
              }
              override def abort(messages: Array[WCM]): Unit = ()
            }
          }
        }
      }
    }
  }

  /** V2 metadata delete (`DELETE FROM graftmem.t WHERE …`): accept only
    * filter shapes [[compileFilter]] evaluates exactly; anything else
    * refuses via canDeleteWhere and Spark raises (a connector silently
    * widening a delete predicate would corrupt the table). */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    // NonFatal, not just UnsupportedOperationException: compileFilter
    // can also throw IllegalArgumentException (StructType.fieldIndex on
    // an unknown/nested attribute) — ANY compile failure must refuse
    // the delete cleanly instead of escaping canDeleteWhere
    try { filters.foreach(compileFilter); true }
    catch { case scala.util.control.NonFatal(_) => false }
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    refuseSnapshotWrite()
    val preds = filters.map(compileFilter)
    GraftMemStore.delete(tableName,
      row => preds.forall(_(row)), filters.map(_.toString).sorted.mkString(" AND "))
  }

  /** Compile the pushed V2 delete filters to an InternalRow predicate.
    * Supported: AlwaysTrue (truncate), EqualTo / In on a top-level
    * column, and And/Or/Not over those — the membership shapes a keyed
    * upsert's delete condition takes. Anything else REFUSES the write
    * (silently dropping a delete filter would corrupt the table). */
  private def compileFilter(f: org.apache.spark.sql.sources.Filter): InternalRow => Boolean = {
    import org.apache.spark.sql.sources._
    def fieldIdx(attr: String): Int = {
      val i = tableSchema.fieldIndex(attr)
      i
    }
    def catVal(v: Any): Any =
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToCatalyst(v)
    def get(row: InternalRow, attr: String): Any = {
      val i = fieldIdx(attr)
      row.get(i, tableSchema(i).dataType)
    }
    f match {
      case AlwaysTrue() => _ => true
      case AlwaysFalse() => _ => false
      case EqualTo(a, v) =>
        val cv = catVal(v); row => { val x = get(row, a); x != null && x == cv }
      case In(a, vs) =>
        val cvs = vs.map(catVal).toSet
        row => { val x = get(row, a); x != null && cvs.contains(x) }
      case And(l, r) =>
        val (pl, pr) = (compileFilter(l), compileFilter(r)); row => pl(row) && pr(row)
      case Or(l, r) =>
        val (pl, pr) = (compileFilter(l), compileFilter(r)); row => pl(row) || pr(row)
      case Not(c) => val p = compileFilter(c); row => !p(row)
      case other =>
        throw new UnsupportedOperationException(
          s"graft-mem: unsupported delete filter $other")
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    refuseSnapshotWrite()
    new WriteBuilder with SupportsOverwrite {
      // None = append; Some(filters) = truncate-by-filter + insert
      private var deleteFilters: Option[Array[org.apache.spark.sql.sources.Filter]] = None
      override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
        deleteFilters = Some(filters); this
      }
      override def truncate(): WriteBuilder =
        overwrite(Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.AlwaysTrue()))
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(i: PhysicalWriteInfo): DataWriterFactory =
            new GraftMemWriterFactory
          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            val rows = messages.flatMap {
              case GraftMemCommit(rs) => rs
              case _ => Array.empty[InternalRow]
            }
            deleteFilters match {
              case None => GraftMemStore.append(tableName, info.schema(), rows)
              case Some(fs) =>
                val preds = fs.map(compileFilter)
                // V2 semantics: delete rows matching the CONJUNCTION
                val pred: InternalRow => Boolean = row => preds.forall(_(row))
                GraftMemStore.overwrite(tableName, info.schema(), pred,
                  fs.map(_.toString).sorted.mkString(" AND "), rows)
            }
          }
          override def abort(messages: Array[WriterCommitMessage]): Unit = ()
        }
      }
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): StructType = tableSchema
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] =
          Array(GraftMemPartition(asOfVersion match {
            case Some(v) => GraftMemStore.rowsAt(tableName, v)
            case None => GraftMemStore.rowsOf(tableName)
          }))
        override def createReaderFactory(): PartitionReaderFactory =
          new PartitionReaderFactory {
            override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
              val rows = p.asInstanceOf[GraftMemPartition].rows
              new PartitionReader[InternalRow] {
                private var i = -1
                override def next(): Boolean = { i += 1; i < rows.length }
                override def get(): InternalRow = rows(i)
                override def close(): Unit = ()
              }
            }
          }
      }
    }
}

private[sources] object GraftMemChanges {
  /** [[GraftMemStore.changesBetween]] materialized as output rows: the
    * base columns plus the trailing `_change_type` string. */
  def changeRows(tableName: String, baseSchema: StructType,
                 fromV: Int, toV: Int): Array[InternalRow] =
    GraftMemStore.changesBetween(tableName, fromV, toV)
      .map { case (r, kind) =>
        val vals = new Array[Any](baseSchema.length + 1)
        var i = 0
        while (i < baseSchema.length) {
          vals(i) = r.get(i, baseSchema(i).dataType); i += 1
        }
        vals(baseSchema.length) =
          org.apache.spark.unsafe.types.UTF8String.fromString(kind)
        new GenericInternalRow(vals): InternalRow
      }

  val readerFactory: PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val rows = p.asInstanceOf[GraftMemPartition].rows
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < rows.length }
        override def get(): InternalRow = rows(i)
        override def close(): Unit = ()
      }
    }
  }
}

/** Read-only CDC table over [[GraftMemStore.changesBetween]]: the base
  * schema plus a `_change_type` column ('insert' | 'delete'). The diff
  * is computed at scan planning, so an expired endpoint version fails
  * the read exactly like an expired time-travel pin.
  *
  * Also a STREAMING source (`readStream` — the Delta streaming-source
  * shape): offsets are COMMIT VERSIONS, each micro-batch admits one
  * version's change set (per-commit batches, so the feed a consumer
  * sees is the commit history, not a trigger-timing-dependent merge),
  * and a checkpoint restart resumes from the logged version. The batch
  * `changesTo` bound is ignored by the stream — a tail has no end. */
class GraftMemChangesTable(tableName: String, baseSchema: StructType,
                           fromV: Int, toV: Int)
    extends Table with SupportsRead {
  private val outSchema = baseSchema.add("_change_type",
    org.apache.spark.sql.types.StringType, nullable = false)
  override def name(): String = s"graft_mem($tableName@changes[$fromV,$toV])"
  override def schema(): StructType = outSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): StructType = outSchema
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] =
          Array(GraftMemPartition(
            GraftMemChanges.changeRows(tableName, baseSchema, fromV, toV)))
        override def createReaderFactory(): PartitionReaderFactory =
          GraftMemChanges.readerFactory
        override def toMicroBatchStream(checkpointLocation: String)
            : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
          new GraftMemCdcMicroBatchStream(tableName, baseSchema, fromV)
      }
    }
}

/** Streaming CDC tail: the offset log is the commit version; admission
  * is ONE VERSION PER BATCH (so batches align with commits
  * deterministically, independent of trigger timing), AvailableNow
  * snapshots the current version and drains commit-by-commit up to it,
  * and `deserializeOffset` re-seeds the in-memory high-water mark so a
  * restart resumes past the committed versions (the replayability the
  * V2 streaming contract requires — same discipline as
  * [[GraftRangeMicroBatchStream]]). */
class GraftMemCdcMicroBatchStream(tableName: String, baseSchema: StructType,
                                  fromV: Int)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.ReadLimit
  private val hwm = new java.util.concurrent.atomic.AtomicInteger(fromV)
  private def seed(v: Int): Unit = {
    var cur = hwm.get()
    while (v > cur && !hwm.compareAndSet(cur, v)) cur = hwm.get()
  }
  @volatile private var availableNowEnd: Int = -1
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = GraftMemStore.currentVersion(tableName)
  override def initialOffset(): Offset = GraftMemVersionOffset(fromV)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(1L)
  override def reportLatestOffset(): Offset =
    GraftMemVersionOffset(GraftMemStore.currentVersion(tableName))
  private def nextEnd(startV: Int): Int = {
    val current = GraftMemStore.currentVersion(tableName)
    val cap = if (availableNowEnd >= 0) math.min(availableNowEnd, current) else current
    math.min(math.max(startV, hwm.get()) + 1, math.max(cap, startV))
  }
  override def latestOffset(): Offset = {
    seed(nextEnd(hwm.get())); GraftMemVersionOffset(hwm.get())
  }
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    // one version per batch regardless of the limit shape: commit
    // alignment is the determinism contract, not a rate suggestion
    seed(nextEnd(start.asInstanceOf[GraftMemVersionOffset].v))
    GraftMemVersionOffset(hwm.get())
  }
  override def deserializeOffset(json: String): Offset = {
    val v = json.trim.toInt
    seed(v)
    GraftMemVersionOffset(v)
  }
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[GraftMemVersionOffset].v,
      end.asInstanceOf[GraftMemVersionOffset].v)
    if (e <= s) Array.empty
    else Array(GraftMemPartition(
      GraftMemChanges.changeRows(tableName, baseSchema, s, e)))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    GraftMemChanges.readerFactory
  override def commit(end: Offset): Unit =
    seed(end.asInstanceOf[GraftMemVersionOffset].v)
  override def stop(): Unit = ()
}

case class GraftMemVersionOffset(v: Int) extends Offset {
  override def json: String = v.toString
}

case class GraftMemPartition(rows: Array[InternalRow]) extends InputPartition

case class GraftMemCommit(rows: Array[InternalRow]) extends WriterCommitMessage

/** `TableCatalog` doorway over the same store — the SIXTH Catalyst
  * extension surface (after codegen Expressions, native aggregates, a
  * SparkStrategy, an optimizer Rule, and the DSv2 read/write
  * connector): registered as `spark.sql.catalog.graftmem`, it lets the
  * V2 DataFrameWriter address store tables by identifier, which is the
  * ONLY route to `writeTo(...).overwrite(condition)` — the
  * `OverwriteByExpression` plan whose delete filters reach
  * [[GraftMemTable]]'s `SupportsOverwrite` as a keyed upsert (q450).
  * Namespaces are ignored: the store is flat, like most embedded
  * catalogs' default namespace. */
class GraftMemCatalog extends org.apache.spark.sql.connector.catalog.TableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
  private var catalogName: String = "graftmem"

  /** FunctionCatalog half (the seventh extension surface — see
    * [[GraftHilbertUnbound]]): catalog-registered scalar functions SQL
    * text resolves as `graftmem.<name>(…)`. */
  private val functions: Map[String, () => org.apache.spark.sql.connector.catalog.functions.UnboundFunction] =
    Map("hilbert2" -> (() => new GraftHilbertUnbound))
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) functions.keys.map(Identifier.of(namespace, _)).toArray
    else Array.empty
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    functions.get(ident.name()) match {
      case Some(f) if ident.namespace().isEmpty => f()
      case _ =>
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    }
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName
  override def defaultNamespace(): Array[String] = Array.empty
  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty
  override def tableExists(ident: Identifier): Boolean =
    GraftMemStore.exists(ident.name())
  override def loadTable(ident: Identifier): Table = {
    if (!GraftMemStore.exists(ident.name()))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Array(catalogName) ++ ident.namespace() :+ ident.name())
    new GraftMemTable(ident.name(), GraftMemStore.schemaOf(ident.name()))
  }

  /** SQL time travel (`SELECT … FROM graftmem.t VERSION AS OF n`): the
    * analyzer hands the version string here; the returned table is a
    * read-only pin of that snapshot. The version must be an integer
    * commit sequence number ≤ the current version; whether the snapshot
    * is still RETAINED is checked at scan time ([[GraftMemStore.rowsAt]]),
    * so an expired version fails the read, not the analysis — matching
    * how a file-based catalog only discovers a vacuumed snapshot when
    * the manifest read fails. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!GraftMemStore.exists(ident.name()))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Array(catalogName) ++ ident.namespace() :+ ident.name())
    val v = try version.toInt catch {
      case _: NumberFormatException =>
        throw new UnsupportedOperationException(
          s"graft-mem: snapshot versions are integer commit numbers, got '$version'")
    }
    val cur = GraftMemStore.currentVersion(ident.name())
    require(v >= 0 && v <= cur,
      s"graft-mem: table '${ident.name()}' has no version $v (current: $cur)")
    new GraftMemTable(ident.name(), GraftMemStore.schemaOf(ident.name()), Some(v))
  }

  /** `TIMESTAMP AS OF` is deliberately unsupported: the store journals
    * no wall-clock (determinism discipline) — snapshots are addressed
    * by commit version only. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    throw new UnsupportedOperationException(
      "graft-mem: snapshots are versioned by commit number (VERSION AS OF n); " +
        "the store journals no wall-clock, so TIMESTAMP AS OF cannot resolve")
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    GraftMemStore.create(ident.name(), schema)
    new GraftMemTable(ident.name(), schema)
  }
  /** Schema evolution: ADD COLUMN (top-level, nullable) only. Every
    * other change refuses — a connector that silently accepts RENAME /
    * DROP / type-change without migrating data corrupts reads. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!GraftMemStore.exists(ident.name()))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Array(catalogName) ++ ident.namespace() :+ ident.name())
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          s"graft-mem: only top-level ADD COLUMN is supported, " +
            s"got ${add.fieldNames().mkString(".")}")
        GraftMemStore.addColumn(ident.name(),
          org.apache.spark.sql.types.StructField(
            add.fieldNames()(0), add.dataType(), nullable = true))
      case other =>
        throw new UnsupportedOperationException(
          s"graft-mem: unsupported table change $other")
    }
    loadTable(ident)
  }
  override def dropTable(ident: Identifier): Boolean =
    GraftMemStore.drop(ident.name())
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft-mem: renameTable")
}

class GraftMemWriterFactory extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      override def write(record: InternalRow): Unit = buf += record.copy()
      override def commit(): WriterCommitMessage = GraftMemCommit(buf.toArray)
      override def abort(): Unit = buf.clear()
      override def close(): Unit = ()
    }
}

/** Writer for the row-level-operation path: materializes every record
  * FIELD BY FIELD against the write schema (deep-copying buffer-backed
  * values). Two quirks of the group-based rewrite make the plain
  * factory's `record.copy()` wrong here: (a) when the operation
  * declares no metadata attributes, Spark's ReplaceDataExec picks the
  * plain writing task and the writer receives the UN-projected
  * MergeRows output — `[__row_id, data…]`, the row-id column
  * PREPENDED — so the data fields sit at a fixed positive offset; (b)
  * when a projection IS applied it arrives as a ProjectingInternalRow
  * view whose `copy()` returns the underlying wide row. Reading
  * `numFields - schema.size` leading extras handles both shapes; any
  * other arity is refused loudly.
  *
  * The 1-field offset is an ENGINE-LAYOUT assumption (the prepended
  * column is MergeRows' `__row_id` — `MergeRows.ROW_ID`, the
  * cardinality-check row id the rewrite attaches to the target read;
  * its values are unbounded, so no value-range check can validate it),
  * and a future Spark could move it. The shift==1 path is therefore
  * pinned to the Spark version line the layout was verified against
  * ([[GraftMemProjectingWriterFactory.verifiedSparkPrefix]]): any other
  * Spark fails loudly at the first wide record, demanding
  * re-verification instead of risking silent misalignment wherever
  * adjacent field types coincide. MergeIntoSpec + the q466 oracle hash
  * remain the value-level end-to-end tripwires within the verified
  * line. */
class GraftMemProjectingWriterFactory(schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val dts = schema.fields.map(_.dataType)
      private val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      override def write(record: InternalRow): Unit = {
        val shift = record.numFields - dts.length
        require(shift == 0 || shift == 1,
          s"graft-mem row-level write: unexpected row arity " +
            s"${record.numFields} for schema $schema")
        if (shift == 1)
          require(org.apache.spark.SPARK_VERSION
              .startsWith(GraftMemProjectingWriterFactory.verifiedSparkPrefix),
            s"graft-mem row-level write: the prepended __row_id layout " +
              s"was verified on Spark " +
              s"${GraftMemProjectingWriterFactory.verifiedSparkPrefix}x, " +
              s"but this is ${org.apache.spark.SPARK_VERSION} — " +
              "re-verify the MergeRows output layout before trusting it")
        val vals = new Array[Any](dts.length)
        var i = 0
        while (i < dts.length) {
          val v = record.get(i + shift, dts(i))
          vals(i) = if (v == null) null
            else org.apache.spark.sql.catalyst.InternalRow.copyValue(v)
          i += 1
        }
        buf += new GenericInternalRow(vals)
      }
      override def commit(): WriterCommitMessage = GraftMemCommit(buf.toArray)
      override def abort(): Unit = buf.clear()
      override def close(): Unit = ()
    }
}

object GraftMemProjectingWriterFactory {
  /** Spark version line the shift==1 (prepended __row_id) record
    * layout of the group-based row-level rewrite was verified against;
    * any other version fails loudly at first write. */
  val verifiedSparkPrefix = "4.1."
}
