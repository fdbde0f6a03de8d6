package graft.dataset

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.normalize.Ids
import graft.schema.{Naming, SchemaRegistry, TableReference}
import graft.write.TableStore

/** The dataset/query plane (reference dlt.Dataset/dlt.Relation,
  * dlt/dataset/dataset.py + relation.py; SURVEY.md §2.6).
  *
  * dlt compiles these operators to SQL via sqlglot and ships them to a
  * destination engine; here the Relation IS a lazy DataFrame and Catalyst
  * is the destination engine, so every method is thin delegation. The one
  * piece of real logic is reference-chain resolution for `join`
  * (dlt/dataset/_join.py:17-386): join conditions are derived from schema
  * references, parent/child `_dlt_parent_id` chains, and `_dlt_root_id`
  * chains, with joined columns prefixed `alias__col`.
  */
final class GraftDataset(val store: TableStore, val registry: SchemaRegistry,
                         val spark: SparkSession) {

  def table(name: String): Relation = {
    val norm = Naming.normalizeTableName(name)
    new Relation(store.read(norm), norm, this, pristine = true)
  }
  def apply(name: String): Relation = table(name)

  /** TIME TRAVEL on the dataset facade (Iceberg's `VERSION AS OF`
    * shape over [[TableStore.readAt]]): the table as it stood at a
    * snapshot id from [[snapshots]]. Composes like any other relation
    * — filters, joins, selects — it just scans the pinned manifest's
    * immutable segments. NOT `pristine`: the stat-pruned read swap
    * only describes the CURRENT snapshot. */
  def asOf(name: String, snapshot: Long): Relation = {
    val norm = Naming.normalizeTableName(name)
    new Relation(store.readAt(norm, snapshot), norm, this, pristine = false)
  }

  /** Snapshot ids of a table, oldest → newest — the time-travel points
    * [[asOf]] accepts. */
  def snapshots(name: String): Seq[Long] =
    store.snapshots(Naming.normalizeTableName(name))

  /** Temp views registered by [[query]]: table → the snapshot id the
    * view was built from. Re-registering every stored table on EVERY
    * query call is O(tables) driver work (manifest read + plan build
    * per table); a view only needs rebuilding when its table gained a
    * commit. The snapshot id IS the store generation marker — checking
    * it is one directory listing, not a plan build. */
  private val registeredViews = scala.collection.mutable.Map.empty[String, Long]

  /** Raw SQL passthrough (reference dataset.query, dataset.py:228-262):
    * every stored table is exposed as a temp view, registered once per
    * table snapshot (new commits re-register; dropped tables drop). */
  def query(sql: String): DataFrame = {
    val current = store.tables.map(t => t -> store.snapshots(t).lastOption.getOrElse(0L))
    current.foreach { case (t, snap) =>
      if (!registeredViews.get(t).contains(snap)) {
        store.read(t).createOrReplaceTempView(t)
        registeredViews(t) = snap
      }
    }
    val gone = registeredViews.keySet -- current.map(_._1)
    gone.foreach { t => spark.catalog.dropTempView(t); registeredViews -= t }
    spark.sql(sql)
  }

  /** UNION ALL of per-table counts (dataset.py:305-360). */
  def rowCounts(loadId: Option[String] = None): DataFrame =
    store.tables.filterNot(_.startsWith("_dlt"))
      .map { t =>
        val df = store.read(t)
        val filtered = loadId match {
          case Some(id) if df.columns.contains(Ids.DltLoadId) =>
            df.filter(col(Ids.DltLoadId) === id)
          case _ => df
        }
        filtered.agg(count(lit(1)).as("row_count"))
          .withColumn("table_name", lit(t)).select("table_name", "row_count")
      }
      .reduce(_ unionAll _)

  def loadIds: Seq[String] = store.readOption("_dlt_loads") match {
    case None => Nil
    case Some(df) =>
      df.select("load_id").distinct().collect().map(_.getString(0)).sorted.toSeq
  }
  def latestLoadId: Option[String] = loadIds.lastOption

  /** PIN a snapshot of a lakehouse table against retention — the
    * facade face of [[graft.write.TableStore.pinSnapshot]] (Iceberg tag
    * semantics): [[asOf]] time travel to the pinned snapshot keeps
    * working under any retention schedule. The vector twin is
    * [[VectorCollection.pin]]. */
  def pinSnapshot(name: String, snapshot: Long): Unit =
    store.pinSnapshot(Naming.normalizeTableName(name), snapshot)

  /** Withdraw a [[pinSnapshot]] pin (no-op if not pinned). */
  def unpinSnapshot(name: String, snapshot: Long): Unit =
    store.unpinSnapshot(Naming.normalizeTableName(name), snapshot)

  /** The pinned snapshot ids of a table (empty if none). */
  def pinnedSnapshots(name: String): Set[Long] =
    store.pinnedSnapshots(Naming.normalizeTableName(name))

  /** Apply a snapshot-retention policy (keep-N ∧ TTL; pins and the
    * current snapshot always retained) to a lakehouse table — see
    * [[graft.write.TableStore.applyRetention]]. `now` is injectable so
    * TTL policies replay deterministically from the facade too.
    * Returns (expired, remaining) snapshot ids, oldest → newest. */
  def retainTable(name: String, keepLast: Int, ttlMs: Option[Long] = None,
      now: Long = System.currentTimeMillis()): (Seq[Long], Seq[Long]) =
    store.applyRetention(Naming.normalizeTableName(name), keepLast, ttlMs, now)

  /** Vector-collection facade — the one-stop dataset API over a
    * persisted [[graft.write.VectorSink]] collection (the reference's
    * vector destinations are reached the same way: through the
    * dataset, not the sink). Describe / generations / probe / filtered
    * probe / time-travel probe without importing the write plane. */
  def vectors(name: String): VectorCollection =
    new VectorCollection(store, Naming.normalizeTableName(name))
}

/** Read-side handle on one persisted vector collection. Probes here
  * cover the plain-IVF metric (the collection stores its own vectors);
  * quantized collections need the caller's full-precision corpus for
  * the exact re-rank, so those keep the explicit
  * [[graft.write.VectorSink]] entry points (`topKQuantized` /
  * `topKPq` / `topKOpq` / `topKBinary`). */
final class VectorCollection(store: TableStore, val name: String) {
  import graft.write.VectorSink

  /** One-row summary: gen, metric, dim, nlist, physical/tombstoned
    * rows, list skew, dead fraction, generation count. Driver-file
    * manifest reads only — no Spark job. */
  def describe(): DataFrame = VectorSink.describeCollection(store, name)

  /** Probe-able generation numbers, oldest → newest. */
  def generations: Seq[Long] = VectorSink.generations(store, name)

  /** Top-k cosine neighbors per query row (see
    * [[graft.write.VectorSink.topK]]). */
  def topK(queries: DataFrame, id: String, vec: String, k: Int,
      nprobe: Int): DataFrame =
    VectorSink.topK(store, name, queries, id, vec, k, nprobe)

  /** [[topK]] with a corpus pre-filter (filtered search). */
  def topKWhere(queries: DataFrame, id: String, vec: String, k: Int,
      nprobe: Int, predicate: Column): DataFrame =
    VectorSink.topKWhere(store, name, queries, id, vec, k, nprobe, predicate)

  /** [[topK]] against a pinned historical generation (time travel). */
  def topKAt(gen: Long, queries: DataFrame, id: String, vec: String,
      k: Int, nprobe: Int): DataFrame =
    VectorSink.topKGen(store, name, VectorSink.generationAt(store, name, gen),
      queries, id, vec, k, nprobe)

  /** Pin a generation against retention (see
    * [[graft.write.VectorSink.pinGeneration]]). */
  def pin(gen: Long): Unit = VectorSink.pinGeneration(store, name, gen)

  /** Withdraw a [[pin]] (see
    * [[graft.write.VectorSink.unpinGeneration]]). */
  def unpin(gen: Long): Unit = VectorSink.unpinGeneration(store, name, gen)

  /** The pinned generation numbers. */
  def pinned: Set[Long] = VectorSink.pinnedGenerations(store, name)

  /** Apply a retention policy (keep-N ∧ TTL; pins always retained) —
    * see [[graft.write.VectorSink.applyRetention]]. `now` is
    * injectable like the underlying twin's, so TTL policies replay
    * deterministically from the facade too. */
  def retain(keepLast: Int, ttlMs: Option[Long] = None,
      now: Long = System.currentTimeMillis())
      : VectorSink.RetentionReport =
    VectorSink.applyRetention(store, name, keepLast, ttlMs, now)
}

/** Lazy composable query over one table (reference Relation,
  * dlt/dataset/relation.py:66+). `pristine` marks an untouched base
  * scan, where a typed comparison filter can swap the underlying read
  * for a stat-pruned one (segment skipping) before filtering. */
final class Relation(private val frame: DataFrame, val tableName: String,
                     dataset: GraftDataset, pristine: Boolean = false) {

  private def wrap(d: DataFrame) = new Relation(d, tableName, dataset)

  def df(): DataFrame = frame

  def select(cols: String*): Relation = wrap(frame.select(cols.map(col): _*))

  /** Canonicalize a probe value through the SAME representation the
    * segment stats use — Catalyst `cast(value as <colType>) cast string`
    * — so string comparison against stats is sound. A raw
    * `String.valueOf` probe like "2024-01-02T10:00:00" would compare
    * lexicographically against stat strings like "2024-01-02 23:59:59"
    * and wrongly prune segments that DO contain matching rows. None
    * (no pruning, full read) when the value can't be canonicalized. */
  private def canonicalProbe(column: String, value: Any): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.StringType
    scala.util.Try {
      val dt = frame.schema(column).dataType
      Option(Cast(Cast(Literal(value), dt, Some("UTC")), StringType, Some("UTC")).eval())
        .map(_.toString)
    }.toOption.flatten
  }

  /** Typed filter ops (reference op map, relation.py:51-60). On a
    * pristine base scan, comparison ops read only the segments whose
    * stats can match (see [[graft.write.TableStore.readPruned]]); the
    * filter itself still applies, so results are identical. */
  def where(column: String, op: String, value: Any): Relation = {
    val base: DataFrame =
      if (!pristine) frame
      else {
        val v = canonicalProbe(column, value)
        (op, v) match {
          case (_, None) => frame
          case ("eq", _) => dataset.store.readPruned(tableName, column, v, v)
          case ("gt" | "gte", _) => dataset.store.readPruned(tableName, column, v, None)
          case ("lt" | "lte", _) => dataset.store.readPruned(tableName, column, None, v)
          case _ => frame
        }
      }
    val c = col(column)
    val cond: Column = op match {
      case "eq" => c === lit(value)
      case "ne" => c =!= lit(value)
      case "gt" => c > lit(value)
      case "lt" => c < lit(value)
      case "gte" => c >= lit(value)
      case "lte" => c <= lit(value)
      case "in" => c.isin(value.asInstanceOf[Seq[Any]]: _*)
      case "not_in" => !c.isin(value.asInstanceOf[Seq[Any]]: _*)
      case other => throw new IllegalArgumentException(s"unknown op $other")
    }
    wrap(base.filter(cond))
  }
  def filter(column: String, op: String, value: Any): Relation = where(column, op, value)
  def where(sqlExpr: String): Relation = wrap(frame.filter(sqlExpr))

  def orderBy(column: String, asc: Boolean = true): Relation =
    wrap(frame.orderBy(if (asc) col(column).asc else col(column).desc))
  def limit(n: Int): Relation = wrap(frame.limit(n))
  def head(n: Int = 5): Array[org.apache.spark.sql.Row] = frame.head(n)

  def maxOf(column: String): DataFrame = frame.agg(max(col(column)).as(column))
  def minOf(column: String): DataFrame = frame.agg(min(col(column)).as(column))

  /** Reference-driven join (relation.py:361-440, _join.py): the ON clause
    * comes from the schema registry — declared references first, then the
    * parent/child `_dlt_parent_id` chain, then the `_dlt_root_id` chain.
    * Joined columns are prefixed `<alias>__<col>` (_join.py:268).
    */
  def join(other: String, kind: String = "inner", alias: Option[String] = None): Relation = {
    val otherName = Naming.normalizeTableName(other)
    val right = dataset.store.read(otherName)
    val prefix = alias.getOrElse(otherName)
    val prefixed = right.columns.foldLeft(right)((d, c) =>
      d.withColumnRenamed(c, s"${prefix}__$c"))

    val cond = resolveCondition(otherName, prefix)
    wrap(frame.join(prefixed, cond, kind))
  }

  private def resolveCondition(other: String, prefix: String): Column = {
    val hints = dataset.registry.hints(tableName)
    val otherHints = dataset.registry.hints(other)

    def refCond(r: TableReference, flip: Boolean): Column =
      r.columns.zip(r.referencedColumns).map { case (a, b) =>
        if (flip) col(s"${prefix}__$a") === col(b)
        else col(a) === col(s"${prefix}__$b")
      }.reduce(_ && _)

    hints.references.find(_.referencedTable == other).map(refCond(_, flip = false))
      .orElse(otherHints.references.find(_.referencedTable == tableName)
        .map(refCond(_, flip = true)))
      .orElse {
        // parent/child chain: child carries _dlt_parent_id
        if (otherHints.parent.contains(tableName))
          Some(col(Ids.DltId) === col(s"${prefix}__${Ids.DltParentId}"))
        else if (hints.parent.contains(other))
          Some(col(Ids.DltParentId) === col(s"${prefix}__${Ids.DltId}"))
        else None
      }
      .orElse {
        // root chain via propagated _dlt_root_id
        val leftHasRoot = frame.columns.contains(Ids.DltRootId)
        val rightHasRoot = dataset.store.schema(other).fieldNames.contains(Ids.DltRootId)
        if (rightHasRoot && frame.columns.contains(Ids.DltId))
          Some(col(Ids.DltId) === col(s"${prefix}__${Ids.DltRootId}"))
        else if (leftHasRoot && rightHasRoot)
          Some(col(Ids.DltRootId) === col(s"${prefix}__${Ids.DltRootId}"))
        else None
      }
      .getOrElse(throw new IllegalArgumentException(
        s"no reference chain between $tableName and $other — declare a TableReference"))
  }

  /** Root-chain provenance: fetch `_dlt_load_id` from the root table by
    * walking parent links (reference relation.py:590-619). */
  def withLoadIdCol(): Relation =
    if (frame.columns.contains(Ids.DltLoadId)) this
    else {
      val hints = dataset.registry.hints(tableName)
      val parent = hints.parent.getOrElse(throw new IllegalArgumentException(
        s"$tableName has no _dlt_load_id and no parent chain"))
      val root = new Relation(dataset.store.read(parent), parent, dataset).withLoadIdCol()
      val r = root.df().select(col(Ids.DltId).as("__root_id"), col(Ids.DltLoadId))
      wrap(frame.join(r, col(Ids.DltParentId) === col("__root_id"), "left")
        .drop("__root_id"))
    }

  /** Filter to specific load packages (relation.py:621-647). */
  def fromLoads(loadIds: Seq[String]): Relation = {
    val withLid = withLoadIdCol()
    wrap(withLid.df().filter(col(Ids.DltLoadId).isin(loadIds: _*)))
  }
}
