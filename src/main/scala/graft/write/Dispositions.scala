package graft.write

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, min}

import graft.normalize.Ids

/** Replace strategies (reference typing.py:252, sql_jobs.py:84-146). All
  * three are atomic here because every [[TableStore]] commit is an atomic
  * manifest swap; they are kept as distinct entry points for API parity
  * and because they differ on a real warehouse. */
sealed trait ReplaceStrategy
object ReplaceStrategy {
  case object TruncateAndInsert extends ReplaceStrategy
  case object InsertFromStaging extends ReplaceStrategy
  case object StagingOptimized extends ReplaceStrategy
}

/** Merge strategy selector (typing.py:251). */
sealed trait MergeStrategy
object MergeStrategy {
  case object DeleteInsert extends MergeStrategy
  case object Upsert extends MergeStrategy
  case object InsertOnly extends MergeStrategy
}

/** Write-disposition operators over a [[TableStore]] (reference load plane,
  * dlt/load/load.py + dlt/destinations/sql_jobs.py; SURVEY.md §2.5).
  *
  * Each load runs through a staging table (`<table>__staging`), mirroring
  * the reference's staging dataset (sql_client.py:290), then commits the
  * merged result atomically and records the load in `_dlt_loads`.
  */
final class Dispositions(store: TableStore, spark: SparkSession) {

  val LoadsTable = "_dlt_loads"

  /** Monotone unique load id (reference: epoch-seconds float,
    * load_package.py). Epoch seconds alone collide for two loads in the
    * same second — likely under `runParallel` — so ids are forced
    * strictly increasing at microsecond granularity. */
  def newLoadId(): String = {
    val micros = Dispositions.lastLoadMicros.updateAndGet(prev =>
      math.max(prev + 1, System.currentTimeMillis() * 1000))
    val s = java.math.BigDecimal.valueOf(micros, 6).toPlainString
    s
  }

  def append(table: String, df: DataFrame, loadId: String,
      statsFor: Seq[String] = Nil): Unit = {
    store.append(table, stamp(df, loadId), statsFor)
    recordLoad(loadId)
  }

  def replace(table: String, df: DataFrame, loadId: String,
              strategy: ReplaceStrategy = ReplaceStrategy.TruncateAndInsert): Unit = {
    strategy match {
      case ReplaceStrategy.TruncateAndInsert =>
        store.overwrite(table, stamp(df, loadId))
      case ReplaceStrategy.InsertFromStaging =>
        // data lands in staging once (the only Spark job), then moves to
        // the destination as a physical FILE copy — the INSERT INTO ..
        // SELECT analog. The previous read-back-and-rewrite decoded and
        // re-encoded the identical bytes through a second full Spark job
        // per load (2x the cost, and the r4 driver-bench regression).
        // Drop rides a finally: a failed copy must not leak a live
        // `<table>__staging` into the store (it would read as a nested
        // child table of `table` to the pipeline's `__`-prefix scan).
        val staging = s"${table}__staging"
        store.overwrite(staging, stamp(df, loadId))
        try store.copyInto(staging, table)
        finally store.drop(staging)
      case ReplaceStrategy.StagingOptimized =>
        // adopt, not clone: clone would leave `<table>__staging` live
        // (its absolute segment pointers forbid dropping it), and a
        // registered staging table reads as a nested child of `table`
        // to the pipeline's `__`-prefix scan. Adoption renames the
        // segment dirs into the destination — still zero-copy — and
        // drops the staging table in the same call.
        val staging = s"${table}__staging"
        store.overwrite(staging, stamp(df, loadId))
        store.adopt(staging, table)
    }
    recordLoad(loadId)
  }

  /** Merge with SEGMENT PRUNING: only destination segments whose
    * merge-key range overlaps the staged keys are read and rewritten;
    * disjoint segments survive the commit untouched (file skipping, the
    * Delta `MERGE` data-skipping analog). Merge semantics allow this:
    * a destination row can only be deleted/replaced when its key equals
    * a staged key, and keys outside every staged range can match
    * nothing. Tables whose segments lack stats fall back to the full
    * rewrite; every merge commit records fresh stats so subsequent
    * merges prune. */
  def merge(table: String, staging: DataFrame, cfg: MergeConfig, loadId: String,
            strategy: MergeStrategy = MergeStrategy.DeleteInsert): Unit = {
    // staging is materialized once and re-read (the reference persists
    // load packages to disk for the same reason): the plan is consumed
    // by the pruning stats agg, by each key-group anti-join subtree,
    // and twice more under the range-layout sampling pass — without the
    // persist a computed staging frame re-executes 3-5x per load
    val staged = stamp(staging, loadId)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try mergePersisted(table, staged, cfg, loadId, strategy)
    finally staged.unpersist(blocking = false)
  }

  private def mergePersisted(table: String, staged: DataFrame, cfg: MergeConfig,
      loadId: String, strategy: MergeStrategy): Unit = {
    Dispositions.mergePruned(store, table, staged, cfg, strategy)
    recordLoad(loadId)
  }

  /** SCD2 with SEGMENT PRUNING: active and closed rows live in
    * separately-tagged segments. A load reads and rewrites ONLY the
    * active segments, appends the retired rows as a new immutable
    * closed segment, and leaves all prior closed history untouched —
    * at 100 TB the history is ~the whole table, so the naive
    * full-table rewrite is the scale-killer this avoids. Closed
    * segments are folded together past a threshold to bound the
    * manifest (small-files control, not a history rewrite per load). */
  def scd2(table: String, staging: DataFrame, cfg: Scd2Config, loadId: String): Unit = {
    // same persist rationale as merge: the staged snapshot feeds both
    // sides of the retire/insert split and the range-layout sampling
    val staged = stamp(staging, loadId)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try scd2Persisted(table, staged, cfg, loadId)
    finally staged.unpersist(blocking = false)
  }

  private def scd2Persisted(table: String, staged: DataFrame, cfg: Scd2Config,
      loadId: String): Unit = {
    def actives(df: DataFrame) = SegmentWrite(df, tags = scd2Tag("active"))
    def closeds(df: DataFrame) = SegmentWrite(df, tags = scd2Tag("closed"))

    val segs = if (store.exists(table)) store.segments(table) else Nil
    if (segs.isEmpty) {
      val (active, _) = Scd2.applySplit(None, staged, cfg)
      store.commitSegments(table, Nil, Seq(actives(active)))
    } else if (segs.forall(_.stats.contains(Scd2Marker))) {
      val (activeSegs, closedSegs) = segs.partition(_.stats(Scd2Marker).min == "active")
      val dest = if (activeSegs.isEmpty) None
                 else Some(store.readSegmentsApplied(table, activeSegs))
      val (active, closed) = Scd2.applySplit(dest, staged, cfg)
      val foldClosed = closedSegs.size >= 32 // compact closed history rarely
      val (keep, closedOut) =
        if (foldClosed)
          (Nil, store.readSegments(table, closedSegs)
            .unionByName(closed, allowMissingColumns = true))
        else (closedSegs, closed)
      val writes =
        if (foldClosed || !closedOut.isEmpty) Seq(actives(active), closeds(closedOut))
        else Seq(actives(active))
      store.commitSegments(table, keep, writes)
    } else {
      // legacy un-tagged table: one full rewrite that splits it so every
      // later load prunes
      val d = store.read(table)
      val (active, closed) = Scd2.applySplit(Some(d.filter(Scd2.isActive(cfg))), staged, cfg)
      val allClosed = d.filter(!Scd2.isActive(cfg))
        .unionByName(closed, allowMissingColumns = true)
      store.commitSegments(table, Nil, Seq(actives(active), closeds(allClosed)))
    }
    recordLoad(loadId)
  }

  private val Scd2Marker = "__scd2_state"
  private def scd2Tag(v: String) = Map(Scd2Marker -> ColStats(v, v, numeric = false))

  private def stamp(df: DataFrame, loadId: String): DataFrame =
    if (df.columns.contains(Ids.DltLoadId)) df
    else df.withColumn(Ids.DltLoadId, lit(loadId))

  /** `_dlt_loads` system table (reference typing.py:40, load.py:605-624).
    * One row per load PACKAGE, as in the reference: a package spanning
    * many resources/dispatch slices records once — each extra append
    * here is a Spark job plus a store commit, so per-slice recording
    * serialized N tiny commits per load (round-3 bench finding).
    *
    * The duplicate guard is PER INSTANCE (a store-keyed check would cost
    * a Spark read job on every load): two Dispositions instances over
    * one store can still double-record a load id — run one Dispositions
    * per store, as `Pipeline` does. The set is bounded: load ids are
    * strictly increasing, so entries older than the last [[MaxRecorded]]
    * loads can never be re-offered by a well-behaved caller and are
    * evicted. */
  private val MaxRecorded = 4096
  private val recordedLoads =
    new java.util.LinkedHashMap[(String, String), java.lang.Boolean](64, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), java.lang.Boolean]): Boolean =
        size() > MaxRecorded
    }
  /** Highest load id recorded per schema — ENFORCES the strictly-
    * increasing contract the bounded dedup set assumes: an id older
    * than the newest seen that is no longer in the set would silently
    * double-append, so it fails loudly instead. */
  private val lastRecorded = scala.collection.mutable.Map.empty[String, String]

  /** newLoadId ids are decimal micros; compare numerically when both
    * sides parse (lexicographic would break across a digit rollover),
    * lexicographically for caller-supplied opaque ids. */
  private def loadIdBefore(a: String, b: String): Boolean =
    (scala.util.Try(BigDecimal(a)), scala.util.Try(BigDecimal(b))) match {
      case (scala.util.Success(x), scala.util.Success(y)) => x < y
      case _ => a < b
    }

  /** `status` follows the reference's ledger convention (0 = loaded);
    * status 2 is this engine's extension for DRIFT-QUARANTINED batches
    * (the dead-letter route records `(loadId, "<schema>#quarantine",
    * 2)` so monitoring sees dead-lettered loads straight off the
    * ledger: `SELECT * FROM _dlt_loads WHERE status = 2`). */
  def recordLoad(loadId: String, schemaName: String = "graft",
                 versionHash: String = "", status: Int = 0): Unit = {
    val fresh = recordedLoads.synchronized {
      if (recordedLoads.containsKey((loadId, schemaName))) false
      else {
        lastRecorded.get(schemaName).foreach { last =>
          require(!loadIdBefore(loadId, last),
            s"load id $loadId precedes the newest recorded id $last for " +
              s"schema $schemaName — load ids must be offered in increasing " +
              "order (the bounded duplicate guard cannot vouch for older ids)")
        }
        recordedLoads.put((loadId, schemaName), java.lang.Boolean.TRUE)
        lastRecorded.update(schemaName, loadId)
        true
      }
    }
    if (fresh) {
      // driver-direct 1-row append (TinyParquet): a Spark job per ledger
      // row is ~100-300 ms of pure submission overhead per load package
      import TinyParquet._
      store.appendDriverFile(LoadsTable)(p => TinyParquet.write(p, Seq(Seq(
        "load_id" -> SCell(loadId), "schema_name" -> SCell(schemaName),
        "status" -> ICell(status),
        "inserted_at" -> SCell(java.time.Instant.now().toString),
        "schema_version_hash" -> SCell(versionHash)))))
    }
  }

  /** `_dlt_version` system table (reference schema version table,
    * dlt/common/storages/ + typing.py:39): one row per distinct schema
    * version hash, appended when the hash changes. */
  private var seenVersionHashes: Set[String] = Set.empty

  def recordVersion(schemaName: String, versionHash: String,
                    schemaJson: String): Unit = {
    val already = seenVersionHashes(versionHash) ||
      (store.exists(VersionTable) && store.readDriverRows(VersionTable)
        .exists(_.get("version_hash").contains(versionHash)))
    seenVersionHashes += versionHash
    if (!already) {
      val version = nextVersion(VersionTable)
      import TinyParquet._
      store.appendDriverFile(VersionTable)(p => TinyParquet.write(p, Seq(Seq(
        "version" -> LCell(version), "engine_version" -> LCell(1L),
        "inserted_at" -> SCell(java.time.Instant.now().toString),
        "schema_name" -> SCell(schemaName),
        "version_hash" -> SCell(versionHash),
        "schema" -> SCell(schemaJson)))))
    }
  }

  /** `_dlt_pipeline_state` system table (reference state sync,
    * dlt/pipeline/state_sync.py:95-139): the pipeline state snapshot
    * committed alongside the load so a fresh environment can restore
    * incremental cursors from the destination alone. */
  /** Next monotone version: max(version)+1, not count() — counts break
    * after deletes and under merged histories. Every append writes
    * max+1, so the newest segment holds the maximum (after a compaction
    * it holds every row): a driver read of that one file, no Spark job. */
  private def nextVersion(table: String): Long =
    (if (!store.exists(table)) Nil else store.readDriverRowsLast(table))
      .flatMap(_.get("version")).map(_.asInstanceOf[Number].longValue())
      .maxOption.getOrElse(0L) + 1

  def recordState(pipelineName: String, loadId: String, stateJson: String): Unit = {
    val version = nextVersion(StateTable)
    import TinyParquet._
    store.appendDriverFile(StateTable)(p => TinyParquet.write(p, Seq(Seq(
      "version" -> LCell(version), "engine_version" -> LCell(4L),
      "pipeline_name" -> SCell(pipelineName), "state" -> SCell(stateJson),
      "created_at" -> SCell(java.time.Instant.now().toString),
      "_dlt_load_id" -> SCell(loadId)))))
  }

  val VersionTable = "_dlt_version"
  val StateTable = "_dlt_pipeline_state"

  def loadIds: Seq[String] = store.readOption(LoadsTable) match {
    case None => Nil
    case Some(df) => df.select("load_id").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
  }
}

object Dispositions {

  /** Last issued load-id timestamp in microseconds (JVM-wide so two
    * Dispositions instances over one store can't collide either). */
  private val lastLoadMicros = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The segment-pruned merge commit, shared by the instance `merge`
    * path and [[MergeChain]]'s root table (round-2 gap: the chain root
    * bypassed pruning and rewrote the whole table every load). Callers
    * persist `staged` and record the load themselves. */
  private[write] def mergePruned(store: TableStore, table: String,
      staged: DataFrame, cfg: MergeConfig, strategy: MergeStrategy): Unit = {
    val keys = (cfg.primaryKey ++ cfg.mergeKey).distinct
    def result(dest: Option[DataFrame]): DataFrame = strategy match {
      case MergeStrategy.DeleteInsert => Merge.deleteInsert(dest, staged, cfg)
      case MergeStrategy.Upsert => Merge.upsert(dest, staged, cfg)
      case MergeStrategy.InsertOnly => Merge.insertOnly(dest, staged, cfg)
    }
    store.readOption(table) match {
      case None =>
        store.overwrite(table, result(None), statsFor = keys, rangeBy = keys)
      case Some(_) =>
        val segs = store.segments(table)
        partitionByOverlap(segs, staged, Merge.keyGroups(cfg)) match {
          case Some((touched, untouched)) if untouched.nonEmpty =>
            val dest =
              if (touched.isEmpty) None
              else Some(store.readSegmentsApplied(table, touched))
            store.replaceSegments(table, untouched, result(dest),
              statsFor = keys, rangeBy = keys)
          case _ =>
            store.overwrite(table, result(Some(store.read(table))),
              statsFor = keys, rangeBy = keys)
        }
    }
  }

  /** Split segments into (touched, untouched) by overlap between each
    * segment's key-range stats and the staged key ranges.
    *
    * Match semantics are OR of AND-groups ([[Merge.keyGroups]]): within
    * a group, a destination row matches only if EVERY column is equal —
    * so disjointness on ANY stat'd column excludes the group; across
    * groups, matching EITHER suffices — so a segment is untouched only
    * when every group is excluded. Columns without stats on every
    * segment are conservatively treated as overlapping. Returns None
    * (no pruning) when no group can exclude anything or the staging
    * range is empty/all-null. */
  private def partitionByOverlap(segs: Seq[Segment], staged: DataFrame,
      groups: Seq[Seq[String]]): Option[(Seq[Segment], Seq[Segment])] = {
    val allCols = groups.flatten.distinct
      .filter(k => segs.forall(_.stats.contains(k)))
    if (allCols.isEmpty || groups.isEmpty) None
    else {
      val aggs = allCols.flatMap(k =>
        Seq(min(col(k)).cast("string").as(s"lo_$k"),
          max(col(k)).cast("string").as(s"hi_$k")))
      val r = staged.agg(aggs.head, aggs.tail: _*).head()
      val ranges = allCols.flatMap { k =>
        (Option(r.getAs[String](s"lo_$k")), Option(r.getAs[String](s"hi_$k"))) match {
          case (Some(lo), Some(hi)) => Some(k -> (lo, hi))
          case _ => None
        }
      }.toMap
      if (ranges.isEmpty) None
      else Some(segs.partition { s =>
        groups.exists(g => g.forall(k =>
          ranges.get(k).forall { case (lo, hi) => s.stats(k).overlaps(lo, hi) }))
      })
    }
  }
}
