package graft.write

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max, min}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Column min/max carried in the manifest per segment — the pruning
  * statistics that let merges skip untouched data files (the same
  * file-skipping idea Delta/Iceberg persist in their logs). */
final case class ColStats(min: String, max: String, numeric: Boolean) {
  /** Could any value in [min,max] equal a value in [lo,hi]? Conservative:
    * parse failures report overlap. */
  def overlaps(lo: String, hi: String): Boolean =
    if (numeric)
      Try(!(BigDecimal(max) < BigDecimal(lo) || BigDecimal(min) > BigDecimal(hi)))
        .getOrElse(true)
    else !(max < lo || min > hi)
}

/** One committed data segment: a parquet directory plus optional
  * per-column stats (absent for imported/legacy segments → never pruned)
  * and the Spark schema its files were written with (absent for
  * imported/legacy segments → inferred from the footers at read). */
final case class Segment(name: String, stats: Map[String, ColStats],
    schema: Option[StructType] = None)

/** A pending segment for [[TableStore.commitSegments]]. */
final case class SegmentWrite(df: DataFrame, statsFor: Seq[String] = Nil,
    rangeBy: Seq[String] = Nil, tags: Map[String, ColStats] = Map.empty)

/** A merge-on-read deletion marker: rows of the `covered` data segments
  * whose `column` value appears in the tombstone's id file are dead.
  * The anti-join applies at read time; [[TableStore.compact]] folds
  * tombstones away. This is the deletion-vector idea of the lakehouse
  * formats, keyed by value instead of row position: deleting N rows
  * from a huge child table costs O(ids) written, not O(table)
  * rewritten. `covered` pins the generation — segments appended AFTER
  * the tombstone are not affected, so a re-inserted key survives.
  * `schema` is the id file's Spark schema (absent on legacy manifests). */
final case class Tombstone(name: String, column: String, covered: Set[String],
    schema: Option[StructType] = None)

/** One parsed manifest: live segments and tombstones, each carrying the
  * schema its line references. */
private final case class Manifest(segments: Seq[Segment],
    tombstones: Seq[Tombstone])

/** A minimal lakehouse: one directory per dataset, one manifest-committed
  * parquet table per subdirectory.
  *
  * Layout:
  * {{{
  *   <root>/<table>/data/<uuid>/part-*.parquet   immutable data segments
  *   <root>/<table>/manifest-<n>.txt             live segments + stats
  *   <root>/<table>/_CURRENT                     name of current manifest
  * }}}
  *
  * Manifest lines, one entry each (`enc` = URL-encoding, `\t` a tab):
  * {{{
  *   @\t<id>\td\t<ddl>                                 schema <id>, StructType.toDDL
  *   @\t<id>\tj\t<json>                                schema <id>, StructType.json
  *   <name>[\t<col>,<n|s>,<encMin>,<encMax>[;...][\t<id>]]  data segment
  *   !\t<encName>\t<encCol>\t<encCovered,...>[\t<id>]     tombstone
  * }}}
  * Each distinct schema is written once per manifest, as DDL unless
  * `fromDDL(toDDL(s)) != s` (field metadata beyond a comment), then as
  * JSON. A segment or tombstone line ends with the id of the schema its
  * files were written with, and reads pass that schema to Spark, merging
  * differing segments in manifest (commit) order with the merge parquet's
  * `mergeSchema` footer read uses; that read merges in file-path order,
  * so it yields the same fields, in an order set by the random segment
  * names. Planning a read therefore launches no footer-inference job, in
  * a fresh process, at an old snapshot and on evolved tables alike. A
  * line without an id (imported files, manifests written before schemas
  * were recorded) falls back to the `mergeSchema` footer read. A
  * `_CURRENT` naming a manifest that does not exist, or a schema line
  * that does not parse, throws `IllegalStateException` naming the file.
  *
  * Commits are atomic: segments are written first, then the new manifest,
  * then `_CURRENT` is swapped via atomic rename — readers always resolve a
  * complete snapshot. This mirrors the reference's atomic load packages
  * (dlt/common/storages/load_package.py) and, at cluster scale, is the
  * same snapshot-manifest pattern Delta/Iceberg use; the disposition
  * operators in this package bind 1:1 onto Delta `MERGE`/`CLONE` when such
  * a runtime is present.
  *
  * Append never rewrites existing segments (O(new data)); merge rewrites
  * only segments whose key range overlaps the staged keys (see
  * [[Dispositions.merge]]); replace commits a fresh segment list.
  *
  * Concurrency contract: commits are serialized PER TABLE (a lock per
  * table name), the same single-writer-per-table model the reference
  * runs (one load package writer per table) — but writes to DIFFERENT
  * tables proceed concurrently, which is what makes
  * [[graft.pipeline.Pipeline.runParallel]] and the chain load's
  * child ∥ root commits actually overlap instead of convoying on one
  * store-wide lock. Two-table operations (clone/adopt/copyInto) take
  * both locks in name order (no deadlock cycle possible). Two
  * PROCESSES committing to one table concurrently can still lose the
  * earlier commit's manifest entry (last `_CURRENT` swap wins) — run
  * one writer per table, or bind dispositions onto Delta/Iceberg
  * (whose logs do optimistic concurrency) when multi-writer tables
  * are required.
  *
  * Segment stats are captured with `Dataset.observe` riding the write
  * action — no extra scan of the data.
  */
final class TableStore(val root: String, val spark: SparkSession) {

  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(t: String): Object =
    tableLocks.computeIfAbsent(t, _ => new Object)
  private def locked[A](t: String)(body: => A): A =
    lockFor(t).synchronized(body)
  /** Both locks in NAME order — concurrent two-table ops cannot form a
    * lock cycle. */
  private def locked2[A](a: String, b: String)(body: => A): A = {
    val s = Seq(a, b).sorted
    lockFor(s.head).synchronized(lockFor(s.last).synchronized(body))
  }

  /** Run `body` holding `table`'s store lock — for MAINTENANCE ops
    * (read-then-rewrite like z-order compaction) that span multiple
    * store calls and must not interleave with concurrent writers: a
    * snapshot read followed by an overwrite would otherwise silently
    * drop a segment appended in between. Reentrant (store ops inside
    * re-acquire the same monitor), so wrapped code can call
    * read/append/commit normally. */
  def exclusively[A](table: String)(body: => A): A = locked(table)(body)

  private def tableDir(table: String): Path = Paths.get(root, table)

  /** Directory listing that CLOSES the underlying stream — a bare
    * `Files.list(..).iterator()` leaks one directory fd per call, and
    * snapshots()/tables are called per query by long-lived sessions. */
  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  def exists(table: String): Boolean =
    Files.exists(tableDir(table).resolve("_CURRENT"))

  def tables: Seq[String] =
    if (!Files.exists(Paths.get(root))) Nil
    else listDir(Paths.get(root))
      .filter(p => Files.exists(p.resolve("_CURRENT")))
      .map(_.getFileName.toString).sorted

  /** Current snapshot as a DataFrame (merge-on-read: any live
    * tombstones apply as anti-joins scoped to the segments they
    * covered at commit time — later appends are untouched). */
  def read(table: String): DataFrame = {
    val segs = segments(table)
    require(segs.nonEmpty, s"table $table does not exist in $root")
    readSegmentsApplied(table, segs)
  }

  /** Snapshot ids of `table`, oldest → newest. A snapshot id is the
    * commit timestamp embedded in its manifest name; every commit
    * creates one and [[vacuum]] prunes old ones, so the ids present are
    * exactly the time-travel points still readable. */
  def snapshots(table: String): Seq[Long] = {
    val dir = tableDir(table)
    if (!Files.exists(dir)) Nil
    else listDir(dir)
      .map(_.getFileName.toString)
      .collect { case n if n.startsWith("manifest-") && n.endsWith(".txt") =>
        n.stripPrefix("manifest-").stripSuffix(".txt").toLong }
      .sorted
  }

  /** TIME TRAVEL: the table as of `snapshot` (an id from [[snapshots]]).
    * Reads that manifest's segment list with that manifest's tombstones
    * applied — immutable segments make this free: no data is copied or
    * reconstructed, the old manifest simply still describes it. */
  def readAt(table: String, snapshot: Long): DataFrame = {
    val m = manifestAt(table, snapshot)
    require(m.segments.nonEmpty, s"snapshot $snapshot of $table is empty")
    appliedRead(table, m.segments, m.tombstones)
  }

  /** One snapshot's manifest — the shared parse behind [[readAt]] and
    * [[readDriverRowsAt]]. */
  private def manifestAt(table: String, snapshot: Long): Manifest = {
    val manifest = tableDir(table).resolve(s"manifest-$snapshot.txt")
    require(Files.exists(manifest),
      s"snapshot $snapshot of $table does not exist (vacuumed?)")
    parseManifest(manifest)
  }

  /** The current snapshot's merged schema — what `read(table).schema`
    * returns, field order included, without building the read plan.
    * Comes from the manifest; only a table holding segments with no
    * recorded schema (imports, legacy manifests) reads footers. */
  def schema(table: String): StructType = {
    val segs = segments(table)
    require(segs.nonEmpty, s"table $table does not exist in $root")
    schemaOf(table, segs)
  }

  /** CHANGE FEED between two snapshots: per-key inserts and deletes
    * (an update appears as delete + insert of the same key). Computed
    * as two hash anti-joins on the key — no per-row versioning is
    * stored, the immutable snapshots themselves are the feed. Column
    * set follows the `to` snapshot (schema evolution widens). */
  def diff(table: String, from: Long, to: Long,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "diff needs key columns")
    val a = readAt(table, from)
    val b = readAt(table, to)
    b.join(a.select(keys.map(col): _*), keys, "left_anti")
      .withColumn("_change", lit("insert"))
      .unionByName(
        a.join(b.select(keys.map(col): _*), keys, "left_anti")
          .withColumn("_change", lit("delete")),
        allowMissingColumns = true)
  }

  /** Read `segs` with tombstones applied, grouping segments by the
    * tombstone set covering them so newer segments never anti-join
    * against older deletes (generation correctness). Partial-segment
    * readers (pruned merge, scd2 active set) use this instead of the
    * raw [[readSegments]] so dead rows never resurface. */
  def readSegmentsApplied(table: String, segs: Seq[Segment]): DataFrame =
    appliedRead(table, segs, currentTombstones(table))

  /** Every segment group reads with the merged schema of all of `segs`,
    * so the groups union by position and the result's schema is exactly
    * [[schemaOf]]. Groups are taken in manifest order; one group's
    * tombstones on one column are one multi-path scan, so a table with
    * k tombstones plans at most k tombstone scans. The anti-join keeps
    * the segment's column order (a `USING` join would move the
    * tombstone column first). */
  private def appliedRead(table: String, segs: Seq[Segment],
      tombs: Seq[Tombstone]): DataFrame = {
    val relevant = tombs.filter(t => segs.exists(s => t.covered(s.name)))
    if (relevant.isEmpty) readSegments(table, segs)
    else {
      val full = schemaOf(table, segs)
      val cover = segs.map(s => s -> relevant.filter(_.covered(s.name)))
      cover.map(_._2).distinct.map { ts =>
        val base = spark.read.schema(full).parquet(
          cover.collect { case (s, `ts`) => resolve(table, s.name).toString }: _*)
        ts.map(_.column).distinct.filter(full.fieldNames.contains)
          .foldLeft(base) { (acc, c) =>
            val q = s"`${c.replace("`", "``")}`"
            val ids = scan(table, ts.collect {
              case t if t.column == c => t.name -> t.schema }).select(q).distinct()
            acc.join(ids, acc(q) === ids(q), "left_anti")
          }
      }.reduce(_ union _)
    }
  }

  /** The live tombstones of `table` (empty for plain tables). */
  def tombstones(table: String): Seq[Tombstone] = currentTombstones(table)

  /** Merge-on-read delete + insert in ONE atomic commit: rows of the
    * CURRENT segments whose `tombColumn` appears in `ids` become dead
    * (a tombstone — O(ids) written, no data rewritten), and `df` lands
    * as a fresh segment the tombstone does not cover. The nested-chain
    * child-table path: deleting the children of replaced roots from a
    * 100 TB child table must not rewrite it. */
  def appendWithTombstone(table: String, df: DataFrame, tombColumn: String,
      ids: DataFrame, statsFor: Seq[String] = Nil): Unit = locked(table) {
    val existing = currentSegments(table)
    val tomb = writeTombstone(table, tombColumn, ids, existing)
    val dataSeg = writeSegment(table, df, statsFor)
    commit(table, existing :+ dataSeg, currentTombstones(table) :+ tomb)
  }

  /** The tombstone id-file write both tombstoning commits share.
    * Repartition, NOT coalesce: coalesce(1) would collapse the whole
    * upstream id computation (dest-root joins) onto a single task.
    * Bloom filter on the id column: point reads probe tombstone files
    * for membership ("is this id dead?") — the bloom turns that probe
    * into a footer check instead of an id-file scan. */
  private def writeTombstone(table: String, tombColumn: String,
      ids: DataFrame, covered: Seq[Segment]): Tombstone = {
    require(ids.columns.toSeq == Seq(tombColumn),
      s"tombstone ids must be a single '$tombColumn' column")
    val idSeg = s"data/${UUID.randomUUID().toString.take(12)}-tomb"
    ids.distinct().repartition(1).write.mode(SaveMode.Overwrite)
      .option(s"parquet.bloom.filter.enabled#$tombColumn", "true")
      .parquet(tableDir(table).resolve(idSeg).toString)
    Tombstone(idSeg, tombColumn, covered.map(_.name).toSet,
      Some(ColumnBridge.asNullable(ids.schema)))
  }

  /** Tombstone-only commit — the DELETE-only sibling of
    * [[appendWithTombstone]]: rows of the CURRENT segments whose
    * `tombColumn` appears in `ids` become dead, O(ids) written, no data
    * rewritten, no new data segment. Coverage is segment-scoped, so a
    * LATER append of the same id is untouched by this tombstone and
    * resurrects it — the Iceberg sequence-number rule for equality
    * deletes (a delete file applies only to data files with a smaller
    * sequence number), expressed here as an explicit coverage set.
    * Snapshot-consistent like every commit: [[readAt]] on an OLDER
    * snapshot reads that manifest's tombstone list and keeps seeing
    * the rows. The column must exist in the table — [[read]] silently
    * skips tombstones on columns a frame lacks (schema-evolution
    * tolerance), which would turn a typo'd delete into a reported
    * success that never deletes anything. */
  def deleteByIds(table: String, tombColumn: String,
      ids: DataFrame): Unit = locked(table) {
    val existing = currentSegments(table)
    require(existing.nonEmpty, s"table $table does not exist in $root")
    val columns = schemaOf(table, existing).fieldNames
    require(columns.contains(tombColumn),
      s"table $table has no '$tombColumn' column to delete by " +
        s"(columns: ${columns.mkString(", ")})")
    commit(table, existing, currentTombstones(table) :+
      writeTombstone(table, tombColumn, ids, existing))
  }

  def readOption(table: String): Option[DataFrame] =
    if (exists(table) && segments(table).nonEmpty) Some(read(table)) else None

  /** The live segments of `table` (with their pruning stats). */
  def segments(table: String): Seq[Segment] = currentSegments(table)

  /** Read a subset of segments (merge reads only the touched ones)
    * with their recorded schemas merged in manifest order — the fields
    * a `mergeSchema` footer read returns, without its footer job. */
  def readSegments(table: String, segs: Seq[Segment]): DataFrame = {
    require(segs.nonEmpty, "readSegments needs at least one segment")
    scan(table, segs.map(s => s.name -> s.schema))
  }

  /** Entries' parquet files read with their recorded schemas merged in
    * order; a `mergeSchema` footer read when any entry has none. */
  private def scan(table: String,
      entries: Seq[(String, Option[StructType])]): DataFrame = {
    val paths = entries.map(e => resolve(table, e._1).toString)
    mergedSchema(entries.map(_._2)) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }
  }

  /** The recorded schemas merged in order, or None if any is missing. */
  private def mergedSchema(schemas: Seq[Option[StructType]]): Option[StructType] =
    Option.when(schemas.forall(_.isDefined)) {
      val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
      schemas.flatten.distinct.reduce(ColumnBridge.mergeSchemas(_, _, caseSensitive))
    }

  /** The merged schema of `segs` — [[readSegments]]' schema. */
  private def schemaOf(table: String, segs: Seq[Segment]): StructType =
    mergedSchema(segs.map(_.schema)).getOrElse(readSegments(table, segs).schema)

  /** Append: write a new segment, commit old segments + new one.
    * `statsFor` columns get min/max stats for later merge pruning.
    * Existing tombstones survive — they never cover the new segment. */
  def append(table: String, df: DataFrame, statsFor: Seq[String] = Nil): Unit =
    locked(table) {
      val seg = writeSegment(table, df, statsFor)
      commit(table, currentSegments(table) :+ seg, currentTombstones(table))
    }

  /** Replace the table content atomically with `df`. `rangeBy` sorts/
    * range-partitions the segment on those columns before writing.
    * Tombstones are dropped: the content is fully replaced. */
  def overwrite(table: String, df: DataFrame, statsFor: Seq[String] = Nil,
      rangeBy: Seq[String] = Nil): Unit =
    locked(table) {
      commit(table, Seq(writeSegment(table, df, statsFor, rangeBy)))
    }

  /** Tombstones still meaningful when only `keep` segments survive. */
  private def liveTombstones(table: String, keep: Seq[Segment]): Seq[Tombstone] = {
    val names = keep.map(_.name).toSet
    currentTombstones(table)
      .map(t => t.copy(covered = t.covered.intersect(names)))
      .filter(_.covered.nonEmpty)
  }

  /** Commit `keep` (untouched segments) plus a new segment holding
    * `newData` — the pruned-merge commit. */
  def replaceSegments(table: String, keep: Seq[Segment], newData: DataFrame,
      statsFor: Seq[String] = Nil, rangeBy: Seq[String] = Nil): Unit = locked(table) {
    commit(table, keep :+ writeSegment(table, newData, statsFor, rangeBy),
      liveTombstones(table, keep))
  }

  /** Commit `keep` plus one new segment per write. `tags` are synthetic
    * stats entries stamped into the manifest (e.g. SCD2's active/closed
    * segment marker) — they ride the existing stats encoding. */
  def commitSegments(table: String, keep: Seq[Segment],
      writes: Seq[SegmentWrite]): Unit = locked(table) {
    val segs = writes.map { w =>
      val s = writeSegment(table, w.df, w.statsFor, w.rangeBy)
      s.copy(stats = s.stats ++ w.tags)
    }
    commit(table, keep ++ segs, liveTombstones(table, keep))
  }

  /** Zero-copy clone: new table points at the source's current segments
    * (reference staging-optimized replace / Delta SHALLOW CLONE,
    * dlt/destinations/sql_jobs.py:117-131). */
  def clone(from: String, to: String): Unit = locked2(from, to) {
    val segs = currentSegments(from)
    require(segs.nonEmpty, s"table $from does not exist")
    Files.createDirectories(tableDir(to))
    // cloned manifest entries become absolute pointers into the source;
    // tombstone covered-sets are remapped through the same rename
    def abs(n: String) = resolve(from, n).toString
    val absolute = segs.map(s => s.copy(name = abs(s.name)))
    val tombs = currentTombstones(from).map(t =>
      t.copy(name = abs(t.name), covered = t.covered.map(abs)))
    commit(to, absolute, tombs)
  }

  /** Zero-copy ADOPTION: atomically MOVE `from`'s current data segments
    * into `to`, commit them as `to`'s new content (a replace), then
    * drop `from`. The staging-optimized replace path: same zero-copy
    * cost as [[clone]] (directory renames, no bytes), but the
    * destination OWNS its files afterwards — no absolute pointers left
    * into a still-registered staging table (which would both dangle on
    * staging cleanup and read as a nested `<t>__staging` child table to
    * the pipeline's `__`-prefix scan). Source segments must be
    * store-owned (relative): adopting an imported absolute-path segment
    * would move a file out of the user's original location — use
    * [[copyInto]] for those. */
  def adopt(from: String, to: String): Unit = locked2(from, to) {
    val segs = currentSegments(from)
    require(segs.nonEmpty, s"table $from does not exist")
    require(currentTombstones(from).isEmpty,
      s"adopt needs a tombstone-free source, $from has live tombstones")
    require(segs.forall(s => !Paths.get(s.name).isAbsolute),
      s"adopt requires store-owned segments (use copyInto for imports)")
    Files.createDirectories(tableDir(to))
    val moved = segs.map { s =>
      val segName = s"data/${UUID.randomUUID().toString.take(12)}"
      val dst = tableDir(to).resolve(segName)
      Files.createDirectories(dst.getParent)
      val src = resolve(from, s.name)
      Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
      s.copy(name = segName)
    }
    commit(to, moved)
    drop(from)
  }

  /** Physical copy of `from`'s current snapshot into `to`, committed as
    * a replace. Data FILES are copied byte-for-byte — the warehouse
    * `INSERT INTO dest SELECT * FROM staging` analog: the destination
    * owns its own physical copy (unlike [[clone]]'s shared pointers),
    * but no Spark decode/re-encode round runs and no executor job is
    * scheduled. Pruning stats ride along unchanged since the bytes do.
    * On a real cluster this binds to the storage layer's server-side
    * copy (S3 CopyObject / DistCp), still O(bytes moved), never
    * O(bytes decoded). Source must be tombstone-free (true for fresh
    * staging tables by construction). */
  def copyInto(from: String, to: String): Unit = locked2(from, to) {
    val segs = currentSegments(from)
    require(segs.nonEmpty, s"table $from does not exist")
    require(currentTombstones(from).isEmpty,
      s"copyInto needs a tombstone-free source, $from has live tombstones")
    val copied = segs.map { s =>
      val segName = s"data/${UUID.randomUUID().toString.take(12)}"
      val dstDir = tableDir(to).resolve(segName)
      Files.createDirectories(dstDir)
      val src = resolve(from, s.name)
      // a segment is normally a flat parquet directory, but importFiles
      // registers bare files and a future writer may emit partitioned
      // subtrees — walk the FULL tree (preserving relative layout) so
      // nested content is copied, never silently dropped
      def hidden(p: java.nio.file.Path) = {
        val n = p.getFileName.toString
        n.startsWith(".") || n.startsWith("_")
      }
      if (Files.isRegularFile(src))
        Files.copy(src, dstDir.resolve(src.getFileName.toString),
          StandardCopyOption.REPLACE_EXISTING)
      else {
        val walk = Files.walk(src)
        try walk.filter(p => Files.isRegularFile(p) && !hidden(p)).forEach { p =>
          val rel = src.relativize(p)
          if (!(0 until rel.getNameCount - 1).exists(i => hidden(rel.getName(i)))) {
            val dst = dstDir.resolve(rel.toString)
            Files.createDirectories(dst.getParent)
            Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
          }
        } finally walk.close()
      }
      s.copy(name = segName)
    }
    commit(to, copied)
  }

  /** Direct file import: register existing parquet files as live
    * segments WITHOUT reading or rewriting them (reference import-files
    * normalizer, dlt/normalize/items_normalizers/file_import.py, and the
    * arrow direct-import fast path, items_normalizers/arrow.py:161-210).
    * At 100 TB this is the difference between an O(bytes) rewrite and an
    * O(1) metadata commit — the `CONVERT TO DELTA`/`ADD FILES` analog. */
  /** Commit a DRIVER-WRITTEN parquet file as a new segment — the
    * tiny-append fast path for system-table ledger rows (see
    * [[TinyParquet]]): `write` receives the destination path inside the
    * table's data dir and returns the file's Spark schema (what
    * [[TinyParquet.write]] returns), which the manifest records; the
    * commit is the same atomic manifest swap an executor-written
    * segment gets. */
  def appendDriverFile(table: String)(write: Path => StructType): Unit =
    locked(table) {
      val seg = writeDriverSegment(table)(write)
      commit(table, currentSegments(table) :+ seg, currentTombstones(table))
    }

  /** OVERWRITE with a driver-written parquet file — [[appendDriverFile]]
    * with replace semantics: the new segment becomes the table's whole
    * segment list (tombstones cleared, like [[overwrite]]). The
    * single-row-config fast path (index metadata, collection manifests)
    * — a Spark job per one-row rewrite is pure fixed overhead. */
  def overwriteDriverFile(table: String)(write: Path => StructType): Unit =
    locked(table) {
      val seg = writeDriverSegment(table)(write)
      commit(table, Seq(seg))
    }

  private def writeDriverSegment(table: String)(
      write: Path => StructType): Segment = {
    val name = s"data/${UUID.randomUUID().toString.take(12)}.parquet"
    val p = tableDir(table).resolve(name)
    Files.createDirectories(p.getParent)
    Segment(name, Map.empty, Some(write(p)))
  }

  /** Driver-side read of a TINY table's current rows — no Spark job.
    * For system/manifest tables whose row count is driver-small BY
    * CONTRACT (collection manifests, index config): each probe of a
    * persisted vector collection resolves its generation through these
    * rows, and a Spark job per metadata read (100-300 ms fixed) would
    * dominate the probe itself. Flat primitive schemas only; refuses
    * tables carrying tombstones (merge-on-read does not apply here —
    * these ledgers are append/overwrite-only by construction). */
  def readDriverRows(table: String): Seq[Map[String, Any]] = {
    // NO lock — like read(): the atomic _CURRENT swap means an
    // unlocked manifest read always resolves a complete snapshot
    require(currentTombstones(table).isEmpty,
      s"readDriverRows($table): table carries tombstones — read via Spark")
    val segs = currentSegments(table)
    require(segs.nonEmpty, s"table $table does not exist in $root")
    segs.flatMap(s => readSegmentDriver(table, s))
  }

  /** The LAST segment's rows only — O(1) in commit count where
    * [[readDriverRows]] is O(segments). For ledgers whose newest entry
    * is the live one (collection manifests: each commit appends one
    * generation row, so the newest generation is always in the last
    * segment), this keeps per-probe metadata resolution constant as
    * the table accumulates commits. */
  def readDriverRowsLast(table: String): Seq[Map[String, Any]] = {
    require(currentTombstones(table).isEmpty,
      s"readDriverRowsLast($table): table carries tombstones — read via Spark")
    val segs = currentSegments(table)
    require(segs.nonEmpty, s"table $table does not exist in $root")
    readSegmentDriver(table, segs.last)
  }

  /** [[readDriverRows]] at a pinned snapshot (see [[readAt]]). */
  def readDriverRowsAt(table: String, snapshot: Long): Seq[Map[String, Any]] = {
    val m = manifestAt(table, snapshot)
    require(m.tombstones.isEmpty,
      s"readDriverRowsAt($table): snapshot carries tombstones — read via Spark")
    m.segments.flatMap(s => readSegmentDriver(table, s))
  }

  /** One segment's rows via the driver parquet reader — a segment is
    * either a single driver-written file or a Spark-written directory
    * of part files (read in name order for determinism). */
  private def readSegmentDriver(table: String,
      s: Segment): Seq[Map[String, Any]] = {
    val p = resolve(table, s.name)
    if (Files.isDirectory(p))
      listDir(p).filter { f =>
        val n = f.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }.sortBy(_.getFileName.toString).flatMap(TinyParquet.readFile)
    else TinyParquet.readFile(p)
  }

  def importFiles(table: String, paths: Seq[String]): Unit = locked(table) {
    require(paths.nonEmpty, "importFiles needs at least one path")
    val absolute = paths.map(p =>
      Segment(Paths.get(p).toAbsolutePath.toString, Map.empty))
    Files.createDirectories(tableDir(table))
    commit(table, currentSegments(table) ++ absolute, currentTombstones(table))
  }

  /** Stat-pruned read: only segments whose `column` range intersects
    * [lo, hi] (None = unbounded) are scanned — segment-level file
    * skipping BEFORE Spark's parquet row-group pruning, which saves the
    * file listing + footer reads that dominate point lookups on huge
    * tables. Falls back to the full read when any segment lacks stats.
    * Callers still apply the real filter on top; pruning only skips
    * files that cannot match. */
  def readPruned(table: String, column: String,
      lo: Option[String], hi: Option[String]): DataFrame = {
    val segs = currentSegments(table)
    if (segs.isEmpty || !segs.forall(_.stats.contains(column))) read(table)
    else {
      val live = segs.filter { s =>
        val st = s.stats(column)
        val aboveLo = lo.forall(l =>
          if (st.numeric) Try(BigDecimal(st.max) >= BigDecimal(l)).getOrElse(true)
          else st.max >= l)
        val belowHi = hi.forall(h =>
          if (st.numeric) Try(BigDecimal(st.min) <= BigDecimal(h)).getOrElse(true)
          else st.min <= h)
        aboveLo && belowHi
      }
      // tombstone-aware point read: for an equality probe, a segment all
      // of whose matching rows are dead under a covering tombstone cannot
      // contribute — skip its data files entirely. (The caller filters to
      // col = v on top, and a tombstone kills exactly the covered-segment
      // rows whose id is in its file, so membership of v ⇒ no survivors.)
      val alive = (lo, hi) match {
        case (Some(l), Some(h)) if l == h =>
          val tombs = currentTombstones(table).filter(_.column == column)
          if (tombs.isEmpty) live
          else {
            val dead = tombs.filter(tombstoneContains(table, _, l))
              .flatMap(_.covered).toSet
            live.filterNot(s => dead(s.name))
          }
        case _ => live
      }
      if (alive.isEmpty) read(table).limit(0)
      else readSegmentsApplied(table, alive)
    }
  }

  /** Is `value` among a tombstone's dead ids? An equality pushdown over
    * the (single-file, bloom-filtered) id parquet — a footer probe, not
    * a scan. Conservative on any failure: report absent (no pruning). */
  private def tombstoneContains(table: String, t: Tombstone,
      value: String): Boolean =
    Try {
      val df = scan(table, Seq(t.name -> t.schema))
      val dt = df.schema(t.column).dataType
      !df.filter(col(t.column) === org.apache.spark.sql.functions.lit(value)
        .cast(dt)).isEmpty
    }.getOrElse(false)

  /** Compaction (the `OPTIMIZE` analog): rewrite the live segments into
    * one when the table has accumulated more than `maxSegments` data
    * segments or `maxSegments` tombstones — the small-files problem is
    * the classic failure mode of manifest stores under frequent
    * appends; unbounded tombstone chains are its merge-on-read cousin.
    * Tombstones are folded in (dead rows physically dropped) and
    * cleared. Stats are recomputed for every column any segment
    * tracked. Returns true when a compaction ran. */
  def compact(table: String, maxSegments: Int = 16): Boolean = locked(table) {
    // one manifest read decides the (common) no-op case — this runs
    // after every chain child load, so the guard must not re-list state
    val m = currentManifest(table)
    if (m.segments.size <= maxSegments && m.tombstones.size <= maxSegments)
      false
    else {
      val statCols = m.segments.flatMap(_.stats.keys).distinct
      commit(table, Seq(writeSegment(table,
        appliedRead(table, m.segments, m.tombstones), statCols)))
      true
    }
  }

  /** Garbage-collect a table's directory (the `VACUUM` analog): delete
    * data/tombstone directories referenced by NO retained manifest, and
    * all manifests older than the `retainManifests` most recent. The
    * current manifest is always retained, so readers of the live
    * snapshot are never broken; keeping a few older manifests preserves
    * a time-travel/late-reader grace window, the same contract as
    * Delta's VACUUM retention period.
    *
    * Caveat (shared with shallow-clone lakehouses): a [[clone]] points
    * at the SOURCE table's directories by absolute path — vacuuming a
    * table that has live clones can delete data out from under them.
    * Returns the number of directories deleted. */
  def vacuum(table: String, retainManifests: Int = 2,
      retainSnapshots: Set[Long] = Set.empty): Int = locked(table) {
    val dir = tableDir(table)
    if (!Files.exists(dir.resolve("_CURRENT"))) return 0
    val current = new String(Files.readAllBytes(dir.resolve("_CURRENT")),
      StandardCharsets.UTF_8).trim
    val manifests = manifestNames(table)
    // manifests are ordered by snapshot id → newest last; retain current,
    // plus any EXPLICITLY PINNED snapshots AND — regardless of entry
    // point — any snapshot a vector collection's generation manifest
    // still pins (VectorSink.pinnedSnapshotsFor): a raw vacuum of a
    // collection sub-table must be exactly as safe as the routed
    // VectorSink.vacuumCollection, or one direct call breaks every
    // historical generation probe
    val allPins = retainSnapshots ++
      VectorSink.pinnedSnapshotsFor(this, table) ++ pinnedSnapshots(table)
    val pinned = allPins.map(s => s"manifest-$s.txt")
      .filter(manifests.contains)
    val retained = (manifests.takeRight(math.max(1, retainManifests)) ++
      pinned :+ current).distinct
    gcRetaining(table, manifests, retained)
  }

  /** Snapshot id of a manifest file name. */
  private def snapOf(m: String): Long =
    m.stripPrefix("manifest-").stripSuffix(".txt").toLong

  /** The table's manifest file names ordered by snapshot id, oldest →
    * newest — the ONE listing behind [[vacuum]] and [[applyRetention]].
    * NUMERIC ordering: snapshot ids are nanoTime values, and a string
    * sort misorders them whenever ids cross a digit-count boundary
    * ("999…" sorts after "1000…"), which would make a keep-newest
    * window retain the OLDEST manifests and GC the recent ones. */
  private def manifestNames(table: String): Seq[String] =
    listDir(tableDir(table))
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("manifest-") && n.endsWith(".txt"))
      .sortBy(snapOf)

  /** The GC core shared by [[vacuum]] and [[applyRetention]]: delete
    * every data/tombstone directory referenced by NO retained manifest
    * and every non-retained manifest file. Caller holds the table
    * lock and has already folded every pin source into `retained`. */
  private def gcRetaining(table: String, manifests: Seq[String],
      retained: Seq[String]): Int = {
    val dir = tableDir(table)
    def referenced(manifest: String): Set[String] = {
      val p = dir.resolve(manifest)
      if (!Files.exists(p)) Set.empty
      else {
        val m = parseManifest(p)
        // only names under THIS table's data/ dir are vacuum-managed;
        // absolute pointers (imports, clone sources) live elsewhere
        (m.segments.map(_.name) ++ m.tombstones.map(_.name))
          .filterNot(Paths.get(_).isAbsolute).toSet
      }
    }
    val live = retained.flatMap(referenced).toSet
    val dataDir = dir.resolve("data")
    var deleted = 0
    if (Files.exists(dataDir)) {
      listDir(dataDir).foreach { seg =>
        if (!live.contains(s"data/${seg.getFileName}")) {
          val w = Files.walk(seg)
          try w.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(Files.delete)
          finally w.close()
          deleted += 1
        }
      }
    }
    manifests.filterNot(retained.contains)
      .foreach(m => Files.deleteIfExists(dir.resolve(m)))
    deleted
  }

  /** PIN a snapshot against retention (persisted in `<table>/_PINS`,
    * one id per line): [[vacuum]] and [[applyRetention]] always retain
    * it, so [[readAt]] time travel to it keeps working under any
    * retention schedule — the lakehouse twin of
    * [[VectorSink.pinGeneration]] (Iceberg tag semantics). Validates
    * the snapshot exists NOW; the pin then guarantees it keeps
    * existing. */
  def pinSnapshot(table: String, snapshot: Long): Unit = locked(table) {
    val live = snapshots(table)
    require(live.contains(snapshot),
      s"cannot pin snapshot $snapshot of '$table' — not in history " +
        s"(live: ${live.mkString(", ")})")
    writeSnapshotPins(table, pinnedSnapshots(table) + snapshot)
  }

  /** Remove a [[pinSnapshot]] pin (no-op if not pinned). */
  def unpinSnapshot(table: String, snapshot: Long): Unit = locked(table) {
    writeSnapshotPins(table, pinnedSnapshots(table) - snapshot)
  }

  /** The currently pinned snapshot ids (empty if none). A malformed
    * line fails with the FILE named (every GC/pin entry point reads
    * this — a bare NumberFormatException would brick maintenance on
    * the table without saying why). */
  def pinnedSnapshots(table: String): Set[Long] = {
    val p = tableDir(table).resolve("_PINS")
    if (!Files.exists(p)) Set.empty
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .linesIterator.map(_.trim).filter(_.nonEmpty).map { l =>
        try l.toLong
        catch { case _: NumberFormatException =>
          throw new IllegalStateException(
            s"$p holds a malformed pin line '$l' — every line must be " +
              "one snapshot id; fix or delete the file to recover")
        }
      }.toSet
  }

  private def writeSnapshotPins(table: String, pins: Set[Long]): Unit = {
    val p = tableDir(table).resolve("_PINS")
    if (pins.isEmpty) { Files.deleteIfExists(p); () }
    else {
      val tmp = tableDir(table).resolve(s"_PINS.tmp.${System.nanoTime()}")
      Files.write(tmp, pins.toSeq.sorted.mkString("\n")
        .getBytes(StandardCharsets.UTF_8), StandardOpenOption.CREATE)
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** SNAPSHOT RETENTION policy sweep — Delta/Iceberg snapshot expiry
    * on the table plane (the [[VectorSink.applyRetention]] twin): a
    * snapshot is EXPIRED when it falls outside the newest `keepLast`
    * manifests AND (when `ttlMs` is given) its manifest file's
    * wall-clock mtime is older than `now − ttlMs` (snapshot ids are
    * nanoTime — monotonic but origin-arbitrary, so age comes from the
    * file, not the id). Never removed: the CURRENT snapshot, every
    * [[pinSnapshot]] pin, and every snapshot a vector collection's
    * generation manifest still references. Expired manifests and the
    * segments only they reference are deleted in the same locked pass.
    * `now` is injectable so policies replay deterministically in
    * tests/gates. Returns (expired snapshot ids, remaining snapshot
    * ids), oldest → newest. */
  def applyRetention(table: String, keepLast: Int,
      ttlMs: Option[Long] = None,
      now: Long = System.currentTimeMillis()): (Seq[Long], Seq[Long]) =
    locked(table) {
      require(keepLast >= 1, "keep at least the live snapshot")
      ttlMs.foreach(t => require(t >= 0L, s"ttlMs must be >= 0, got $t"))
      val dir = tableDir(table)
      if (!Files.exists(dir.resolve("_CURRENT"))) return (Nil, Nil)
      val current = new String(Files.readAllBytes(dir.resolve("_CURRENT")),
        StandardCharsets.UTF_8).trim
      val manifests = manifestNames(table)
      val pins = pinnedSnapshots(table) ++
        VectorSink.pinnedSnapshotsFor(this, table)
      def young(m: String): Boolean = ttlMs.exists { t =>
        val p = dir.resolve(m)
        Files.exists(p) &&
          now - Files.getLastModifiedTime(p).toMillis <= t
      }
      val keepWindow = manifests.takeRight(keepLast).toSet
      val retained = manifests.filter(m =>
        keepWindow(m) || pins(snapOf(m)) || young(m) || m == current)
      gcRetaining(table, manifests, (retained :+ current).distinct)
      (manifests.filterNot(retained.contains).map(snapOf),
        retained.map(snapOf))
    }

  def drop(table: String): Unit = locked(table) {
    val dir = tableDir(table)
    if (Files.exists(dir)) {
      // _CURRENT first: the table disappears atomically, and an unlocked
      // reader never finds a _CURRENT naming an already-deleted manifest
      Files.deleteIfExists(dir.resolve("_CURRENT"))
      val w = Files.walk(dir)
      try w.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
      finally w.close()
    }
  }

  /** Empty the table but KEEP its schema (reference drop_data refresh
    * truncates without dropping, pipeline/drop.py): the committed state
    * becomes a single schema-only parquet segment. */
  def truncate(table: String): Unit = locked(table) {
    if (exists(table)) {
      currentSegments(table) match {
        case Nil => ()
        case segs =>
          val schema = schemaOf(table, segs)
          val empty = spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          commit(table, Seq(writeSegment(table, empty.coalesce(1), Nil)))
      }
    }
  }

  // --- internals ---

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }

  private def writeSegment(table: String, df: DataFrame,
      statsFor: Seq[String], rangeBy: Seq[String] = Nil): Segment = {
    val seg = s"data/${UUID.randomUUID().toString.take(12)}"
    val cols = statsFor.distinct.filter(df.columns.contains)
    // range layout: globally range-partition + sort on the key so each
    // parquet file (and each row group) covers a tight key interval —
    // manifest pruning works at segment level, this makes parquet's
    // min/max row-group skipping surgical below it.
    // repartitionByRange SAMPLES its input to pick boundaries, then reads
    // it again for the exchange — an unpersisted merge result (joins over
    // dest + staging) would execute its whole subtree twice, so pin it.
    // size-aware: below ~one split of data the whole segment is a
    // couple of row groups — manifest min/max stats prune it as one
    // unit and there is nothing for an in-file range layout to skip, so
    // the sampling pass + exchange (one extra job + a persist per
    // segment write, the dominant fixed cost of a small load) buys
    // nothing. The Catalyst size estimate errs HIGH on join plans
    // (row-product), so an underestimate that skips a layout a huge
    // segment wanted is the rare direction.
    val sizeEst = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val layoutWorthIt = sizeEst > spark.sessionState.conf.filesMaxPartitionBytes
    val rangeKeys = if (layoutWorthIt) rangeBy.filter(df.columns.contains) else Nil
    val pinned = Option.when(rangeKeys.nonEmpty)(
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val layout = pinned match {
      case None => df
      case Some(p) => p.repartitionByRange(rangeKeys.map(col): _*)
        .sortWithinPartitions(rangeKeys.map(col): _*)
    }
    try writeLayout(table, df, layout, seg, cols)
    finally pinned.foreach(_.unpersist(blocking = false))
  }

  private def writeLayout(table: String, df: DataFrame, layout: DataFrame,
      seg: String, cols: Seq[String]): Segment = {
    val (toWrite, obs) =
      if (cols.isEmpty) (layout, None)
      else {
        val o = new Observation(s"seg-${UUID.randomUUID().toString.take(8)}")
        val exprs = cols.flatMap(c => Seq(
          min(col(c)).cast("string").as(s"min_$c"),
          max(col(c)).cast("string").as(s"max_$c")))
        (layout.observe(o, exprs.head, exprs.tail: _*), Some(o))
      }
    // parquet bloom filters on the key columns: equality probes on
    // uuid-like keys (where range stats are weak) skip row groups
    val writer = cols.foldLeft(toWrite.write.mode(SaveMode.Overwrite)) {
      (w, c) => w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }
    writer.parquet(tableDir(table).resolve(seg).toString)
    val stats = obs.map { o =>
      val m = o.get
      cols.flatMap { c =>
        (Option(m(s"min_$c")), Option(m(s"max_$c"))) match {
          case (Some(mn), Some(mx)) =>
            Some(c -> ColStats(mn.toString, mx.toString,
              isNumeric(df.schema(c).dataType)))
          case _ => None // all-null or empty segment: no stats
        }
      }.toMap
    }.getOrElse(Map.empty)
    Segment(seg, stats, Some(ColumnBridge.asNullable(layout.schema)))
  }

  private def resolve(table: String, name: String): Path = {
    val p = Paths.get(name)
    if (p.isAbsolute) p else tableDir(table).resolve(name)
  }

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  // line grammar: see the class doc
  private def encodeSegment(s: Segment, ids: Map[StructType, Int]): String = {
    val stats = s.stats.toSeq.sortBy(_._1).map { case (c, st) =>
      Seq(enc(c), if (st.numeric) "n" else "s", enc(st.min), enc(st.max)).mkString(",")
    }.mkString(";")
    s.schema match {
      case Some(sc) => s"${s.name}\t$stats\t${ids(sc)}"
      case None => if (stats.isEmpty) s.name else s"${s.name}\t$stats"
    }
  }

  private def encodeTombstone(t: Tombstone, ids: Map[StructType, Int]): String =
    (Seq("!", enc(t.name), enc(t.column),
      t.covered.toSeq.sorted.map(enc).mkString(",")) ++
      t.schema.map(ids(_).toString)).mkString("\t")

  /** DDL when it round-trips and fits on one manifest line, else JSON
    * (which escapes control characters). */
  private def encodeSchema(id: Int, s: StructType): String = {
    val ddl = s.toDDL
    val asDdl = !ddl.exists(c => c == '\t' || c == '\n' || c == '\r') &&
      Try(StructType.fromDDL(ddl) == s).getOrElse(false)
    if (asDdl) s"@\t$id\td\t$ddl" else s"@\t$id\tj\t${s.json}"
  }

  private def malformed(file: Path, line: String): Nothing =
    throw new IllegalStateException(
      s"manifest $file holds a malformed line '$line' — restore the file " +
        "or point _CURRENT at a retained manifest to recover")

  private def decodeSchema(file: Path, line: String): (String, StructType) =
    line.split("\t", 4) match {
      case Array("@", id, kind, text) =>
        val parsed = Try(kind match {
          case "d" => StructType.fromDDL(text)
          case "j" => DataType.fromJson(text) match { case st: StructType => st }
        })
        id -> parsed.getOrElse(malformed(file, line))
      case _ => malformed(file, line)
    }

  private def decodeTombstone(line: String,
      ref: String => Option[StructType]): Option[Tombstone] = {
    def tomb(name: String, c: String, covered: String, schema: Option[StructType]) =
      Some(Tombstone(dec(name), dec(c),
        covered.split(",").filter(_.nonEmpty).map(dec).toSet, schema))
    line.split("\t", 5) match {
      case Array("!", name, c, covered) => tomb(name, c, covered, None)
      case Array("!", name, c, covered, id) => tomb(name, c, covered, ref(id))
      case _ => None
    }
  }

  private def decodeSegment(line: String,
      ref: String => Option[StructType]): Segment = {
    def stats(enc: String) = enc.split(";").filter(_.nonEmpty).flatMap { part =>
      part.split(",", 4) match {
        case Array(c, kind, mn, mx) =>
          Some(dec(c) -> ColStats(dec(mn), dec(mx), kind == "n"))
        case _ => None
      }
    }.toMap
    line.split("\t", 3) match {
      case Array(name) => Segment(name, Map.empty)
      case Array(name, st) => Segment(name, stats(st))
      case Array(name, st, id) => Segment(name, stats(st), ref(id))
    }
  }

  private def parseManifest(file: Path): Manifest = {
    val lines = new String(Files.readAllBytes(file), StandardCharsets.UTF_8)
      .linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    val (schemaLines, entries) = lines.partition(_.startsWith("@"))
    val schemas = schemaLines.map(decodeSchema(file, _)).toMap
    def ref(id: String): Option[StructType] =
      Some(schemas.getOrElse(id, malformed(file, s"<reference to schema $id>")))
    val (tombLines, segLines) = entries.partition(_.startsWith("!"))
    Manifest(segLines.map(decodeSegment(_, ref)),
      tombLines.flatMap(decodeTombstone(_, ref)))
  }

  /** The manifest `_CURRENT` names (empty when the table does not
    * exist). A `_CURRENT` naming a missing manifest throws: reading the
    * table as absent would silently lose every committed row. */
  private def currentManifest(table: String): Manifest = {
    val cur = tableDir(table).resolve("_CURRENT")
    if (!Files.exists(cur)) Manifest(Nil, Nil)
    else {
      val manifest = tableDir(table).resolve(
        new String(Files.readAllBytes(cur), StandardCharsets.UTF_8).trim)
      if (!Files.exists(manifest))
        throw new IllegalStateException(s"$cur names manifest $manifest, " +
          "which does not exist — point _CURRENT at a retained manifest " +
          "to recover")
      parseManifest(manifest)
    }
  }

  private def currentSegments(table: String): Seq[Segment] =
    currentManifest(table).segments

  private def currentTombstones(table: String): Seq[Tombstone] =
    currentManifest(table).tombstones

  private def commit(table: String, segments: Seq[Segment],
      tombstones: Seq[Tombstone] = Nil): Unit = {
    val dir = tableDir(table)
    Files.createDirectories(dir)
    val n = System.nanoTime()
    val manifest = s"manifest-$n.txt"
    val schemas = (segments.flatMap(_.schema) ++ tombstones.flatMap(_.schema)).distinct
    val ids = schemas.zipWithIndex.toMap
    val lines = schemas.zipWithIndex.map { case (s, i) => encodeSchema(i, s) } ++
      segments.map(encodeSegment(_, ids)) ++ tombstones.map(encodeTombstone(_, ids))
    Files.write(dir.resolve(manifest),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    val tmp = dir.resolve(s"_CURRENT.tmp.$n")
    Files.write(tmp, manifest.getBytes(StandardCharsets.UTF_8), StandardOpenOption.CREATE)
    Files.move(tmp, dir.resolve("_CURRENT"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
