package graft.write

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Merge-strategy matrix (FIXTURES.md §A3): initial load + overlapping
  * second load → expected final table, per disposition. */
class WriteSpec extends SparkSpec {
  import spark.implicits._

  private def newStore() =
    new TableStore(Files.createTempDirectory("graft-store").toString, spark)

  private def dispo(store: TableStore) = new Dispositions(store, spark)

  private val load1 = Seq((1L, "a", 1), (2L, "b", 1), (3L, "c", 1))
  private val load2 = Seq((2L, "b2", 2), (4L, "d", 2))

  test("append accumulates rows and stamps _dlt_load_id") {
    val store = newStore()
    val d = dispo(store)
    d.append("t", load1.toDF("id", "v", "ver"), "1")
    d.append("t", load2.toDF("id", "v", "ver"), "2")
    val out = store.read("t")
    assert(out.count() == 5)
    assert(out.select("_dlt_load_id").distinct().count() == 2)
    assert(d.loadIds == Seq("1", "2"))
  }

  test("time travel reads old snapshots across appends, tombstones and vacuum") {
    val store = newStore()
    store.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val s1 = store.snapshots("t").last
    store.append("t", Seq((3L, "c")).toDF("id", "v"))
    val s2 = store.snapshots("t").last
    // merge-on-read delete of id=1 + insert of id=4 in one commit
    store.appendWithTombstone("t", Seq((4L, "d")).toDF("id", "v"),
      "id", Seq(Tuple1(1L)).toDF("id"))
    assert(store.readAt("t", s1).select("id").as[Long].collect().sorted
      === Array(1L, 2L))
    assert(store.readAt("t", s2).select("id").as[Long].collect().sorted
      === Array(1L, 2L, 3L))
    assert(store.read("t").select("id").as[Long].collect().sorted
      === Array(2L, 3L, 4L))
    assert(store.snapshots("t").size === 3)
    // vacuum prunes old manifests; the pruned snapshot refuses cleanly
    store.vacuum("t", retainManifests = 1)
    intercept[IllegalArgumentException](store.readAt("t", s1))
    assert(store.read("t").select("id").as[Long].collect().sorted
      === Array(2L, 3L, 4L))
  }

  test("snapshot retention: keep-N/TTL expiry, pins retain and survive " +
      "vacuum, time travel to pins keeps working") {
    val store = newStore()
    store.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val s1 = store.snapshots("t").last
    store.append("t", Seq((3L, "c")).toDF("id", "v"))
    store.append("t", Seq((4L, "d")).toDF("id", "v"))
    val all = store.snapshots("t")
    assert(all.size === 3 && all.head === s1)
    // pin validation: unknown snapshot refuses
    intercept[IllegalArgumentException](store.pinSnapshot("t", 99L))
    store.pinSnapshot("t", s1)
    assert(store.pinnedSnapshots("t") === Set(s1))
    // keepLast beyond history + TTL=infinity: nothing expires
    assert(store.applyRetention("t", keepLast = 5)._1.isEmpty)
    assert(store.applyRetention("t", keepLast = 1,
      ttlMs = Some(Long.MaxValue))._1.isEmpty)
    // keep-1 sweep: the middle snapshot expires, the pin survives
    val (removed, remaining) = store.applyRetention("t", keepLast = 1)
    assert(removed === Seq(all(1)))
    assert(remaining === Seq(s1, all.last))
    // pinned snapshot still time-travels after the sweep's GC
    assert(store.readAt("t", s1).select("id").as[Long].collect().sorted
      === Array(1L, 2L))
    // a RAW vacuum folds the pins in too (one direct call must be as
    // safe as the policy path)
    store.vacuum("t", retainManifests = 1)
    assert(store.readAt("t", s1).select("id").as[Long].collect().sorted
      === Array(1L, 2L))
    // unpin (empty set drops _PINS) + TTL=0 at a future now: expires
    store.unpinSnapshot("t", s1)
    assert(store.pinnedSnapshots("t") === Set.empty[Long])
    val (r2, rem2) = store.applyRetention("t", keepLast = 1,
      ttlMs = Some(0L), now = System.currentTimeMillis() + 60000L)
    assert(r2 === Seq(s1) && rem2 === Seq(all.last))
    intercept[IllegalArgumentException](store.readAt("t", s1))
    // live reads unaffected throughout
    assert(store.read("t").select("id").as[Long].collect().sorted
      === Array(1L, 2L, 3L, 4L))
  }

  test("dataset facade exposes lakehouse snapshot pins and retention") {
    val store = newStore()
    store.overwrite("t", Seq((1L, "a")).toDF("id", "v"))
    val s1 = store.snapshots("t").last
    store.append("t", Seq((2L, "b")).toDF("id", "v"))
    store.append("t", Seq((3L, "c")).toDF("id", "v"))
    val ds = new graft.dataset.GraftDataset(store,
      new graft.schema.SchemaRegistry("ret"), spark)
    ds.pinSnapshot("t", s1)
    assert(ds.pinnedSnapshots("t") === Set(s1))
    // name normalization rides the facade like every other entry point
    assert(ds.pinnedSnapshots("T") === Set(s1))
    val (removed, remaining) = ds.retainTable("t", keepLast = 1)
    assert(removed.size === 1 && remaining.contains(s1),
      s"pin must survive the facade sweep: removed=$removed")
    // time travel through the facade to the pinned snapshot still works
    assert(ds.asOf("t", s1).df().select("id").as[Long].collect()
      === Array(1L))
    ds.unpinSnapshot("t", s1)
    assert(ds.pinnedSnapshots("t") === Set.empty[Long])
  }

  test("copyInto gives the destination its own physical bytes and keeps stats") {
    val store = newStore()
    store.overwrite("stg", load1.toDF("id", "v", "ver"), statsFor = Seq("id"))
    store.copyInto("stg", "dest")
    // stats survive the byte copy (no re-scan needed to keep pruning)
    assert(store.segments("dest").forall(_.stats.contains("id")))
    // destination is independent of the source's files: drop the source,
    // the copy still reads (clone would dangle here)
    store.drop("stg")
    assert(store.read("dest").select("id").as[Long].collect().sorted
      === Array(1L, 2L, 3L))
    // replace semantics: a second copy fully supersedes the first
    store.overwrite("stg2", load2.toDF("id", "v", "ver"))
    store.copyInto("stg2", "dest")
    assert(store.read("dest").select("id").as[Long].collect().sorted
      === Array(2L, 4L))
    // bare-FILE segments (importFiles registers files, not dirs) copy too
    val dir = Files.createTempDirectory("graft-cif")
    load1.toDF("id", "v", "ver").coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("p").toString)
    val one = {
      val s = Files.list(dir.resolve("p"))
      try s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    store.importFiles("stg3", Seq(one.toString))
    store.copyInto("stg3", "dest")
    assert(store.read("dest").count() === 3)
  }

  test("clone is zero-copy shallow; adopt moves ownership and drops the source") {
    val store = newStore()
    store.overwrite("src", load1.toDF("id", "v", "ver"), statsFor = Seq("id"))
    // clone: shared files (absolute pointers), snapshot-isolated
    store.clone("src", "c")
    assert(store.segments("c").forall(s =>
      java.nio.file.Paths.get(s.name).isAbsolute))
    store.append("src", Seq((9L, "z", 9)).toDF("id", "v", "ver"))
    assert(store.read("c").count() === 3, "clone must not see later appends")
    // adopt: destination owns the moved segments, source is GONE
    store.overwrite("stg", load2.toDF("id", "v", "ver"), statsFor = Seq("id"))
    store.adopt("stg", "adopted")
    assert(!store.exists("stg"), "adopt must drop the source table")
    assert(store.read("adopted").select("id").as[Long].collect().sorted
      === Array(2L, 4L))
    assert(store.segments("adopted").forall(s =>
      !java.nio.file.Paths.get(s.name).isAbsolute && s.stats.contains("id")))
    // a staging-optimized replace leaves NO staging table registered
    val d = dispo(store)
    d.replace("t", load1.toDF("id", "v", "ver"), "1", ReplaceStrategy.StagingOptimized)
    assert(!store.tables.contains("t__staging"))
  }

  test("replace strategies all end with only the new load") {
    for (s <- Seq(ReplaceStrategy.TruncateAndInsert, ReplaceStrategy.InsertFromStaging,
      ReplaceStrategy.StagingOptimized)) {
      val store = newStore()
      val d = dispo(store)
      d.replace("t", load1.toDF("id", "v", "ver"), "1", s)
      d.replace("t", load2.toDF("id", "v", "ver"), "2", s)
      val out = store.read("t")
      assert(out.count() == 2, s"strategy $s")
      assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(2L, 4L), s"strategy $s")
    }
  }

  test("merge delete-insert replaces matching keys and inserts new ones") {
    val store = newStore()
    val d = dispo(store)
    val cfg = MergeConfig(primaryKey = Seq("id"))
    d.merge("t", load1.toDF("id", "v", "ver"), cfg, "1")
    d.merge("t", load2.toDF("id", "v", "ver"), cfg, "2")
    val out = store.read("t").orderBy("id")
    assert(out.select("id").as[Long].collect().toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out.filter($"id" === 2L).select("v").as[String].head() == "b2")
  }

  test("merge dedup keeps the highest dedup_sort row per key") {
    val store = newStore()
    val d = dispo(store)
    val cfg = MergeConfig(primaryKey = Seq("id"), dedupSort = Some("ver"))
    val staged = Seq((1L, "old", 1), (1L, "new", 9), (2L, "x", 1)).toDF("id", "v", "ver")
    d.merge("t", staged, cfg, "1")
    val out = store.read("t").orderBy("id")
    assert(out.count() == 2)
    assert(out.filter($"id" === 1L).select("v").as[String].head() == "new")
    // explicit asc keeps the LOWEST instead (reference TSortOrder)
    val asc = Merge.dedup(staged, cfg.copy(dedupSort = Some("ver asc")))
    assert(asc.filter($"id" === 1L).select("v").as[String].head() == "old")
  }

  test("merge hard_delete removes keys instead of inserting") {
    val store = newStore()
    val d = dispo(store)
    val cfg = MergeConfig(primaryKey = Seq("id"), hardDeleteColumn = Some("deleted"))
    d.merge("t", Seq((1L, "a", false), (2L, "b", false)).toDF("id", "v", "deleted"), cfg, "1")
    d.merge("t", Seq((1L, "gone", true), (3L, "c", false)).toDF("id", "v", "deleted"), cfg, "2")
    val out = store.read("t")
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    assert(!out.columns.contains("deleted"))
  }

  test("merge upsert replaces matched and inserts unmatched") {
    val store = newStore()
    val d = dispo(store)
    val cfg = MergeConfig(primaryKey = Seq("id"))
    d.merge("t", load1.toDF("id", "v", "ver"), cfg, "1", MergeStrategy.Upsert)
    d.merge("t", load2.toDF("id", "v", "ver"), cfg, "2", MergeStrategy.Upsert)
    val out = store.read("t")
    assert(out.count() == 4)
    assert(out.filter($"id" === 2L).select("v").as[String].head() == "b2")
  }

  test("merge insert-only never updates existing keys") {
    val store = newStore()
    val d = dispo(store)
    val cfg = MergeConfig(primaryKey = Seq("id"))
    d.merge("t", load1.toDF("id", "v", "ver"), cfg, "1", MergeStrategy.InsertOnly)
    d.merge("t", load2.toDF("id", "v", "ver"), cfg, "2", MergeStrategy.InsertOnly)
    val out = store.read("t")
    assert(out.count() == 4)
    assert(out.filter($"id" === 2L).select("v").as[String].head() == "b") // unchanged
  }

  test("scd2 retires changed rows and keeps history") {
    val store = newStore()
    val d = dispo(store)
    val cfg = Scd2Config(trackedColumns = Seq("id", "v"), boundaryTs = "2024-01-01 00:00:00")
    d.scd2("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), cfg, "1")
    // second load: id=2 changed, id=1 unchanged, id=3 new
    d.scd2("t", Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("id", "v"),
      cfg.copy(boundaryTs = "2024-06-01 00:00:00"), "2")
    val out = store.read("t")
    assert(out.count() == 4) // a-active, b-retired, B-active, c-active
    val active = out.filter(col("_dlt_valid_to").isNull)
    assert(active.count() == 3)
    val retired = out.filter(col("_dlt_valid_to").isNotNull)
    assert(retired.select("v").as[String].head() == "b")
    assert(retired.select(date_format(col("_dlt_valid_to"),
      "yyyy-MM-dd").as("d")).as[String].head() == "2024-06-01")
    // unchanged row keeps original valid_from
    assert(active.filter($"id" === 1L)
      .select(date_format(col("_dlt_valid_from"), "yyyy-MM-dd").as("d"))
      .as[String].head() == "2024-01-01")
  }

  test("scd2 with merge key only retires partitions present in staging") {
    val store = newStore()
    val d = dispo(store)
    val cfg = Scd2Config(trackedColumns = Seq("id", "part", "v"),
      boundaryTs = "2024-01-01 00:00:00", mergeKey = Seq("part"))
    d.scd2("t", Seq((1L, "p1", "a"), (2L, "p2", "b")).toDF("id", "part", "v"), cfg, "1")
    // second load only covers partition p1; p2 must stay active though absent
    d.scd2("t", Seq((1L, "p1", "a2")).toDF("id", "part", "v"),
      cfg.copy(boundaryTs = "2024-06-01 00:00:00"), "2")
    val out = store.read("t")
    val active = out.filter(col("_dlt_valid_to").isNull)
    assert(active.filter($"part" === "p2").count() == 1)
    assert(active.filter($"part" === "p1").select("v").as[String].head() == "a2")
    assert(out.filter(col("_dlt_valid_to").isNotNull).count() == 1)
  }

  test("nested chain merge cascades deletes and inserts to children") {
    val store = newStore()
    val cfg = MergeConfig(primaryKey = Seq("k"))

    def mkChain(rows: Seq[(String, String, Seq[Int])], loadId: String): TableChain = {
      import graft.normalize.{NormalizeConfig, Normalizer, RootIdType}
      val df = rows.toDF("k", "v", "items")
      val tables = Normalizer.normalize(df, "root",
        NormalizeConfig(loadId = loadId, rootIdType = RootIdType.KeyHash(Seq("k")),
          propagate = Map("_dlt_id" -> "_dlt_root_id")))
      TableChain("root", tables("root"), Map("root__items" -> tables("root__items")))
    }

    MergeChain.deleteInsert(store, mkChain(Seq(
      ("a", "v1", Seq(1, 2)), ("b", "v1", Seq(3))), "1"), cfg, "1")
    assert(store.read("root").count() == 2)
    assert(store.read("root__items").count() == 3)

    // replace a (now 3 items), keep b, add c (1 item)
    MergeChain.deleteInsert(store, mkChain(Seq(
      ("a", "v2", Seq(7, 8, 9)), ("c", "v1", Seq(5))), "2"), cfg, "2")
    val root = store.read("root")
    assert(root.count() == 3)
    assert(root.filter($"k" === "a").select("v").as[String].head() == "v2")
    val items = store.read("root__items")
    assert(items.count() == 5) // 3 (a) + 1 (b) + 1 (c)
    assert(items.select("value").as[Long].collect().sorted.toSeq == Seq(3L, 5L, 7L, 8L, 9L))
  }

  test("concurrent appends to ONE table lose nothing (per-table lock safety)") {
    val store = newStore()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val futures = (1 to 8).map(i => scala.concurrent.Future {
        store.append("hot", Seq((i, s"w$i")).toDF("id", "w"))
      })
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures),
        scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
    // a read-modify-write race on the manifest would drop segments
    assert(store.segments("hot").size === 8)
    assert(store.read("hot").count() === 8)
  }

  test("concurrent writers on DIFFERENT tables interleave safely") {
    val store = newStore()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val futures = (1 to 6).map(i => scala.concurrent.Future {
        val t = s"t$i"
        store.overwrite(t, Seq((i, "a")).toDF("id", "w"))
        store.append(t, Seq((i + 100, "b")).toDF("id", "w"))
      })
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures),
        scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
    (1 to 6).foreach { i =>
      assert(store.read(s"t$i").count() === 2, s"table t$i lost a write")
    }
  }

  test("a failing chain load leaves no pinned caches behind") {
    val store = newStore()
    val cfg = MergeConfig(primaryKey = Seq("k"))
    val root1 = Seq(("a", "id_a"), ("b", "id_b")).toDF("k", "_dlt_id")
    MergeChain.deleteInsert(store, TableChain("root", root1,
      Map("root__items" -> Seq(("id_a", 1L)).toDF("_dlt_root_id", "value"))),
      cfg, "1")
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    // second load's child lacks _dlt_root_id → the child semi-join throws
    // AFTER the root-id sets are pinned; the finally must release them
    intercept[org.apache.spark.sql.AnalysisException] {
      MergeChain.deleteInsert(store, TableChain("root",
        Seq(("a", "id_a2")).toDF("k", "_dlt_id"),
        Map("root__items" -> Seq(Tuple1(7L)).toDF("value"))), cfg, "2")
    }
    assert(cm.isEmpty, "failed chain load must unpersist its pinned id sets")
  }

  test("driver-side tiny reads round-trip both writer formats, no Spark job") {
    val store = newStore()
    // driver-written segment (TinyParquet, required fields, all 4 cell types)
    import TinyParquet._
    store.appendDriverFile("cfg")(p => TinyParquet.write(p, Seq(Seq(
      "name" -> SCell("a"), "n" -> ICell(7), "snap" -> LCell(42L),
      "frac" -> DCell(0.25)))))
    // Spark-written segment of the same shape (optional fields)
    store.append("cfg", Seq(("b", 8, 43L, 0.5)).toDF("name", "n", "snap", "frac"))
    val rows = store.readDriverRows("cfg").sortBy(_("name").asInstanceOf[String])
    assert(rows === Seq(
      Map("name" -> "a", "n" -> 7, "snap" -> 42L, "frac" -> 0.25),
      Map("name" -> "b", "n" -> 8, "snap" -> 43L, "frac" -> 0.5)))
    // Spark reads the driver-written rows right back (mixed segments unify)
    assert(store.read("cfg").count() === 2)
    // snapshot-pinned read sees the PAST state
    val first = store.snapshots("cfg").head
    assert(store.readDriverRowsAt("cfg", first).map(_("name")) === Seq("a"))
    // overwriteDriverFile replaces the whole segment list
    store.overwriteDriverFile("cfg")(p => TinyParquet.write(p, Seq(Seq(
      "name" -> SCell("c"), "n" -> ICell(9), "snap" -> LCell(44L),
      "frac" -> DCell(1.0)))))
    assert(store.readDriverRows("cfg").map(_("name")) === Seq("c"))
    // tombstone-carrying tables are refused (merge-on-read needs Spark)
    store.append("kv", Seq((1L, "x")).toDF("id", "v"))
    store.appendWithTombstone("kv", Seq((1L, "y")).toDF("id", "v"), "id",
      Seq(Tuple1(1L)).toDF("id"))
    val e = intercept[IllegalArgumentException] {
      store.readDriverRows("kv")
    }
    assert(e.getMessage.contains("tombstones"))
  }

  // --- schema-carrying manifests ---

  private def segmentPaths(store: TableStore, t: String): Seq[String] =
    store.segments(t).map(s => java.nio.file.Paths.get(store.root, t, s.name).toString)

  private def currentManifest(store: TableStore, t: String): java.nio.file.Path = {
    val dir = java.nio.file.Paths.get(store.root, t)
    dir.resolve(new String(Files.readAllBytes(dir.resolve("_CURRENT")), "UTF-8").trim)
  }

  /** Rows with columns in name order: parquet's `mergeSchema` read
    * merges footers in file-path order (random segment uuids), the
    * manifest in commit order, so only the field SET is comparable. */
  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.select(df.columns.sorted.map(c => col(s"`$c`")): _*)
      .collect().map(_.toString).sorted.toSeq

  private def fieldsByName(s: org.apache.spark.sql.types.StructType) =
    s.fields.sortBy(_.name).toSeq

  /** `t` with a merge, an evolved column and two tombstone generations. */
  private def evolvedTombstoned(store: TableStore): Unit = {
    val d = dispo(store)
    val cfg = MergeConfig(primaryKey = Seq("id"))
    d.merge("t", load1.toDF("id", "v", "ver"), cfg, "1")
    d.merge("t", load2.toDF("id", "v", "ver"), cfg, "2")
    store.appendWithTombstone("t",
      Seq((5L, "e", 3, "x")).toDF("id", "v", "ver", "extra"), "id",
      Seq(Tuple1(1L)).toDF("id"))
    store.deleteByIds("t", "id", Seq(Tuple1(5L), Tuple1(2L)).toDF("id"))
    store.append("t", Seq(("y", 6L)).toDF("extra", "id"))
  }

  test("a fresh store plans a merged, tombstoned table's read with zero Spark jobs") {
    val store = newStore()
    evolvedTombstoned(store)
    val fresh = new TableStore(store.root, spark)
    val (df, jobs) = countJobs(fresh.read("t"))
    assert(jobs === 0, s"planning store.read launched $jobs Spark jobs")
    assert(df.select("id").as[Long].collect().sorted === Array(3L, 4L, 6L))
    // time travel plans from the manifest too
    val (_, atJobs) = countJobs(fresh.readAt("t", fresh.snapshots("t").head))
    assert(atJobs === 0)
  }

  test("an evolved table's schema and rows equal the mergeSchema read") {
    val store = newStore()
    store.append("t", Seq((1L, "a")).toDF("id", "v"))
    store.append("t", Seq((2L, "b", 2.5)).toDF("id", "v", "w"))
    store.append("t", Seq((Seq(1, 2), 3L)).toDF("arr", "id"))
    val inferred = spark.read.option("mergeSchema", "true")
      .parquet(segmentPaths(store, "t"): _*)
    val fresh = new TableStore(store.root, spark)
    assert(fieldsByName(fresh.read("t").schema) === fieldsByName(inferred.schema))
    // ... and the manifest's merge follows commit order
    assert(fresh.read("t").schema.fieldNames.toSeq === Seq("id", "v", "w", "arr"))
    assert(sortedRows(fresh.read("t")) === sortedRows(inferred))
  }

  test("store.schema equals the read's schema, field order included, " +
      "on an evolved and tombstoned table") {
    val store = newStore()
    evolvedTombstoned(store)
    val read = store.read("t")
    assert(store.tombstones("t").size === 2)
    assert(store.schema("t") === read.schema)
    assert(store.schema("t").fieldNames.toSeq ===
      Seq("id", "v", "ver", "_dlt_load_id", "extra"))
    assert(countJobs(store.schema("t"))._2 === 0)
  }

  test("a manifest without schema lines still reads through the footer fallback") {
    val store = newStore()
    evolvedTombstoned(store)
    val expected = sortedRows(store.read("t"))
    val expectedSchema = store.read("t").schema
    // rewrite the current manifest in the pre-schema grammar: no `@`
    // lines, no trailing schema id on segment and tombstone lines
    val m = currentManifest(store, "t")
    val legacy = new String(Files.readAllBytes(m), "UTF-8").split("\n")
      .filterNot(_.startsWith("@")).map { l =>
        val parts = l.split("\t", -1).dropRight(1)
        if (l.startsWith("!")) parts.mkString("\t")
        else parts.mkString("\t").stripSuffix("\t")
      }
    Files.write(m, legacy.mkString("\n").getBytes("UTF-8"))
    val fresh = new TableStore(store.root, spark)
    assert(fresh.segments("t").forall(_.schema.isEmpty))
    assert(fresh.tombstones("t").forall(_.schema.isEmpty))
    assert(sortedRows(fresh.read("t")) === expected)
    assert(fieldsByName(fresh.read("t").schema) === fieldsByName(expectedSchema))
    assert(fresh.schema("t") === fresh.read("t").schema)
    // the next commit carries the legacy segments over as they are
    fresh.append("t", Seq((7L, "g")).toDF("id", "v"))
    assert(fresh.read("t").count() === expected.size + 1)
  }

  test("a field carrying metadata round-trips through the JSON schema line") {
    val store = newStore()
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("unit", "ms").putLong("scale", 3L).build()
    store.append("t", Seq((1L, 10L)).toDF("id", "lat")
      .select($"id", $"lat".as("lat", meta)))
    val lines = new String(Files.readAllBytes(currentManifest(store, "t")), "UTF-8")
      .split("\n")
    assert(lines.exists(_.startsWith("@\t0\tj\t")), lines.mkString("\n"))
    val fresh = new TableStore(store.root, spark)
    assert(fresh.read("t").schema("lat").metadata === meta)
    assert(fresh.read("t").schema ===
      spark.read.parquet(segmentPaths(store, "t"): _*).schema)
    // a plain schema is stored as DDL
    store.append("plain", Seq((1L, "a")).toDF("id", "v"))
    assert(new String(Files.readAllBytes(currentManifest(store, "plain")), "UTF-8")
      .startsWith("@\t0\td\t"))
  }

  test("a TinyParquet ledger segment records the schema a parquet read infers") {
    val store = newStore()
    import TinyParquet._
    store.appendDriverFile("cfg")(p => TinyParquet.write(p, Seq(Seq(
      "name" -> SCell("a"), "n" -> ICell(7), "snap" -> LCell(42L),
      "frac" -> DCell(0.25)))))
    val file = segmentPaths(store, "cfg").head
    assert(store.segments("cfg").head.schema === Some(spark.read.parquet(file).schema))
    assert(store.schema("cfg") === spark.read.parquet(file).schema)
  }

  test("one group's tombstones on one column are one scan: k generations, " +
      "at most k tombstone scans") {
    val store = newStore()
    store.append("t", (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    val k = 4
    (1 to k).foreach { g =>
      store.appendWithTombstone("t", Seq((100L + g, s"n$g")).toDF("id", "v"),
        "id", Seq(Tuple1(g.toLong)).toDF("id"))
    }
    val df = store.read("t")
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val tombScans = scans.count(_.relation.location.rootPaths
      .exists(_.getName.endsWith("-tomb")))
    assert(tombScans <= k, s"$tombScans tombstone scans for $k generations")
    assert(df.select("id").as[Long].collect().sorted ===
      ((5L to 10L) ++ (101L to 104L)).toArray)
  }

  test("a missing manifest or a malformed schema line fails loudly") {
    val store = newStore()
    store.append("t", Seq((1L, "a")).toDF("id", "v"))
    val m = currentManifest(store, "t")
    val body = Files.readAllBytes(m)
    Files.write(m, new String(body, "UTF-8").replaceFirst("\td\t", "\td\tnot a ddl <")
      .getBytes("UTF-8"))
    val bad = intercept[IllegalStateException](store.read("t"))
    assert(bad.getMessage.contains(m.getFileName.toString), bad.getMessage)
    Files.delete(m)
    val missing = intercept[IllegalStateException](store.read("t"))
    assert(missing.getMessage.contains(m.getFileName.toString), missing.getMessage)
    intercept[IllegalStateException](store.segments("t"))
  }

  test("ledger bookkeeping runs no Spark job; versions stay max+1 after compact") {
    val store = newStore()
    val d = dispo(store)
    (1 to 3).foreach { i =>
      d.recordState("p", s"load$i", s"""{"i":$i}""")
      d.recordVersion("s", s"h$i", "{}")
    }
    val (_, jobs) = countJobs {
      d.recordState("p", "load4", """{"i":4}""")
      d.recordVersion("s", "h4", "{}")
      dispo(store).recordVersion("s", "h2", "{}") // known hash: no new row
    }
    assert(jobs === 0, s"ledger bookkeeping launched $jobs Spark jobs")
    def versions(t: String) =
      store.readDriverRows(t).map(_("version").asInstanceOf[Long]).sorted
    assert(versions(d.StateTable) === Seq(1L, 2L, 3L, 4L))
    assert(versions(d.VersionTable) === Seq(1L, 2L, 3L, 4L))
    assert(store.compact(d.StateTable, maxSegments = 1))
    d.recordState("p", "load5", """{"i":5}""")
    assert(versions(d.StateTable) === Seq(1L, 2L, 3L, 4L, 5L))
  }
}
