package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.incremental.Incremental
import graft.pipeline.{Pipeline, Resource}
import graft.schema.TableHints
import graft.sources.Filesystem
import graft.write.{MergeConfig, Scd2Config}

/** elt_merge: a fresh pipeline on an empty store lands a seeded
  * sequence of small JSONL load packages — nested orders merged on
  * their key (items become the `orders__items` child table), events
  * appended under an incremental cursor whose windows re-deliver the
  * previous boundary, and customers loaded as SCD2 — reads each landed
  * package back through the dataset API, and compacts and vacuums the
  * data tables after every package. Maintenance rides every operation
  * rather than every k-th: a run holds five or six operations, and a
  * maintained share that depends on the count moves the median. */
final class EltMerge extends Workload {
  import EltMerge._

  private var root: String = _
  private var landedMb: Option[Double] = None
  def storeRoot: String = root
  override def storeMb: Option[Double] = landedMb

  private def pkgDir(ctx: Ctx, i: Int) = f"${ctx.inputs}/pkg$i%04d"

  private def read(ctx: Ctx, path: String): DataFrame =
    ctx.span("sources.read_jsonl")(Filesystem.readJsonl(ctx.spark, path)).drop("_file_name")

  /** One package: read the three resources, run the load, maintain. */
  private def load(ctx: Ctx, p: Pipeline, i: Int): Unit = {
    val dir = pkgDir(ctx, i)
    val orders = Resource("orders", read(ctx, s"$dir/orders.jsonl"))
      .withMerge(MergeConfig(primaryKey = Seq("o_orderkey")))
    val events = Resource("events", read(ctx, s"$dir/events.jsonl"))
      .withIncremental(Incremental.Config(cursorColumn = "event_id",
        primaryKey = Seq("event_id")))
    val customers = Resource("customers", read(ctx, s"$dir/customers.jsonl"),
      hints = TableHints(writeDisposition = "merge"),
      scd2Config = Some(Scd2Config(trackedColumns = CustomerColumns,
        boundaryTs = boundaryTs(i), mergeKey = Seq("c_custkey"))))
    val lid = p.newLoadId()
    ctx.span("pipeline.run")(p.run(Seq(orders, events, customers), lid))
    // read the landed package back through the dataset API
    ctx.span("dataset.loads")(p.dataset.table("orders").fromLoads(Seq(lid)).df().count())
    DataTables.foreach { t =>
      ctx.span("write.compact")(p.store.compact(t))
      ctx.span("write.vacuum")(p.store.vacuum(t))
    }
  }

  def setup(ctx: Ctx, dir: String): Unit = {
    Main.deleteTree(Paths.get(dir))
    root = dir
    new Pipeline("elt", root, ctx.spark)
  }

  /** Seeds the store with the first `SeedPackages` packages, so the
    * timed loop starts on tables that exist and every code path it takes
    * has run once. */
  def warmup(ctx: Ctx): Unit = {
    val p = new Pipeline("elt", root, ctx.spark)
    (0 until SeedPackages).foreach(i => load(ctx, p, i))
    landedMb = Some(Main.bytesUnder(Paths.get(root)) / 1048576.0)
  }

  def run(ctx: Ctx): Unit = {
    val p = new Pipeline("elt", root, ctx.spark)
    val packages = ctx.params("packages").toInt
    var i = SeedPackages
    ctx.phase("load", ctx.seconds) {
      val before = ctx.trace.map(_ => storeState(p))
      ctx.op("load", i.toString) { load(ctx, p, i); i.toString }
      ctx.trace.foreach(t => observeStore(t, p, before.get))
      i += 1
      i < packages
    }
    ctx.trace.foreach(_.observe("write.segments_live",
      p.store.tables.map(p.store.segments(_).size).sum.toDouble))
  }

  /** live segment names of the merged tables and the manifest files */
  private def storeState(p: Pipeline): (Map[String, Set[String]], Set[String]) =
    (MergedTables.map(t => t -> segmentNames(p, t)).toMap, manifests(p))

  private def segmentNames(p: Pipeline, t: String): Set[String] =
    if (p.store.exists(t)) p.store.segments(t).map(_.name).toSet else Set.empty

  private def manifests(p: Pipeline): Set[String] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) Set.empty
    else Files.list(r).iterator().asScala.filter(Files.isDirectory(_)).flatMap { d =>
      val s = Files.list(d)
      try s.iterator().asScala.map(_.toString).filter(_.contains("manifest-")).toList
      finally s.close()
    }.toSet
  }

  private def observeStore(t: Trace, p: Pipeline,
      before: (Map[String, Set[String]], Set[String])): Unit = {
    t.observe("write.manifests_written", (manifests(p) -- before._2).size.toDouble)
    MergedTables.foreach { tbl =>
      val b = before._1(tbl)
      if (b.nonEmpty) t.observe("write.merge_rewrite_frac",
        (b -- segmentNames(p, tbl)).size.toDouble / b.size)
    }
  }

  def dump(ctx: Ctx): Map[String, Any] = {
    val p = new Pipeline("elt", root, ctx.spark)
    def write(t: String, df: DataFrame): Unit =
      df.coalesce(1).write.parquet(s"${ctx.out}/$t")
    val orders = p.store.read("orders")
    write("orders", orders.select(col("o_orderkey"), col("rev"), col("o_totalprice"),
      (if (orders.columns.contains("o_clerk")) col("o_clerk") else lit(null).cast("string"))
        .as("o_clerk"), col("_dlt_id")))
    write("orders__items", p.store.read("orders__items").select("_dlt_parent_id",
      "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice"))
    write("events", p.store.read("events").select("event_id", "user_id", "event_type", "value"))
    write("customers", p.store.read("customers").select(
      (CustomerColumns.map(col) ++ Seq(col("_dlt_valid_from").cast("string").as("valid_from"),
        col("_dlt_valid_to").cast("string").as("valid_to"))): _*))
    Map("loaded" -> ((0 until SeedPackages).map(i => Map("package" -> i.toString, "ok" -> true)) ++
      ctx.ops.map(o => Map("package" -> o.note, "ok" -> o.ok))))
  }
}

object EltMerge {
  val SeedPackages = 3
  val CustomerColumns = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
  val MergedTables = Seq("orders", "orders__items", "customers")
  val DataTables = Seq("orders", "orders__items", "events", "customers")

  /** SCD2 validity boundary of package `i`: one minute apart. */
  def boundaryTs(i: Int): String =
    java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(i.toLong)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
}
