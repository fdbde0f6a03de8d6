package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{Pipeline, Resource}
import graft.schema.TableReference
import graft.write.MergeConfig

/** lake_query: the star tables land through a pipeline as several
  * merge packages (primary keys and references registered), leaving
  * many segments and snapshots; the timed loop then runs seeded
  * dataset queries from eight templates, collects each small result
  * and hashes it for the checker. The loop commits nothing. */
final class LakeQuery extends Workload {
  import LakeQuery._

  private var root: String = _
  private var pipe: Pipeline = _
  private val loadIds = ArrayBuffer.empty[String]
  private val snapshots = ArrayBuffer.empty[Long]
  def storeRoot: String = root

  private def pq(ctx: Ctx, n: String) = ctx.spark.read.parquet(s"${ctx.inputs}/$n.parquet")

  private def keyed(name: String, df: DataFrame, cfg: MergeConfig,
      refs: TableReference*): Resource = {
    val r = Resource(name, df).withMerge(cfg)
    r.withHints(r.hints.copy(references = refs))
  }
  private def pk(cols: String*) = MergeConfig(primaryKey = cols)
  private def ref(c: String, t: String, rc: String) = TableReference(Seq(c), t, Seq(rc))

  def setup(ctx: Ctx, dir: String): Unit = {
    Main.deleteTree(Paths.get(dir))
    root = dir
    loadIds.clear(); snapshots.clear()
    val p = new Pipeline("lake", dir, ctx.spark)
    (0 until ctx.params("packages").toInt).foreach { j =>
      val before = ctx.trace.map(_ => MergedTables.map(t => t -> segmentNames(p, t)).toMap)
      val lid = p.newLoadId()
      // the part dimension lands once, with the first package
      val part = Option.when(j == 0)(keyed("part", pq(ctx, "part"), pk("p_partkey")))
      p.run(part.toSeq ++ Seq(
        keyed("customer", pq(ctx, s"customer_$j"), pk("c_custkey")),
        keyed("orders", pq(ctx, s"orders_$j"), pk("o_orderkey"),
          ref("o_custkey", "customer", "c_custkey")),
        keyed("lineitem", pq(ctx, s"lineitem_$j"), MergeConfig(mergeKey = Seq("l_orderkey")),
          ref("l_orderkey", "orders", "o_orderkey"), ref("l_partkey", "part", "p_partkey"))), lid)
      loadIds += lid
      snapshots += p.store.snapshots("orders").last
      for (t <- ctx.trace; b <- before; tbl <- MergedTables if b(tbl).nonEmpty)
        t.observe("write.merge_rewrite_frac",
          (b(tbl) -- segmentNames(p, tbl)).size.toDouble / b(tbl).size)
    }
    pipe = p
  }

  private def segmentNames(p: Pipeline, t: String): Set[String] =
    if (p.store.exists(t)) p.store.segments(t).map(_.name).toSet else Set.empty

  private def dec(c: String) = col(c).cast("decimal(18,2)")

  /** The query of one template, as the dataset API builds it. */
  private def query(q: Map[String, String]): DataFrame = {
    val ds = pipe.dataset
    def long(k: String) = q(k).toLong
    q("template") match {
      case "lookup" =>
        ds.table("orders").where("o_orderkey", "eq", long("key"))
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_rev").df()
      case "range" =>
        pipe.store.readPruned("lineitem", "l_orderkey", Some(q("lo")), Some(q("hi")))
          .filter(col("l_orderkey").between(long("lo"), long("hi")))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum(dec("l_extendedprice")).as("revenue"),
            sum(col("l_quantity")).as("qty"))
      case "agg" =>
        ds.query(s"""SELECT o_orderstatus, count(*) AS n,
                    |  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total
                    |FROM orders WHERE o_orderdate >= '${q("date")}'
                    |GROUP BY o_orderstatus""".stripMargin)
      case "join" =>
        ds.table("orders").join("customer").df()
          .filter(col("o_custkey").between(long("lo"), long("hi")))
          .groupBy("customer__c_mktsegment")
          .agg(count(lit(1)).as("n"), sum(dec("o_totalprice")).as("total"))
      case "asof" =>
        ds.asOf("orders", snapshots(q("package").toInt)).df()
          .agg(count(lit(1)).as("n"), sum(col("o_rev").cast("long")).as("revs"))
      case "rowcounts" =>
        ds.rowCounts()
      case "loads" =>
        ds.table("orders").fromLoads(Seq(loadIds(q("package").toInt))).df()
          .agg(count(lit(1)).as("n"), sum(dec("o_totalprice")).as("total"))
      case "topn" =>
        ds.table("orders").where("o_orderstatus", "eq", q("status")).df()
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(q("n").toInt)
          .select("o_orderkey", "o_totalprice")
    }
  }

  private def queries(ctx: Ctx): Iterator[Map[String, String]] =
    Files.readAllLines(Paths.get(ctx.inputs, "queries.jsonl")).asScala.iterator.map(flatJson)

  /** Parse one flat JSON object of strings and numbers. */
  private def flatJson(line: String): Map[String, String] =
    "\"([^\"]+)\":(\"[^\"]*\"|[-0-9.]+)".r.findAllMatchIn(line)
      .map(m => m.group(1) -> m.group(2).stripPrefix("\"").stripSuffix("\"")).toMap

  /** One query of each template, from the end of the stream. */
  def warmup(ctx: Ctx): Unit =
    queries(ctx).toSeq.reverse.distinctBy(_("template"))
      .foreach(q => Main.resultHash(Main.canonical(query(q))))

  def run(ctx: Ctx): Unit = {
    val liveFiles = ctx.trace.map(_ => Seq("orders", "lineitem").map(t => t -> dataFiles(t)).toMap)
    val it = queries(ctx)
    ctx.phase("query", ctx.seconds) {
      val q = it.next()
      val t = q("template")
      var df: DataFrame = null
      ctx.op("query", s"${q("i")}:$t") {
        val (h, n) = ctx.span(s"dataset.$t") {
          df = Main.canonical(query(q)); Main.resultHash(df)
        }
        s"${q("i")}:$t:$h:$n"
      }
      for (tr <- ctx.trace; live <- liveFiles if df != null && (t == "lookup" || t == "range")) {
        val files = Trace.scansOf(df.queryExecution.executedPlan)
          .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
        val table = if (t == "lookup") "orders" else "lineitem"
        tr.observe("dataset.lookup_scan_frac", files.toDouble / live(table).max(1))
      }
      it.hasNext
    }
    ctx.trace.foreach(_.observe("write.segments_live",
      pipe.store.tables.map(pipe.store.segments(_).size).sum.toDouble))
  }

  /** parquet files of a table's live segments */
  private def dataFiles(t: String): Int =
    pipe.store.segments(t).map { s =>
      val d = Paths.get(root, t, s.name)
      if (!Files.isDirectory(d)) 0
      else {
        val st = Files.list(d)
        try st.iterator().asScala.count(_.toString.endsWith(".parquet")) finally st.close()
      }
    }.sum

  /** The result hashes are already in the op notes. */
  def dump(ctx: Ctx): Map[String, Any] = Map.empty
}

object LakeQuery {
  val MergedTables = Seq("customer", "orders", "lineitem")
}
