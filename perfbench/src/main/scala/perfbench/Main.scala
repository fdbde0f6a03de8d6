package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DoubleType

/** One timed operation: its window (epoch ms, for charging traced
  * events), its wall time, whether it completed, and the workload's
  * note for the checker (a result hash, a package index). */
final case class Op(phase: String, startMs: Long, endMs: Long, ms: Double,
    ok: Boolean, note: String)

/** What a workload sees of the run: the session, its input and scratch
  * directories, the timed budget, and the tracer when the run is
  * traced. */
final class Ctx(val spark: SparkSession, val inputs: String, val work: String,
    val out: String, val seconds: Double, val trace: Option[Trace],
    val params: Map[String, String]) {
  val ops = ArrayBuffer.empty[Op]
  /** wall seconds of each timed phase */
  val phaseWall = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** persistent RDDs before the timed phase, and the most seen after an op */
  var rddBase = 0
  var rddMax = 0

  def span[A](name: String)(body: => A): A = trace.fold(body)(_.span(name)(body))

  /** Run `body` as one timed operation; its result is the op's note.
    * A throw marks the op failed and records `onFail` as the note. */
  def op(phase: String, onFail: String = "")(body: => String): Unit = {
    val s = System.currentTimeMillis(); val t0 = System.nanoTime()
    val (ok, note) =
      try (true, body)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $phase op failed: $e")
        (false, onFail)
      }
    val dt = (System.nanoTime() - t0) / 1e6
    ops += Op(phase, s, System.currentTimeMillis(), dt, ok, note)
    if (trace.isDefined)
      rddMax = rddMax.max(spark.sparkContext.getPersistentRDDs.size - rddBase)
  }

  /** Repeat `step` until `seconds` have passed; records the phase wall. */
  def phase(name: String, seconds: Double)(step: => Boolean): Unit = {
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < end && step) ()
    phaseWall(name) = (System.nanoTime() - t0) / 1e9
  }
}

/** A benchmark workload: program set-up (repeatable into fresh
  * directories), warm-up, the timed phases, and the outputs the
  * checker needs. */
trait Workload {
  def setup(ctx: Ctx, dir: String): Unit
  def warmup(ctx: Ctx): Unit
  def run(ctx: Ctx): Unit
  def storeRoot: String
  /** MB under the store root at the point the workload reports; by
    * default right after set-up, since only elt_merge commits in its
    * timed loop. The run record also carries the size after the run. */
  def storeMb: Option[Double] = None
  def dump(ctx: Ctx): Map[String, Any]
}

object Main {
  val SetupRepeats = 3

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = kv("work"); val out = kv("out")
    val params = kv.get("params").toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
      .map { p => val Array(k, v) = p.split("=", 2); k -> v }.toMap
    Files.createDirectories(Paths.get(out))
    val loadAvgStart = loadAvg()
    val spark = session(work)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val trace = if (kv("trace") == "1") Some(new Trace(spark)) else None
    val ctx = new Ctx(spark, kv("inputs"), work, out, kv("seconds").toDouble, trace, params)
    val wl: Workload = kv("workload") match {
      case "elt_merge" => new EltMerge
      case "lake_query" => new LakeQuery
      case "corpus_screen" => new CorpusScreen
    }
    val setups = (1 to SetupRepeats).map(r => seconds(wl.setup(ctx, s"$work/setup$r")))
    val setupStoreMb = bytesUnder(Paths.get(wl.storeRoot)) / 1048576.0
    val warmS = seconds(wl.warmup(ctx))
    ctx.rddBase = spark.sparkContext.getPersistentRDDs.size
    val gc0 = gcMs()
    // the wall a user waits before the first timed operation, with every
    // set-up repeat: the run record's figure beside `setup_s`
    val toFirstOpS = (System.currentTimeMillis() - jvmStart) / 1000.0
    trace.foreach(_.startSampling())
    wl.run(ctx)
    trace.foreach(_.stopSampling())
    val gc = gcMs() - gc0
    val heapMb = retainedHeapMb()
    val endStoreMb = bytesUnder(Paths.get(wl.storeRoot)) / 1048576.0
    val perLayer = trace.map(_.perLayer(ctx.ops.filter(_.ok).map(o => (o.startMs, o.endMs)).toSeq,
      gc, ctx.rddMax))
    val check = wl.dump(ctx)
    val spin = spinCalibrateMs()
    val result = Map(
      "setup" -> Map("session_s" -> sessionS, "program_setup_s" -> setups,
        "warmup_s" -> warmS,
        "setup_s" -> (sessionS + median(setups) + warmS),
        "to_first_op_s" -> toFirstOpS),
      "ops" -> ctx.ops.map(o => Map("phase" -> o.phase, "start_ms" -> o.startMs,
        "ms" -> o.ms, "ok" -> o.ok, "note" -> o.note)),
      "phase_wall_s" -> ctx.phaseWall.toMap,
      "heap_retained_mb" -> heapMb,
      "store_mb" -> wl.storeMb.getOrElse(setupStoreMb),
      "store_mb_after_run" -> endStoreMb,
      "per_layer" -> perLayer.getOrElse(Map.empty),
      "check" -> check,
      "sentinel" -> Map("load_avg_start" -> loadAvgStart, "load_avg_end" -> loadAvg(),
        "spin_ms" -> spin, "cpus" -> 4))
    Files.write(Paths.get(out, "result.json"), Json(result).getBytes("UTF-8"))
    spark.stop()
  }

  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def median(v: Seq[Double]): Double = {
    val s = v.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap the collector could not free: each heap pool's usage right
    * after the last full collection. The pause between collections lets
    * Spark's context cleaner drop the shuffle and broadcast state the
    * first one found unreachable. */
  def retainedHeapMb(): Double = {
    System.gc(); Thread.sleep(500); System.gc(); System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }

  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** The contention sentinel: four threads each run a fixed arithmetic
    * loop; on a quiet box the wall time is stable, under outside load it
    * stretches by about the factor the timings do. */
  def spinCalibrateMs(): Double = {
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        var acc = i.toLong; var k = 0L
        while (k < 100000000L) { acc = acc * 6364136223846793005L + 1442695040888963407L; k += 1 }
        if (acc == 42L) System.err.print("")
      })
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start()); threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Every column as text, doubles at two decimals: the form both the
    * benchmark and the checker hash. */
  def canonical(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      (if (f.dataType == DoubleType) c.cast("decimal(18,2)") else c).cast("string").as(f.name)
    }.toSeq: _*)

  /** sha256 over the sorted rows of a [[canonical]] frame. */
  def resultHash(canon: DataFrame): (String, Long) = {
    val rows = canon.collect()
      .map(r => (0 until r.length).map(i => Option(r.getString(i)).getOrElse("NULL"))
        .mkString("\u001f")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(rows.mkString("\n").getBytes("UTF-8"))
    (md.digest().map("%02x".format(_)).mkString, rows.length.toLong)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}

/** A minimal JSON encoder for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').toString
  }
}
