package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType

import graft.ext.{AssemblyConfig, CorpusAssembly, IncrementalDedup, QualityClassifier, TextOps}
import graft.streaming.Streaming
import graft.write.{Dispositions, TableStore}

/** corpus_screen: the training-data plane. Set-up indexes the seed
  * split of a seeded corpus with MinHash and fits and saves a quality
  * classifier. Phase 1 repeats corpus assembly passes over the whole
  * corpus; phase 2 drains a file stream of new docs, one file per
  * micro-batch, through the curation front door (classifier score,
  * near-dup screen against the static seed index, land). */
final class CorpusScreen extends Workload {
  import CorpusScreen._

  private var root: String = _
  private var store: TableStore = _
  private var schema: StructType = _
  private val passes = ArrayBuffer.empty[String]
  private val streamed = ArrayBuffer.empty[String]
  def storeRoot: String = root

  private def corpus(ctx: Ctx) = ctx.spark.read.parquet(s"${ctx.inputs}/corpus.parquet")
  private def seedDocs(ctx: Ctx) =
    corpus(ctx).filter(col("doc_id") < ctx.params("seed_docs").toLong)

  def setup(ctx: Ctx, dir: String): Unit = {
    Main.deleteTree(Paths.get(dir))
    root = dir
    store = new TableStore(dir, ctx.spark)
    ctx.span("ext.index")(IncrementalDedup.indexCorpus(store, SeedIndex,
      seedDocs(ctx).select("doc_id", "text"), "doc_id", "text"))
    QualityClassifier.save(store, Classifier,
      QualityClassifier.fit(seedDocs(ctx), "text", Label))
  }

  private def lines(df: DataFrame) = df.withColumn("ltext", regexp_replace(col("text"), " table ", "\n"))

  private def assemble(ctx: Ctx, disp: Dispositions, table: String): String = {
    val lid = disp.newLoadId()
    val docs = lines(corpus(ctx)).select("doc_id", "source", "ltext")
    val bench = lines(ctx.spark.read.parquet(s"${ctx.inputs}/benchmark.parquet")).select("doc_id", "ltext")
    ctx.span("ext.assemble")(CorpusAssembly.assembleTo(disp, table, lid, docs,
      "doc_id", "ltext", "source", bench, assembly(ctx)))
    lid
  }

  /** Move the next stream files into the source directory and drain
    * them through the curation front door, one file per micro-batch. */
  private def drain(ctx: Ctx, files: Seq[String]): Unit = {
    val src = Files.createDirectories(Paths.get(ctx.work, "stream_src"))
    // a source file must appear whole: copy aside, then rename into place
    files.foreach { f =>
      val name = Paths.get(f).getFileName.toString
      val tmp = Files.copy(Paths.get(f), Paths.get(ctx.work, "tmp", name))
      Files.move(tmp, src.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
    val stream = Streaming.fileStream(ctx.spark, src.toString, schema = Some(schema),
      options = Map("maxFilesPerTrigger" -> "1"))
    Streaming.curateInto(store, stream, Curated, SeedIndex, Classifier, "doc_id", "text",
      minScore = ctx.params("min_score").toDouble, nearDupThreshold = ctx.params("near_dup").toDouble,
      checkpoint = Some(s"${ctx.work}/stream_ckpt"))
    streamed ++= files
  }

  private def streamFiles(ctx: Ctx): Seq[String] = {
    val s = Files.list(Paths.get(ctx.inputs, "stream"))
    try s.iterator().asScala.map(_.toString).toSeq.sorted finally s.close()
  }

  /** One assembly pass and one drain into the tables the timed phases
    * use, so their first operations are not the first of their kind. */
  def warmup(ctx: Ctx): Unit = {
    assemble(ctx, new Dispositions(store, ctx.spark), Assembled)
    val files = streamFiles(ctx)
    schema = ctx.spark.read.parquet(files.head).schema
    ctx.spark.streams.addListener(progress)
    drain(ctx, files.take(WarmFiles))
    awaitBatches(WarmFiles)
  }

  /** micro-batch progress: (start epoch ms, duration ms) */
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val progress = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        batches.add((java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
          e.progress.batchDuration))
  }

  /** Progress events arrive on the listener bus, after the drain returns. */
  private def awaitBatches(n: Int): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (batches.size < n && System.nanoTime() < deadline) Thread.sleep(20)
  }

  def run(ctx: Ctx): Unit = {
    val disp = new Dispositions(store, ctx.spark)
    ctx.phase("assemble", ctx.seconds * AssembleShare) {
      ctx.op("assemble") { val lid = assemble(ctx, disp, Assembled); passes += lid; lid }
      true
    }
    val drains = streamFiles(ctx).drop(WarmFiles).grouped(FilesPerDrain)
    ctx.phase("screen", ctx.seconds * (1 - AssembleShare)) {
      val files = drains.next()
      // a drain that throws fails its micro-batches; the progress events
      // of the ones that completed still count
      try drain(ctx, files)
      catch { case e: Exception =>
        System.err.println(s"[perfbench] screen drain failed: $e")
        val now = System.currentTimeMillis()
        files.foreach(_ => ctx.ops += Op("screen", now, now, 0.0, ok = false, ""))
      }
      drains.hasNext
    }
    if (ctx.trace.isDefined)
      ctx.rddMax = ctx.rddMax.max(ctx.spark.sparkContext.getPersistentRDDs.size - ctx.rddBase)
    awaitBatches(streamed.size)
    ctx.spark.streams.removeListener(progress)
    batches.asScala.toSeq.drop(WarmFiles).foreach { case (start, ms) =>
      ctx.ops += Op("screen", start, start + ms, ms.toDouble, ok = true, "")
    }
  }

  def dump(ctx: Ctx): Map[String, Any] = {
    val t = store.read(Assembled)
    t.select(col("_dlt_load_id").as("load_id"), col("doc_id"), col("source"),
        col("n_tokens").cast("long").as("n_tokens"), col("tok_offset").cast("long").as("tok_offset"),
        col("first_chunk").cast("long").as("first_chunk"), col("last_chunk").cast("long").as("last_chunk"))
      .coalesce(1).write.parquet(s"${ctx.out}/assembled")
    store.read(Curated).select("doc_id").coalesce(1).write.parquet(s"${ctx.out}/curated")
    val model = QualityClassifier.load(store, Classifier)
    Map("passes" -> passes.toSeq,
      "streamed" -> streamed.map(f => Paths.get(f).getFileName.toString).toSeq,
      "weights" -> model.weights.toSeq.map(java.lang.Double.toString),
      "features" -> model.featureNames)
  }
}

object CorpusScreen {
  val SeedIndex = "seed"
  val Classifier = "qc_model"
  val Assembled = "training_order"
  val Curated = "curated"
  /** share of the timed budget given to phase 1 */
  val AssembleShare = 0.4
  /** stream files each drain takes, one per micro-batch */
  val FilesPerDrain = 2
  /** stream files drained in warm-up */
  val WarmFiles = 2
  /** classifier label: the longer half of the seed split (docs run 10
    * to 99 tokens, median 54, as in the sf fixtures' documents) */
  val Label: Column = size(split(col("text"), " ")) >= 55

  /** Gopher bands with the stop-word floor lifted (the fixtures' 30-word
    * vocabulary holds one Gopher stop word, "the", so no doc reaches the
    * floor of two), decontamination at the default, and the near-dup
    * threshold and a per-domain cap that binds from the run's
    * parameters. */
  def assembly(ctx: Ctx): AssemblyConfig = AssemblyConfig(
    quality = t => {
      import TextOps.Gopher._
      val n = TextOps.tokenCount(t)
      n >= MinWords && n <= MaxWords &&
        TextOps.meanTokenLen(t) >= MinMeanWordLen &&
        TextOps.meanTokenLen(t) <= MaxMeanWordLen &&
        symbolRatio(t) <= MaxSymbolRatio &&
        alphaWordRatio(t) >= MinAlphaWordRatio
    },
    lineMinDocs = 2, shingleN = 3, nearDupThreshold = ctx.params("near_dup").toDouble,
    maxContaminatedShare = 0.2, mixAlpha = 1.0, domainCap = ctx.params("domain_cap").toInt,
    packBudget = 512L, collectStageCounts = false)
}
