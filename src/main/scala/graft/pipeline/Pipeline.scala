package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.dataset.GraftDataset
import graft.incremental.{Incremental, StateStore}
import graft.normalize.{Ids, NormalizeConfig, Normalizer, RootIdType}
import graft.schema.{Contracts, Naming, SchemaRegistry, TableHints}
import graft.write._

/** A named, lazily-evaluated stream of data with table hints attached
  * (reference DltResource, dlt/extract/resource.py:100+). The per-item
  * transforms (dlt/extract/items_transform.py; SURVEY.md §2.3) map onto
  * lazy DataFrame combinators — Spark's parallelism replaces the
  * reference's pipe scheduler/FuturesPool entirely. */
final case class Resource(
    name: String,
    frame: DataFrame,
    hints: TableHints = TableHints(),
    mergeConfig: MergeConfig = MergeConfig(),
    scd2Config: Option[Scd2Config] = None,
    replaceStrategy: ReplaceStrategy = ReplaceStrategy.TruncateAndInsert,
    contract: Contracts.Contract = Contracts.Contract(),
    incremental: Option[Incremental.Config] = None,
    maxNesting: Int = 1000,
    propagateRootKey: Boolean = false,
    metrics: Seq[(String, Column)] = Nil,
    dispatchColumn: Option[String] = None,
    deadlineNanos: Option[Long] = None,
    driftCheck: Option[Resource.DriftCheck] = None,
    retention: Option[Resource.Retention] = None) {

  /** MapItem (items_transform.py:103-122) — 1→1 transform. */
  def addMap(f: DataFrame => DataFrame): Resource = copy(frame = f(frame))
  /** FilterItem (items_transform.py:77-100). */
  def addFilter(cond: Column): Resource = copy(frame = frame.filter(cond))
  /** YieldMapItem (items_transform.py:125-145) — 1→N. */
  def addYieldMap(f: DataFrame => DataFrame): Resource = copy(frame = f(frame))
  /** LimitItem (items_transform.py:174-239): row-count limit. The
    * reference's max_time / max_pages variants bound the GENERATOR, so
    * their Spark analog lives at the source: [[graft.sources.Rest
    * .fetchPages]] takes `maxPages` and `maxTime` — a lazy Spark plan
    * has no wall-clock to bound. */
  def addLimit(n: Int): Resource = copy(frame = frame.limit(n))
  /** Full LimitItem parity on a generic resource: `maxRows` is the row
    * budget (`frame.limit`); `maxTime` binds a wall-clock deadline at
    * THIS call — the reference starts its clock when the transform
    * binds to the pipe (items_transform.py:185-194) — and a resource
    * whose extraction begins after the deadline loads NOTHING (the
    * reference's exhausted pipe drops late items, :214-216). A single
    * lazy frame is one "batch", so mid-extraction cutoff has no analog
    * here; CHUNKED extraction gets the reference's full batch-by-batch
    * semantics via [[Limits.bounded]]. `maxRows = Some(0)` loads
    * nothing, matching `add_limit(0)` (:234-236). */
  def addLimit(maxRows: Option[Int], maxTime: Option[scala.concurrent.duration.Duration]): Resource = {
    val rowed = maxRows.fold(this)(n => copy(frame = frame.limit(n)))
    maxTime.fold(rowed)(t =>
      rowed.copy(deadlineNanos = Some(System.nanoTime() + t.toNanos)))
  }
  /** ValidateItem (items_transform.py:148-171, libs/pydantic.py):
    * per-row predicate validation. `raiseOnViolation = true` fails the
    * load on the first violating row (the pydantic raise mode);
    * false silently drops violating rows (filter mode). */
  def addValidate(cond: Column, raiseOnViolation: Boolean = true): Resource =
    if (!raiseOnViolation) copy(frame = frame.filter(cond))
    else copy(frame = frame.filter {
      import org.apache.spark.sql.functions.{assert_true, lit, when}
      // NULL predicate results count as violations (pydantic raise mode)
      when(cond, lit(true))
        .otherwise(assert_true(cond, lit(s"row validation failed: $cond")).isNull)
    })
  /** Typed PER-FIELD validation (reference pydantic models,
    * dlt/common/libs/pydantic.py: per-field typed errors + raise/filter
    * modes; [[graft.schema.Validation]]): raise mode fails the load with
    * the structured (field, expected, value) violation list, filter mode
    * drops violating rows. For dead-letter routing use
    * [[withDeadLetter]]. */
  def addValidateFields(rules: Seq[graft.schema.Validation.FieldRule],
      raiseOnViolation: Boolean = true): Resource =
    if (raiseOnViolation)
      copy(frame = graft.schema.Validation.validateOrRaise(frame, rules))
    else copy(frame = graft.schema.Validation.validateFilter(frame, rules))

  /** Dead-letter mode of [[addValidateFields]]: this resource keeps the
    * valid rows; the returned second resource (`<name>__dead_letters`)
    * carries the violating rows plus their JSON-serialized violations,
    * loadable alongside via the same `Pipeline.run`. */
  def withDeadLetter(rules: Seq[graft.schema.Validation.FieldRule]): (Resource, Resource) = {
    val (valid, dead) = graft.schema.Validation.split(frame, rules)
    (copy(frame = valid), Resource(s"${name}__dead_letters", dead))
  }

  /** MetricsItem (items_transform.py:242-257) — pass-through side-channel
    * metrics, collected via `Dataset.observe` during the load action
    * (zero extra scans). Read them back with [[Pipeline.metrics]]. */
  def addMetrics(m: (String, Column)*): Resource = copy(metrics = metrics ++ m)
  /** Table dispatch (reference `dlt.mark.with_table_name` / callable
    * `table_name`): rows route to `<name>_<value of column>` tables.
    * The distinct value set must be small (it becomes the table list). */
  def withTableDispatch(column: String): Resource = copy(dispatchColumn = Some(column))

  def withHints(h: TableHints): Resource = copy(hints = h)
  def withMerge(cfg: MergeConfig, disposition: String = "merge"): Resource =
    copy(mergeConfig = cfg, hints = hints.copy(writeDisposition = disposition,
      primaryKey = cfg.primaryKey, mergeKey = cfg.mergeKey))
  def withIncremental(cfg: Incremental.Config): Resource = copy(incremental = Some(cfg))

  /** VALUE-drift gate on the load plane: before this resource's table
    * is written, the incoming batch's `column` distribution is PSI-
    * compared against the CURRENT table snapshot (the baseline); a
    * score above `maxPsi` fails the load BEFORE anything commits —
    * the raise semantics of a schema contract, applied to the values
    * the types cannot see ([[graft.operators.Drift]]). First loads
    * (no baseline yet) pass trivially. Costs one extra scan of batch
    * and baseline; gate only columns worth it.
    *
    * `quarantine = true` switches from raise to DEAD-LETTER semantics
    * (the [[withDeadLetter]] shape applied to whole batches): the
    * breaching batch lands in `<table>__quarantine` — stamped with
    * `_dlt_load_id`, the gated column and its PSI — the main table
    * stays clean, the incremental cursor advances (the batch IS
    * handled; re-running must not re-quarantine it forever), and the
    * pipeline keeps running. Replay after investigation by loading the
    * quarantine rows back through the pipeline. */
  def withDriftCheck(column: String, maxPsi: Double,
      bins: Int = 10, quarantine: Boolean = false): Resource =
    copy(driftCheck = Some(
      Resource.DriftCheck(column, maxPsi, bins, quarantine)))

  /** [[withDriftCheck]] against a PERSISTED ROLLING PROFILE instead of
    * the live table — the O(batch) form for big tables: the plain gate
    * re-scans the WHOLE current table as its baseline on every load
    * (at lake scale that is a full-table scan per load); this variant
    * compares the batch against `<table>__drift_profile` (≤ bins
    * persisted counts riding the check as literals), seeds the profile
    * from the FIRST load's gate column, and folds every PASSING load's
    * values into it after the commit (breaching loads never pollute
    * the baseline). The bin RANGE pins at seed time — later mass
    * outside it clamps to the edge bins (visible as edge-bin growth;
    * drop the profile table to re-seed after an intentional
    * distribution change). Same raise/quarantine semantics, same
    * empty-window/all-null handling, same PSI arithmetic
    * ([[graft.operators.Drift.psiVsProfile]] shares the exact tail
    * with the live-baseline path). */
  def withDriftProfile(column: String, maxPsi: Double,
      bins: Int = 10, quarantine: Boolean = false): Resource =
    copy(driftCheck = Some(
      Resource.DriftCheck(column, maxPsi, bins, quarantine,
        profiled = true)))

  /** RETENTION RIDES THE LOAD: after this resource's tables commit,
    * sweep each landed table's snapshot history under a keep-N ∧ TTL
    * policy ([[graft.write.TableStore.applyRetention]] — pins and the
    * current snapshot always survive), so unattended pipelines bound
    * their history without a separate maintenance scheduler — the
    * Iceberg `expire_snapshots`-on-write shape. The sweep runs strictly
    * AFTER the commit (a failed load sweeps nothing) and covers every
    * table the load touched (root + exploded children). */
  def withRetention(keepLast: Int, ttlMs: Option[Long] = None): Resource =
    copy(retention = Some(Resource.Retention(keepLast, ttlMs)))
}

object Resource {
  /** Config for [[Resource.withDriftCheck]] /
    * [[Resource.withDriftProfile]] (`profiled` = rolling persisted
    * baseline instead of the live table). */
  final case class DriftCheck(column: String, maxPsi: Double, bins: Int = 10,
      quarantine: Boolean = false, profiled: Boolean = false)

  /** Config for [[Resource.withRetention]]. Validated EAGERLY: a bad
    * policy must fail at construction, not post-commit inside the load
    * tail (where a throw would leave the load landed but the
    * incremental cursor unadvanced — the next run would re-append the
    * same rows). */
  final case class Retention(keepLast: Int, ttlMs: Option[Long] = None) {
    require(keepLast >= 1, s"keep at least the live snapshot, got $keepLast")
    ttlMs.foreach(t => require(t >= 0L, s"ttlMs must be >= 0, got $t"))
  }
}

/** The pipeline orchestrator (reference pipeline.run = extract +
  * normalize + load, dlt/pipeline/pipeline.py:639; SURVEY.md §3.1).
  *
  * The reference's three stages — generator extraction to disk files, a
  * process-pool normalizer, a thread-pool loader — collapse into ONE lazy
  * Spark plan per table: source scan → incremental window → normalize
  * transforms → contract check → disposition commit. Catalyst owns
  * chunking/parallelism; the load-package bookkeeping survives as
  * `_dlt_load_id` + the `_dlt_loads` table.
  */
final class Pipeline(val name: String, val root: String, val spark: SparkSession) {

  val store = new TableStore(root, spark)
  // schemas persist beside the destination (reference: schema storage in
  // the pipeline working dir, synced to _dlt_version) — a fresh Pipeline
  // instance resumes hints, references and hash lineage
  val registry: SchemaRegistry = SchemaRegistry.load(s"$root/_schemas", name)
    .getOrElse(new SchemaRegistry(name))
  val states = new StateStore(s"$root/_state")
  private val dispositions = new Dispositions(store, spark)

  // State restore (reference state_sync.py:95-139): a fresh environment
  // (no local state file) against an existing destination resumes its
  // incremental cursors from the latest `_dlt_pipeline_state` row —
  // without this, a new machine silently re-loads everything.
  if (!states.exists(name) && store.exists(dispositions.StateTable))
    store.readDriverRows(dispositions.StateTable)
      .filter(_.get("pipeline_name").contains(name))
      .maxByOption(_("version").asInstanceOf[Number].longValue())
      .flatMap(_.get("state")).map(_.toString).filter(_.nonEmpty)
      .foreach(states.restore(name, _))

  def dataset: GraftDataset = new GraftDataset(store, registry, spark)

  def newLoadId(): String = dispositions.newLoadId()

  /** Run one load package over the given resources. Returns per-resource
    * row table names written. Schema version + pipeline state are synced
    * to the `_dlt_version` / `_dlt_pipeline_state` system tables after
    * the package completes (reference state_sync.py:95-139). */
  def run(resources: Seq[Resource], loadId: String): Map[String, Seq[String]] = {
    val out = resources.map(r => r.name -> runOne(r, loadId)).toMap
    syncSystemTables(loadId)
    out
  }

  private def syncSystemTables(loadId: String): Unit = {
    registry.save(s"$root/_schemas")
    dispositions.recordVersion(name, registry.versionHash, registry.toJson)
    syncState(loadId)
  }

  /** Re-sync the CURRENT local state snapshot to `_dlt_pipeline_state`
    * under `loadId`. For source helpers that advance cursor state AFTER
    * a successful `run` (e.g. incremental file listings) so the
    * destination copy carries the advanced cursor in the same load
    * rather than trailing by one package. */
  def syncState(loadId: String): Unit = {
    val state = states.dump(name)
    if (state.nonEmpty) dispositions.recordState(name, loadId, state)
  }

  /** Run resources CONCURRENTLY (reference load thread pool, workers=20,
    * dlt/load/load.py:290-321): each resource's plan is submitted as its
    * own Spark job set, overlapping scheduling/IO gaps across resources.
    * Store commits, registry updates and state writes are synchronized;
    * resources must target distinct tables (as in the reference). */
  def runParallel(resources: Seq[Resource], loadId: String,
      parallelism: Int = 8): Map[String, Seq[String]] = {
    require(resources.map(r => Naming.normalizeTableName(r.name)).distinct.size ==
      resources.size, "parallel run requires distinct resource tables")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, resources.size)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val futures = resources.map(r => scala.concurrent.Future(r.name -> runOne(r, loadId)))
      val out = awaitAll(futures).toMap
      syncSystemTables(loadId)
      out
    } finally pool.shutdown()
  }

  /** Load `resources` through a CUSTOM FUNCTION DESTINATION (reference
    * `@dlt.destination`, dlt/destinations/decorators.py + impl/
    * destination/factory.py): extract + normalize run as for a table
    * destination — the destination's naming convention and nesting cap
    * applied, per the reference these OVERRIDE the resource's — then
    * each normalized table is handed to the sink callback instead of
    * the store, append-only. Extract-plane transforms, limits,
    * deadlines, metrics and incremental ride along; STORE-PATH gates
    * (schema contracts, drift checks, table dispatch) fail fast with a
    * routing message rather than silently delivering ungated data —
    * route such resources through [[run]]. Schema registry,
    * `_dlt_loads` ledger and pipeline state stay LOCAL (the reference
    * keeps them pipeline-side too: a custom destination has no system
    * tables). Incremental resources work unchanged: the cursor window,
    * boundary-fingerprint dedup and state advance are extract-side and
    * destination-agnostic — the cursor advances only after every table
    * of the resource was sunk, so a failing sink retries the same
    * window. Returns resource → tables sent. */
  def runTo(resources: Seq[Resource], dest: CustomDestination,
      loadId: String): Map[String, Seq[String]] = {
    val naming = graft.schema.NamingConventions.byName(dest.namingConvention)
    // UNSUPPORTED configuration fails FAST and BEFORE any delivery, never
    // silently drops: a custom destination has no store table to enforce
    // contracts or drift against, and no per-table routing. Validating
    // ALL resources up front matters — an external sink is irreversible,
    // so a mid-batch rejection would leave earlier resources delivered
    // and force a duplicate-producing full retry
    resources.foreach { r0 =>
      require(r0.contract == Contracts.Contract(),
        s"runTo('${r0.name}'): schema contracts need a table destination " +
          "to enforce against — route this resource through run()")
      require(r0.driftCheck.isEmpty,
        s"runTo('${r0.name}'): the drift gate quarantines into the " +
          "pipeline's own store — route this resource through run()")
      require(r0.dispatchColumn.isEmpty,
        s"runTo('${r0.name}'): table dispatch is a store-path feature — " +
          "split the resource per routing value for a custom destination")
    }
    val out = resources.map { r0 =>
      // time budget: same semantics as runOne — past the deadline the
      // extraction admits nothing, but the (empty) load still flows
      val r =
        if (r0.deadlineNanos.exists(System.nanoTime() >= _))
          r0.copy(frame = r0.frame.limit(0))
        else r0
      // cursor state, boundary tables and metrics key under the
      // PIPELINE's own normalization — the SAME key the store path
      // uses, so the cursor truly is destination-agnostic: re-routing a
      // resource between run() and runTo (or between destinations with
      // different naming conventions) continues the same window instead
      // of silently re-extracting history into an irreversible sink.
      // The destination's convention names only what the sink receives.
      val stateKey = Naming.normalizeTableName(r.name)
      val (windowed, incPin) = r.incremental match {
        case None => (r.frame, None)
        case Some(cfg) =>
          val st = states.load(name, s"$stateKey/${cfg.cursorColumn}")
          val fps = store.readOption(boundaryTable(stateKey, cfg))
          // pinned for the same reason as the store path: the advance
          // must aggregate the rows that were SENT, not a re-executed
          // window over a live source
          val w = Incremental(r.frame, cfg, st, fps).persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          (w, Some((w, cfg, st)))
      }
      // MetricsItem rides the sink action, no extra scan — but unlike
      // the store path NOTHING here guarantees the sink executes one:
      // metrics resolve non-blockingly (absent, not a hang, when the
      // callback never ran a full action over the delivered frame)
      val observation = Option.when(r.metrics.nonEmpty)(
        new org.apache.spark.sql.Observation(s"$stateKey-$loadId-to"))
      val frame = observation match {
        case Some(obs) =>
          windowed.observe(obs, r.metrics.head._2.as(r.metrics.head._1),
            r.metrics.tail.map { case (n, c) => c.as(n) }: _*)
        case None => windowed
      }
      try {
        val tables = Normalizer.normalize(frame, r.name,
          NormalizeConfig(loadId, maxNesting = dest.maxTableNesting,
            naming = naming))
        // skip the fan-out pin when the incremental window is already
        // cached: observe is a no-op wrapper whose scan routes through
        // the child cache — a second persist would hold the same rows
        // twice
        val fanoutPin = Option.when(tables.size > 1 && incPin.isEmpty)(
          frame.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        try {
          val sent = tables.toSeq.sortBy(_._1).map { case (t, df0) =>
            val df =
              if (dest.skipDltColumns)
                df0.drop(df0.columns.filter(_.startsWith("_dlt_"))
                  .toIndexedSeq: _*)
              else df0
            // the registry tracks the SENT schema (post-strip), but
            // keys it under ITS OWN snake_case normalization — distinct
            // direct names that normalize identically share one entry
            // (a registry-view limitation; destination tables are
            // unaffected, the sink received the verbatim name)
            registry.evolve(t, df.schema)
            dest.sinkFrame(df, SinkTable(t, loadId, df.schema))
            t
          }
          // cursor advances only after EVERY table sank — a failing
          // sink leaves the window un-advanced for the retry
          incPin.foreach { case (w, cfg, st) =>
            Incremental.advanceValue(w, cfg).foreach { newLast =>
              val bfps = Incremental.boundaryFingerprints(w, cfg, newLast)
              val bt = boundaryTable(stateKey, cfg)
              if (st.lastValue.contains(newLast)) store.append(bt, bfps)
              else store.overwrite(bt, bfps)
              states.save(name, s"$stateKey/${cfg.cursorColumn}",
                Incremental.State(Some(newLast), Nil))
            }
          }
          observation.foreach { obs =>
            // getRowOrEmpty via reflection: the non-blocking reads are
            // private[sql] in the Scala signature (bytecode-public), and
            // obs.get would HANG FOREVER when the sink never ran a full
            // action. Each call awaits ≤100 ms, and the completing
            // SQLExecutionEnd event posts ASYNC on the listener bus
            // after the sink's action returns — so retry for a bounded
            // ~2 s before concluding no action ran (a single 100 ms
            // probe silently lost metrics under listener-bus lag)
            def rowOpt() = obs.getClass.getMethod("getRowOrEmpty")
              .invoke(obs).asInstanceOf[Option[org.apache.spark.sql.Row]]
            val row = Iterator.range(0, 20).map(_ => rowOpt())
              .collectFirst { case Some(rr) => rr }
            row.foreach { rr =>
              val m = rr.schema.fieldNames.zip(rr.toSeq).toMap
              synchronized { metricsByResource += stateKey -> m }
            }
          }
          dispositions.recordLoad(loadId, name)
          r.name -> sent
        } finally fanoutPin.foreach(_.unpersist(blocking = false))
      } finally
        // EVERY exit releases the incremental window — a flaky sink
        // retried in a loop must not accumulate one pinned frame per
        // attempt (the store path releases on its failure exits too)
        incPin.foreach(_._1.unpersist(blocking = false))
    }.toMap
    syncSystemTables(loadId)
    out
  }

  /** Wait for ALL futures to SETTLE, then either return the results or
    * throw the first failure. A bare `Await.result(Future.sequence(..))`
    * rethrows on the first failure while sibling loads keep committing
    * on the pool in the background — racing caller cleanup or an
    * immediate retry of the same pipeline against the same store. */
  private def awaitAll[A](futures: Seq[scala.concurrent.Future[A]])(
      implicit ec: scala.concurrent.ExecutionContext): Seq[A] = {
    val settled = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(
        futures.map(_.transform(t => scala.util.Success(t)))),
      scala.concurrent.duration.Duration.Inf)
    settled.collectFirst { case scala.util.Failure(e) => e }.foreach(e => throw e)
    settled.collect { case scala.util.Success(a) => a }
  }

  private def runOne(r0: Resource, loadId: String): Seq[String] = {
    // time budget (addLimit maxTime): extraction starting past the
    // deadline admits nothing — the empty load still records the table
    // (schema evolution, loads ledger), like an exhausted reference pipe
    val r =
      if (r0.deadlineNanos.exists(System.nanoTime() >= _))
        r0.copy(frame = r0.frame.limit(0))
      else r0
    r.dispatchColumn match {
      case None => runOneTable(r, loadId)
      case Some(c) =>
        // table dispatch: one sub-resource per distinct routing value.
        // The distinct set is collected (driver-small by contract — it
        // IS the table list); each slice reuses the full load path.
        // The source is persisted first so the whole dispatch costs ONE
        // source scan (+ cache reads), not one full scan per value.
        val cached = r.frame.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val values = cached.select(c).distinct().collect()
            .map(_.get(0)).filter(_ != null).map(_.toString).sorted
          // slices target DISTINCT tables by construction (the routing
          // value is in the table name), so they load concurrently like
          // runParallel resources — sequential slices serialized one
          // two-commit load cycle per value (round-3 bench finding)
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.max(1, math.min(8, values.length)))
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutorService(pool)
          try {
            val futures = values.toSeq.map { v =>
              scala.concurrent.Future {
                val slice = r.copy(
                  name = s"${r.name}_$v",
                  frame = cached.filter(org.apache.spark.sql.functions.col(c) === v),
                  dispatchColumn = None)
                runOneTable(slice, loadId)
              }
            }
            // settle ALL slices before propagating a failure — see awaitAll
            awaitAll(futures).flatten
          } finally pool.shutdown()
        } finally cached.unpersist(blocking = false)
    }
  }

  private def runOneTable(r: Resource, loadId: String): Seq[String] = {
    val tableName = Naming.normalizeTableName(r.name)

    // incremental window + boundary dedup. The windowed frame is
    // persisted so the post-load `advance` aggregates over the SAME rows
    // the load wrote — re-running the lazy plan against a live source
    // (JDBC/REST) could see later rows and advance the cursor past data
    // that was never loaded, permanently skipping it.
    val (windowed, newState) = r.incremental match {
      case None => (r.frame, None)
      case Some(cfg) =>
        val st = states.load(name, s"$tableName/${cfg.cursorColumn}")
        // boundary fingerprints live in a destination-side table and are
        // ANTI-JOINED, never collected: a coarse cursor (a date column)
        // can put millions of rows on one boundary value, which would
        // blow up both the driver collect and an isin literal list
        val fps = store.readOption(boundaryTable(tableName, cfg))
        val filtered = Incremental(r.frame, cfg, st, fps).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (filtered, Some(cfg -> st))
    }

    // MetricsItem: observe rides the load action, no extra scan
    val observation = Option.when(r.metrics.nonEmpty)(
      new org.apache.spark.sql.Observation(s"$tableName-$loadId"))
    val frame = observation match {
      case Some(obs) =>
        windowed.observe(obs, r.metrics.head._2.as(r.metrics.head._1),
          r.metrics.tail.map { case (n, c) => c.as(n) }: _*)
      case None => windowed
    }

    // shared tail of the success AND quarantine exits: advance the
    // incremental cursor over the SAME pinned window the exit handled,
    // release the pin, record observed metrics
    def advanceState(): Unit = newState.foreach { case (cfg, st) =>
      Incremental.advanceValue(frame, cfg).foreach { newLast =>
        val fps = Incremental.boundaryFingerprints(frame, cfg, newLast)
        val bt = boundaryTable(tableName, cfg)
        if (st.lastValue.contains(newLast)) store.append(bt, fps)
        else store.overwrite(bt, fps)
        states.save(name, s"$tableName/${cfg.cursorColumn}",
          Incremental.State(Some(newLast), Nil))
      }
      windowed.unpersist(blocking = false)
    }
    def recordMetrics(): Unit = observation.foreach { obs =>
      val m = obs.get
      synchronized { metricsByResource += tableName -> m }
    }

    // value-drift gate: PSI of the incoming batch vs the CURRENT table
    // snapshot, checked before anything of this load commits; no
    // baseline yet (first load) passes trivially, and so does a window
    // with NO non-null gate values — an idle incremental poll delivers
    // zero rows, whose all-zero histogram scores a huge PSI against
    // ANY non-uniform baseline and would spuriously breach on every
    // poll. Emptiness is read off the same per-bin result the PSI scan
    // already produces (Σ n_cur = 0), costing zero extra actions. A
    // failing RAISE gate must release the incremental window's
    // persist — the success/discard unpersist paths never run on that
    // exit.
    val driftBreach: Option[Double] = r.driftCheck.flatMap { dc =>
      // baseline: the live table snapshot (plain mode — one baseline
      // scan per load) or the persisted rolling profile (profiled mode
      // — ≤ bins literals, ZERO baseline scans; the lake-scale form).
      // No baseline yet (first load / profile not seeded) passes
      // trivially either way.
      val perBinOpt =
        if (dc.profiled) {
          val pt = s"${tableName}__drift_profile"
          if (!store.exists(pt)) None
          else Some(graft.operators.Drift.psiVsProfile(
              graft.operators.Drift.loadProfile(store, pt),
              frame.select(dc.column), dc.column)
            .select("n_cur", "psi").collect()) // ≤ bins rows by contract
        } else store.readOption(tableName).map { prev =>
          graft.operators.Drift.psi(
              prev.select(dc.column), frame.select(dc.column),
              dc.column, dc.bins)
            .select("n_cur", "psi").collect() // ≤ bins rows by contract
        }
      perBinOpt.flatMap { perBin =>
        val curTotal = perBin.iterator.map(_.getAs[Long]("n_cur")).sum
        val psi = Some(perBin.head.getAs[Double]("psi")).filter(_ > dc.maxPsi)
        // Σ n_cur = 0 means either a genuinely empty window (idle poll:
        // pass, nothing to compare — the limit-1 probe runs only on this
        // rare path, against the pre-observe frame) or N rows whose gate
        // column is ENTIRELY null (an upstream corruption the gate
        // exists to catch: the all-zero histogram's huge PSI breaches
        // as it always did)
        if (curTotal > 0L || !windowed.isEmpty) psi else None
      }
    }
    driftBreach match {
      case Some(psi) if !r.driftCheck.exists(_.quarantine) =>
        if (newState.isDefined) windowed.unpersist(blocking = false)
        val dc = r.driftCheck.get
        throw new IllegalStateException(
          s"drift check failed for $tableName.${dc.column}: " +
            f"PSI $psi%.6f > ${dc.maxPsi}")
      case Some(psi) =>
        // DEAD-LETTER route: the whole breaching batch lands in the
        // quarantine table with its provenance; the main table never
        // sees it, and the cursor advances — the batch is handled, not
        // retried. Replay with [[replayQuarantine]], which strips the
        // stamp columns so the provenance never leaks into the main
        // table's schema.
        import org.apache.spark.sql.functions.lit
        val dc = r.driftCheck.get
        val qt = s"${tableName}__quarantine"
        store.append(qt, frame
          .withColumn(Ids.DltLoadId, lit(loadId))
          .withColumn(Pipeline.DriftColumnStamp, lit(dc.column))
          .withColumn(Pipeline.DriftPsiStamp, lit(psi)))
        // package processed + a DEDICATED dead-letter ledger row
        // (status 2, own namespace so a multi-resource package's
        // status-0 row cannot shadow it) — monitoring sees quarantined
        // loads straight off `_dlt_loads`
        dispositions.recordLoad(loadId, name)
        dispositions.recordLoad(loadId, s"$name#quarantine", status = 2)
        advanceState()
        recordMetrics()
        return Seq(qt)
      case None => ()
    }

    // normalize: flatten + child tables + ids
    val rootIdType = r.hints.writeDisposition match {
      case "merge" if r.scd2Config.isDefined => RootIdType.RowHash
      case "merge" if r.hints.primaryKey.nonEmpty => RootIdType.KeyHash(r.hints.primaryKey)
      case _ => RootIdType.Random
    }
    val propagate =
      if (r.propagateRootKey || r.hints.writeDisposition == "merge")
        Map("_dlt_id" -> "_dlt_root_id")
      else Map.empty[String, String]
    val tables = Normalizer.normalize(frame, tableName,
      NormalizeConfig(loadId, r.maxNesting, rootIdType, propagate))
    // a document that fans out into child tables re-derives EVERY output
    // from `frame` (Normalizer is lazy selects/explodes) — pin the shared
    // input so root + N children cost one source execution, not N+1.
    // Cache lookup is by plan fragment, so persisting after building the
    // lazy outputs still routes them through the cache.
    val fanoutPin = Option.when(tables.size > 1)(frame.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

    // contract enforcement against what's already stored
    val enforced = tables.map { case (t, df) =>
      val existing = Option.when(store.exists(t) && store.segments(t).nonEmpty)(
        store.schema(t))
      val gated = existing match {
        case Some(schema) => Contracts.enforce(df, schema, r.contract)
        case None =>
          if (!Contracts.allowNewTable(t, exists = false, r.contract)) null else df
      }
      t -> gated
    }.filter(_._2 != null)

    // load by disposition; child tables follow the chain on merge.
    // A tables contract (DiscardValue/DiscardRow) can gate out a NEW
    // root table entirely — then the whole load silently skips, as the
    // reference does for contract-filtered resources.
    val rootDfOpt = enforced.get(tableName)
    if (rootDfOpt.isEmpty) {
      if (r.incremental.isDefined) windowed.unpersist(blocking = false)
      fanoutPin.foreach(_.unpersist(blocking = false))
      return Nil // discarded: nothing written, cursor state does not advance
    }
    val rootDf = rootDfOpt.get
    r.hints.writeDisposition match {
      case "append" =>
        // root segments carry pk stats so later merges can prune
        enforced.foreach { case (t, df) =>
          store.append(t, df,
            statsFor = if (t == tableName) r.hints.primaryKey else Nil)
        }
        dispositions.recordLoad(loadId, name)
      case "replace" =>
        enforced.foreach { case (t, df) =>
          dispositions.replace(t, df, loadId, r.replaceStrategy)
        }
      case "merge" if r.scd2Config.isDefined =>
        dispositions.scd2(tableName, rootDf, r.scd2Config.get, loadId)
        // nested child tables load insert-only on their deterministic
        // row-hash _dlt_id (reference gen_scd2_sql nested-table inserts,
        // sql_jobs.py:1000-1020): children of re-sent unchanged parents
        // already exist and are skipped; children of new versions insert.
        (enforced - tableName).foreach { case (t, df) =>
          dispositions.merge(t, df, MergeConfig(primaryKey = Seq(Ids.DltId)),
            loadId, MergeStrategy.InsertOnly)
        }
      case "merge" =>
        val children = enforced - tableName
        if (children.isEmpty)
          dispositions.merge(tableName, rootDf, r.mergeConfig, loadId)
        else
          MergeChain.deleteInsert(store, TableChain(tableName, rootDf, children),
            r.mergeConfig, loadId)
      case "skip" => ()
      case other => throw new IllegalArgumentException(s"unknown disposition $other")
    }

    // register evolved schemas + advance incremental state
    enforced.foreach { case (t, df) =>
      registry.evolve(t, df.schema)
      if (t == tableName) registry.register(t, registry.get(t).get._1, r.hints)
    }
    // profiled drift gate: seed (first load) or fold this PASSING
    // load's gate values into the rolling baseline, in two halves.
    // The SPARK half (full histogram for a seed, [[Drift.binCounts]]
    // under the existing profile's pinned range for a fold) runs HERE,
    // while the incremental window's persist is still pinned — after
    // advanceState() releases it, re-running the lazy `frame` plan
    // against a live source (JDBC/REST) could see rows that were never
    // part of this load and fold them into the baseline
    // (double-counted when the next load lands them). The DRIVER half
    // (the profile table write) happens after the cursor advance,
    // under the profile table's store lock: counts are COMMUTATIVE, so
    // the lock-covered reload-add-write loses nothing even if another
    // writer folded in between (the read-fold-write would otherwise be
    // a lost-update race under concurrent loads). BOTH halves are
    // best-effort (same hazard analysis as the retention sweep below:
    // a maintenance failure must never leave a committed load with an
    // unadvanced cursor). Breaching loads never reach this point, so
    // the baseline only ever absorbs accepted distributions. An
    // all-null first window cannot seed (histogram refuses) — the
    // next non-empty load seeds instead.
    val pendingProfile: Option[(String,
        Either[graft.operators.Drift.Histogram,
          (graft.operators.Drift.Histogram, Array[Long])])] =
      r.driftCheck.filter(_.profiled).flatMap { dc =>
        val pt = s"${tableName}__drift_profile"
        try {
          val gate = frame.select(dc.column)
          if (!store.exists(pt))
            try Some(pt -> Left(graft.operators.Drift.histogram(gate,
              dc.column, dc.bins)))
            catch { case _: IllegalArgumentException =>
              // an all-null/empty first window cannot seed (histogram
              // refuses by contract) — silently defer to the next
              // non-empty load; an idle poll must not log errors
              None
            }
          else {
            val p = graft.operators.Drift.loadProfile(store, pt)
            // carry the profile the counts were binned UNDER: the
            // locked fold below must verify range as well as bin count
            Some(pt -> Right(
              (p, graft.operators.Drift.binCounts(p, gate, dc.column))))
          }
        } catch { case e: Exception =>
          System.err.println(
            s"[pipeline] drift-profile computation for '$pt' failed " +
              s"(the load still commits and the cursor advances; the " +
              s"baseline simply misses this load): $e")
          None
        }
      }
    advanceState()
    fanoutPin.foreach(_.unpersist(blocking = false))
    recordMetrics()
    pendingProfile.foreach { case (pt, half) =>
      try store.exclusively(pt) {
        half match {
          case Left(seed) =>
            if (!store.exists(pt))
              graft.operators.Drift.writeProfile(store, pt, seed, spark)
            else
              // another writer seeded between our check and this lock;
              // our counts were binned under OUR range, not theirs —
              // skip (one missed fold, benign) rather than mix ranges
              System.err.println(
                s"[pipeline] drift profile '$pt' was seeded concurrently; " +
                  s"skipping this load's fold")
          case Right((binnedUnder, counts)) =>
            val p = graft.operators.Drift.loadProfile(store, pt)
            // bins AND range must match the profile the counts were
            // binned under: a concurrent re-seed with the SAME bin
            // count but a new (mn, mx) would otherwise silently fold
            // counts binned under the old range into the new profile —
            // the exact range-mixing the seed branch's skip avoids
            if (p.bins == counts.length &&
                p.mn == binnedUnder.mn && p.mx == binnedUnder.mx)
              graft.operators.Drift.writeProfile(store, pt,
                p.plus(counts), spark)
            else
              System.err.println(
                s"[pipeline] drift profile '$pt' was re-seeded " +
                  s"(bins ${binnedUnder.bins}->${p.bins}, range " +
                  s"[${binnedUnder.mn}, ${binnedUnder.mx}]->" +
                  s"[${p.mn}, ${p.mx}]) since this fold was computed; " +
                  s"skipping this load's fold")
        }
      } catch { case e: Exception =>
        System.err.println(
          s"[pipeline] drift-profile update of '$pt' failed (load is " +
            s"committed and the cursor advanced; the baseline simply " +
            s"misses this load): $e")
      }
    }
    // retention rides the load (withRetention): sweep strictly AFTER
    // the commit AND the cursor advance — a sweep failure (IO error
    // during GC) must not leave a committed load with an unadvanced
    // cursor, or the next run re-appends the same rows. Maintenance is
    // best-effort per load: a failed sweep logs loudly and the next
    // load retries it (snapshots only accumulate, never corrupt).
    r.retention.foreach { pol =>
      enforced.keys.foreach { t =>
        try store.applyRetention(t, pol.keepLast, pol.ttlMs)
        catch { case e: Exception =>
          System.err.println(
            s"[pipeline] retention sweep of '$t' failed (load is " +
              s"committed and the cursor advanced; the next load " +
              s"retries the sweep): $e")
        }
      }
    }
    enforced.keys.toSeq.sorted
  }

  /** A table's drift-quarantined rows, ready for REPLAY through the
    * pipeline after investigation: the dead-letter stamp columns
    * (`_dlt_load_id`, `_drift_column`, `_drift_psi`) are stripped so
    * the replayed batch carries exactly the original schema — feeding
    * the raw quarantine table back in would otherwise evolve the main
    * table's schema with the provenance columns. Pass `loadId` to
    * replay ONE quarantined load (the filter runs before the stamps
    * are stripped); after a successful replay, [[clearQuarantine]] the
    * handled rows — the table accumulates across breaches, so an
    * unfiltered later replay would re-ingest already-replayed loads. */
  def replayQuarantine(table: String, loadId: Option[String] = None): DataFrame = {
    val raw = store.read(s"${Naming.normalizeTableName(table)}__quarantine")
    loadId.fold(raw)(id =>
        raw.filter(org.apache.spark.sql.functions.col(Ids.DltLoadId) === id))
      // `_batch_id` is the STREAMING dead-letter's extra stamp
      // (Streaming.curateInto quarantines with it for replay
      // idempotence) — strip it with the other provenance columns so a
      // replayed batch carries the original schema; a re-curated
      // replay re-stamps its own batch id anyway. (drop of an absent
      // column is a no-op, so pipeline-quarantined tables are
      // unaffected.)
      .drop(Ids.DltLoadId, Pipeline.DriftColumnStamp,
        Pipeline.DriftPsiStamp, Pipeline.BatchIdColumn)
  }

  /** Retire quarantined rows after they were replayed (or discarded) —
    * the bookkeeping end of the dead-letter cycle. With no `loadId` the
    * whole quarantine table is dropped; with one, only THAT load's rows
    * are retired (the table accumulates across breaches, so clearing
    * everything after replaying one load would silently discard the
    * other, still-uninvestigated breaches). Dropping the table when the
    * last load is cleared keeps the invariant the replay gate checks:
    * no quarantine table ⇔ nothing dead-lettered. */
  def clearQuarantine(table: String, loadId: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.{col, lit, not}
    val qt = s"${Naming.normalizeTableName(table)}__quarantine"
    loadId match {
      case None => store.drop(qt)
      case Some(id) => store.exclusively(qt) {
        // a second investigator clearing the already-dropped table is a
        // no-op, like sweepQuarantine's missing-table path; and the
        // read-then-overwrite holds the table lock so a breach
        // quarantined in between cannot be silently dropped
        if (store.exists(qt)) {
          import org.apache.spark.sql.functions.{coalesce, count, sum, when}
          // one counting pass decides drop / partial rewrite / no-op
          // (the sweepQuarantine idiom); null-safe: a NULL stamp is
          // never "this load", and an id matching nothing must not
          // rewrite the table into a new identical snapshot
          val all = store.read(qt)
          val hit = col(Ids.DltLoadId) <=> lit(id)
          val c = all.agg(
            coalesce(sum(when(hit, 1L).otherwise(0L)), lit(0L)),
            count(lit(1))).head()
          val (matched, total) = (c.getLong(0), c.getLong(1))
          if (matched > 0L) {
            if (matched == total) store.drop(qt)
            else store.overwrite(qt, all.filter(not(hit)))
          }
        }
      }
    }
  }

  /** Age-based quarantine retention: retire every quarantined load
    * OLDER than `before`. Dead-letter stamps carry the quarantining
    * load's id, and generated ids are epoch-micros
    * ([[graft.write.Dispositions.newLoadId]]) — so age is expressed as
    * a load-id cutoff and [[java.time.Instant]] converts via the same
    * encoding. A row compares numerically against ANY parseable cutoff
    * when it is exactly representable as DECIMAL(38,6) — which every
    * engine-minted id is — and lexicographically otherwise (opaque
    * ids, scientific notation, >32 integer or >6 fraction digits): a
    * vectorized narrowing of the ledger's arbitrary-precision
    * [[graft.write.Dispositions]] ordering, documented at the
    * comparator. Returns the number of rows retired. */
  def sweepQuarantine(table: String, before: java.time.Instant): Long =
    sweepQuarantine(table,
      java.math.BigDecimal.valueOf(
        before.getEpochSecond * 1000000L + before.getNano / 1000L, 6)
        .toPlainString)

  /** [[sweepQuarantine]] with an explicit load-id cutoff (exclusive). */
  def sweepQuarantine(table: String, beforeLoadId: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, count, expr, lit, sum, when}
    val qt = s"${Naming.normalizeTableName(table)}__quarantine"
    store.exclusively(qt) {
      // the lock spans read → overwrite: a breach quarantined between
      // the counting pass and the rewrite must not be silently dropped
      // (TableStore.exclusively documents exactly this hazard)
      if (!store.exists(qt)) 0L
      else {
        val id = col(Ids.DltLoadId)
        // numeric compare when the ROW is exactly representable as
        // DECIMAL(38,6) and the cutoff parses at all — the vectorized
        // Dispositions.loadIdBefore, with one documented narrowing:
        // loadIdBefore compares at arbitrary precision, while a
        // vectorized decimal caps at Spark's 38 digits AND try_cast
        // silently ROUNDS fraction digits beyond the scale (it only
        // nulls on integer overflow). Each row therefore carries a
        // codegen'd grammar guard (≤32 integer digits, ≤6 fraction
        // digits, no sign/exponent — every engine-minted epoch.micros
        // id qualifies); rows outside it compare lexicographically.
        // The CUTOFF side needs no such cap: it never rides a cast —
        // any parseable cutoff is floored to scale 6 driver-side
        // (n < c ⟺ n ≤ floor₆(c) for grid-aligned n when c falls off
        // the 10⁻⁶ grid; scientific notation and negative scales
        // normalize through the same setScale), and a cutoff past 32
        // integer digits resolves to a constant: every grammar row is
        // below a huge positive cutoff, none is below a negative one.
        // coalesce(false): a NULL stamp is undatable — never swept (the
        // raw predicate is NULL there, which the count would read as
        // "kept" while `!older` dropped it in the rewrite)
        val cutNum = scala.util.Try(BigDecimal(beforeLoadId)).toOption
        val older = coalesce(cutNum match {
          case Some(c) =>
            val n = expr(s"try_cast(${Ids.DltLoadId} AS DECIMAL(38, 6))")
            val exact = id.rlike("^[0-9]{1,32}(\\.[0-9]{1,6})?$")
            val floored = c.setScale(6, scala.math.BigDecimal.RoundingMode.FLOOR)
            val numericLeg =
              if (floored.precision - floored.scale > 32)
                lit(c.signum > 0) // beyond every representable row
              else if (c == floored) n < lit(floored.bigDecimal)
              else n <= lit(floored.bigDecimal) // n < c ⟺ n ≤ floor₆(c)
            when(exact && n.isNotNull, numericLeg)
              .otherwise(id < lit(beforeLoadId))
          case None => id < lit(beforeLoadId)
        }, lit(false))
        val all = store.read(qt)
        // one counting pass decides the sweep; the rewrite (when
        // partial) is the only other scan
        val c = all.agg(
          coalesce(sum(when(older, 1L).otherwise(0L)), lit(0L)),
          count(lit(1))).head()
        val (swept, total) = (c.getLong(0), c.getLong(1))
        if (swept > 0L) {
          if (swept == total) store.drop(qt)
          else store.overwrite(qt, all.filter(!older))
        }
        swept
      }
    }
  }

  private var metricsByResource: Map[String, Map[String, Any]] = Map.empty

  /** Side-channel metrics of the last load of a resource (MetricsItem). */
  def metrics(resource: String): Map[String, Any] =
    metricsByResource.getOrElse(Naming.normalizeTableName(resource), Map.empty)

  /** Refresh modes applied before/independent of a run (reference
    * `refresh` + drop command, dlt/common/pipeline.py:62,
    * dlt/pipeline/drop.py:51-120, helpers.py:62-155):
    *  - `dropSources()`   — drop every table and all state;
    *  - `dropResources(r…)` — drop the named tables (and their nested
    *    child tables) plus their incremental state;
    *  - `dropData(r…)`    — truncate the named tables, keep schemas,
    *    reset their incremental state.
    */
  def dropSources(): Unit = {
    store.tables.foreach(store.drop)
    states.clear(name)
  }

  def dropResources(resources: String*): Unit =
    expandChildren(resources).foreach { t =>
      store.drop(t)
      states.clear(name, s"$t/")
    }

  def dropData(resources: String*): Unit =
    expandChildren(resources).foreach { t =>
      store.truncate(t)
      states.clear(name, s"$t/")
    }

  /** A resource owns its nested child tables `<name>__*` (table-chain
    * ancestry, reference load/utils.py:20-64) and its boundary-
    * fingerprint system tables. */
  private def expandChildren(resources: Seq[String]): Seq[String] = {
    val roots = resources.map(r => Naming.normalizeTableName(r))
    store.tables.filter(t => roots.exists(r => t == r || t.startsWith(s"${r}__") ||
      t.startsWith(s"_dlt_boundary__${r}__")))
  }

  /** Destination-side boundary-fingerprint table of an incremental
    * resource (column `fp`) — anti-joined on load, rewritten on advance. */
  private def boundaryTable(table: String, cfg: Incremental.Config): String =
    s"_dlt_boundary__${table}__${cfg.cursorColumn.replaceAll("[^A-Za-z0-9_]", "_")}"
}

object Pipeline {
  /** Dead-letter provenance stamp columns — ONE owner for the append
    * sites (the pipeline drift quarantine here and
    * [[graft.streaming.Streaming.curateInto]]'s) and
    * [[Pipeline.replayQuarantine]]'s strip: `drop`-by-name is a SILENT
    * no-op on a mismatch, so a renamed literal at any single site
    * would leak provenance columns into the main table's schema — the
    * exact failure the strip exists to prevent. */
  val DriftColumnStamp = "_drift_column"
  val DriftPsiStamp = "_drift_psi"

  /** The streaming planes' replay-idempotence column: a DATA column on
    * streamed tables (its per-segment max stat is the restart
    * watermark), an extra provenance stamp on streaming dead-letters
    * (stripped by [[Pipeline.replayQuarantine]] — a re-curated replay
    * re-stamps its own). */
  val BatchIdColumn = "_batch_id"
}
