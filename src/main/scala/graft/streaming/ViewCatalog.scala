package graft.streaming

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The NAMED materialized-view catalog (SURVEY.md §2.3 #234) — the
  * engine's front door: `CREATE MATERIALIZED VIEW v AS SELECT …`,
  * querying and LAYERING views by name, `DROP`, and restart of the whole
  * named graph from checkpoints. This is the step from "a library of
  * dataflows" to "a changefeed engine": the r6–r9 planner investment
  * ([[IncrementalPlanner.materialize]] and friends) becomes a managed
  * view graph instead of hand-wired compositions.
  *
  * Architecture — physical sharing, not dataflow inlining. Each named
  * view runs ONE streaming query: its SQL compiles to its keyed
  * changefeed ([[IncrementalPlanner.namedChanges]]) and lands in a
  * managed sink directory via [[FeedSink.writeChangeBatch]] (the
  * batch-partitioned, commit-markered, compactable feed). A downstream
  * view that names `v` in FROM does NOT re-run v's dataflow — it TAILS
  * v's sink directory as a live feed ([[FeedSink.readChangeFeed]]). At
  * 100 TB this is the difference that matters: an upstream view's state
  * and compute are paid once however many dependents it has, dependents
  * restart independently, and a view's sink doubles as its query-able
  * snapshot ([[FeedSink.stateAsOf]]) and its time-travel log. The cost
  * is one disk hop of latency per layer — the standard materialized-view
  * engine trade (Materialize makes the same one between dataflows).
  *
  * Durability: each view persists `<root>/meta/<name>.properties`
  * (SQL text, dependency names, output columns) next to its checkpoint
  * (`<root>/views/<name>/checkpoint`) and sink
  * (`<root>/views/<name>/feed`). [[resume]] reloads the metadata,
  * re-compiles each view, and restarts its query on the SAME checkpoint
  * — state restores per the planner restart contract (#220) — in
  * dependency order. Source feeds are runtime objects (a Kafka topic, a
  * Debezium adapter over it, a file dir), so they re-register as THUNKS
  * each session; the catalog stores their names only.
  *
  * Not thread-safe: catalog mutation (create/drop/resume) is a driver
  * control-plane operation, serialized by the caller like DDL anywhere.
  */
/** A managed view: its definition, its dependencies (names of sources
  * or other views), its output column names, and the running query.
  */
final case class NamedView(name: String, sql: String, deps: Seq[String],
    cols: Seq[String], query: StreamingQuery)

/** One row of [[ViewCatalog.status]] — the SHOW MATERIALIZED VIEWS
  * surface. Sink-derived fields (batchesCommitted, lastBatchId) are
  * durable truth; query-derived fields reflect the live session.
  */
final case class ViewStatus(name: String, sql: String, deps: Seq[String],
    cols: Seq[String], live: Boolean, batchesCommitted: Long,
    lastBatchId: Long, lastInputRows: Long, lastBatchMs: Long)

/** One row of [[ViewCatalog.statusHistory]] — the per-batch maintenance
  * record persisted beside the sink (`history.tsv`): what the operator
  * reads to answer "what has this view been DOING" after the fact —
  * input-rate trends, duration regressions, watermark stalls, state
  * growth. `eventTs` is the progress event's own ISO timestamp (engine
  * clock, not ours).
  */
final case class ViewBatchStatus(name: String, batchId: Long,
    inputRows: Long, durationMs: Long, stateRows: Long,
    watermark: String, eventTs: String)

class ViewCatalog(val spark: SparkSession, val root: String)
    extends org.apache.spark.internal.Logging {

  private val sources = mutable.LinkedHashMap.empty[String, () => Dataset[Change]]
  private val views   = mutable.LinkedHashMap.empty[String, NamedView]
  // name → (family, root, params) of a registered live-index store
  // (r15): the family's shared LocatorStore erasure/audit verbs and its
  // own probes (each partition-pruned via its locator sidecar). params
  // carries the store's CREATION constants the probe must match (ann:
  // planes; posting: buckets; ivf: nprobe).
  private val indexStores =
    mutable.LinkedHashMap.empty[String, (LocatorStore, String, Map[String, Int])]

  private val NameRe = "^[A-Za-z_][A-Za-z0-9_]{0,63}$".r

  private def viewDir(name: String) = Paths.get(root, "views", name)
  private def feedDir(name: String) = viewDir(name).resolve("feed").toString
  private def ckDir(name: String)   = viewDir(name).resolve("checkpoint").toString
  private def metaPath(name: String) = Paths.get(root, "meta", s"$name.properties")
  private def historyPath(name: String) = viewDir(name).resolve("history.tsv")

  // query id → view name, for attributing progress events to THIS
  // catalog's views (query NAMES could collide across two catalogs in
  // one session; run ids cannot)
  private val queryIds = mutable.Map.empty[java.util.UUID, String]

  /** Per-batch maintenance history (#312): one listener per catalog
    * appends each completed micro-batch's progress — batch id, input
    * rows, duration, state rows, watermark — as a TSV line beside the
    * view's sink. The engine's own progress plumbing is the source
    * (nothing re-counts data); the file rides the view directory, so
    * history survives restart/resume with the checkpoint and dies with
    * DROP. A crash-replayed batch appends a second line for the same
    * id — [[statusHistory]] resolves last-wins, mirroring the sink's
    * overwrite semantics.
    */
  private val progressListener = new org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      queryIds.get(p.id).foreach { name =>
        val wm    = Option(p.eventTime.get("watermark")).getOrElse("")
        val state = p.stateOperators.map(_.numRowsTotal).sum
        val line =
          s"${p.batchId}\t${p.numInputRows}\t${p.batchDuration}\t$state\t$wm\t${p.timestamp}\n"
        try ViewCatalog.this.synchronized {
          if (Files.isDirectory(viewDir(name)))
            Files.write(historyPath(name), line.getBytes("UTF-8"),
              java.nio.file.StandardOpenOption.CREATE,
              java.nio.file.StandardOpenOption.APPEND): Unit
        } catch {
          case e: java.io.IOException => // a dropped view's late event; never fail the bus
            logWarning(s"history append for view $name failed: ${e.getMessage}")
        }
      }
    }
  }
  spark.streams.addListener(progressListener)

  /** Register a base changefeed under `name`. The thunk re-resolves the
    * feed on each use (and on [[resume]] in a fresh session) — a
    * `Dataset` is a plan bound to a session, not a durable object.
    * Idempotent re-registration of the same name is allowed (a restart
    * re-wires its transports); colliding with a VIEW name is not.
    */
  def registerSource(name: String, feed: () => Dataset[Change]): Unit = {
    requireValidName(name)
    require(!views.contains(name), s"name $name is a materialized view; drop it first")
    sources(name) = feed
  }

  /** Register a LIVE-INDEX store (an [[AnnIndexView]] / [[BitmapIndexView]]
    * / [[PostingIndexView]] root) under `name`, so the catalog's
    * erasure verbs cover the index tier: [[forgetKey]] rewrites the
    * store's partitions through the family's own locator-pruned purge,
    * and [[keyTraces]] audits it. The stores run their own maintenance
    * streams (they are not views); registration is the bookkeeping that
    * makes the GDPR verb complete across everything derived from the
    * feed. Idempotent re-registration re-points the root (a restart
    * re-wires its directories).
    */
  def registerIndexStore(name: String, kind: String, root: String,
      params: Map[String, Int] = Map.empty,
      vectors: Option[() => DataFrame] = None): Unit = {
    requireValidName(name)
    val store = LocatorStore(kind)
    require(!views.contains(name) && !sources.contains(name),
      s"name $name already exists (drop the view / pick another name)")
    indexStores(name) = (store, root, params)
    // a PQ store holds CODES; its SQL probes need the full-precision
    // relation back (query embedding + exact rerank), so the store may
    // register its vectors source — the same relation the Scala probe's
    // rerankWith takes and retrain trains from
    vectors.foreach(v => indexVectors(name) = v)
  }

  private val indexVectors = mutable.LinkedHashMap.empty[String, () => DataFrame]

  def indexStoreNames: Seq[String] = indexStores.keys.toSeq

  /** `CREATE MATERIALIZED VIEW name AS sql`: compiles the SQL against
    * the named sources/views it references, starts its maintenance
    * query, and persists its definition for [[resume]]. Rejects
    * duplicate names and unknown references.
    *
    * `ttl` = `(watermarkDelay, tombstoneTtlMs)` bounds the view's state
    * on an unbounded feed: stage-1 dead contributions expire once the
    * watermark passes their death + ttl (the `materializeExpiring`
    * contract under a managed name — what lets a named view run 24/7
    * against key churn without unbounded tombstone state). Persisted
    * with the definition, so [[resume]] restarts the view expiring.
    */
  def createView(name: String, sql: String,
      ttl: Option[(String, Long)] = None): NamedView = {
    requireValidName(name)
    require(!views.contains(name) && !sources.contains(name),
      s"name $name already exists (DROP the view or pick another name)")
    val refs = referencedTables(spark.sessionState.sqlParser.parsePlan(
      IncrementalPlanner.stripPlannerSyntax(sql)))
    refs.foreach(r => require(sources.contains(r) || views.contains(r),
      s"view $name references unknown table $r (register the source or create the view first)"))
    val v = startView(name, sql, refs.toSeq.sorted, ttl)
    // If the definition can't be persisted (unwritable meta dir, disk
    // full), the just-started maintenance query must not keep running
    // untracked — not in `views`, not resumable, not stoppable via the
    // catalog. Tear it down and surface the original failure.
    try persistMeta(v, ttl)
    catch {
      case e: Throwable =>
        try v.query.stop() finally deleteRecursively(viewDir(name))
        throw e
    }
    views(name) = v
    v
  }

  /** `CREATE OR REPLACE MATERIALIZED VIEW`: redefine `name` in place.
    * A replacement is a NEW view — a changed definition invalidates both
    * the checkpoint (different dataflow state shape) and the sink
    * history (rows of the OLD definition), so both are torn down and the
    * view rebuilds from its feeds' current contents. The new definition
    * is COMPILED before the running view is touched — a bad redefinition
    * (syntax error, unknown reference, planner reject) throws and leaves
    * the old view live.
    *
    * Dependents: refused by default — their tailed sink offsets would
    * dangle (same rule as [[dropView]]). With `cascade = true` the whole
    * downstream subgraph rebuilds instead: every transitive dependent is
    * PRE-FLIGHTED against the new definition's output schema (each
    * column a dependent references from the replaced view must survive
    * the redefinition — checked BEFORE anything stops, so an
    * incompatible replace raises naming the offender while the old
    * graph keeps maintaining), then the subgraph is stopped, torn down
    * (checkpoints + sinks + meta — a dependent's state reflects rows of
    * the OLD definition, so it must rebuild, exactly like the root),
    * and restarted in topological order with each dependent's own
    * original definition and TTL. Dependents converge from the new
    * root's sink contents.
    */
  def createOrReplaceView(name: String, sql: String,
      ttl: Option[(String, Long)] = None, cascade: Boolean = false): NamedView = {
    if (!views.contains(name)) return createView(name, sql, ttl)
    val downstream = transitiveDependents(name)
    require(cascade || downstream.isEmpty,
      s"view $name has dependents ${downstream.mkString(", ")}; " +
        "drop them first or replace with CASCADE")
    val refs = referencedTables(spark.sessionState.sqlParser.parsePlan(
      IncrementalPlanner.stripPlannerSyntax(sql)))
    require(!refs.contains(name), s"view $name cannot reference itself")
    refs.foreach(r => require(sources.contains(r) || views.contains(r),
      s"view $name references unknown table $r (register the source or create the view first)"))
    // pre-flight compile: builds the full dataflow plan against the same
    // feeds startView would wire, starting nothing and touching no dirs
    val feeds = refs.toSeq.sorted.map { d =>
      d -> (if (sources.contains(d)) sources(d)()
            else FeedSink.readChangeFeed(spark, feedDir(d)))
    }.toMap
    val (_, newCols) = IncrementalPlanner.namedChanges(spark, sql, feeds, ttl)
    // pre-flight the dependents against the NEW output schema: any
    // column a dependent takes from the replaced view that the new
    // definition no longer emits is an incompatibility — raised here,
    // with nothing stopped and the whole old graph still live
    downstream.foreach { d =>
      val (lost, ambiguous) = lostColumns(views(d), name, newCols.toSet)
      require(lost.isEmpty,
        s"CASCADE replace of $name is incompatible with dependent $d: " +
          s"it references column(s) ${lost.mkString(", ")} the new definition does not emit")
      // Unqualified references the replaced view USED to satisfy but a
      // co-dependency (open-payload source / other view) could also
      // provide: not provably lost, so the cascade proceeds — but if
      // the source does NOT in fact carry the column, the rebuilt
      // dependent compiles fine and silently emits NULLs. Warn loudly;
      // qualifying the reference in the dependent's SQL removes the
      // ambiguity.
      if (ambiguous.nonEmpty)
        logWarning(s"CASCADE replace of $name: dependent $d references " +
          s"column(s) ${ambiguous.mkString(", ")} unqualified; the new definition of " +
          s"$name no longer emits them, and only a co-dependency may. If none does, " +
          s"$d will emit NULLs — qualify the reference to make the loss a hard error")
    }
    // capture each dependent's definition before teardown (ttl lives in
    // the persisted meta, not the runtime NamedView)
    val depDefs = downstream.map { d =>
      val (_, dSql, dDeps, dTtl) = loadMeta(metaPath(d))
      (d, dSql, dDeps, dTtl)
    }
    // teardown leaves-first (a dependent never tails a deleted sink),
    // then the root
    downstream.reverse.foreach { d =>
      views(d).query.stop()
      views -= d
      deleteRecursively(viewDir(d))
      Files.deleteIfExists(metaPath(d)): Unit
    }
    views(name).query.stop()
    views -= name
    deleteRecursively(viewDir(name))
    Files.deleteIfExists(metaPath(name)): Unit
    val replaced = createView(name, sql, ttl)
    // rebuild the subgraph in topo order (depDefs is already topo-sorted
    // by construction); each dependent re-tails its parents from scratch
    depDefs.foreach { case (d, dSql, _, dTtl) => createView(d, dSql, dTtl): Unit }
    replaced
  }

  /** `ALTER MATERIALIZED VIEW name SET (ttl_delay=…, ttl_ms=…)`: retune
    * a LIVE expiring view's retention — the operational knob turned when
    * a feed's lateness profile shifts (t21's measurement is the input) —
    * WITHOUT discarding its state: same definition, same checkpoint,
    * same sink history; the maintenance query restarts with the new
    * watermark delay / tombstone TTL and picks up exactly where it was.
    *
    * Scoped to Some→Some on purpose: None↔Some changes the compiled
    * dataflow's stateful-operator shape (timeout conf, watermark
    * chain), which a checkpoint cannot survive — that transition is a
    * REDEFINITION and belongs to `CREATE OR REPLACE` (full rebuild).
    * Crash discipline: new meta persists BEFORE the restart (a crash in
    * between resumes with the new ttl — the intended end state); if the
    * restart itself throws, the old meta is restored and the old
    * dataflow restarted, so the catalog never holds a half-altered view.
    */
  def alterViewTtl(name: String, ttl: (String, Long)): NamedView = {
    val v = views.getOrElse(name, throw new IllegalArgumentException(s"no view named $name"))
    val (_, viewSql, deps, oldTtl) = loadMeta(metaPath(name))
    require(oldTtl.isDefined,
      s"view $name is not an expiring view — ALTER ... SET ttl retunes an existing ttl; " +
        "adding or removing one changes the dataflow's state shape (use CREATE OR REPLACE)")
    v.query.stop()
    val p = new java.util.Properties()
    def persist(t: (String, Long)): Unit = {
      p.setProperty("sql", viewSql)
      p.setProperty("deps", deps.mkString(","))
      p.setProperty("cols", v.cols.mkString(","))
      p.setProperty("ttlDelay", t._1)
      p.setProperty("ttlMs", t._2.toString)
      val w = Files.newBufferedWriter(metaPath(name))
      try p.store(w, null) finally w.close()
    }
    persist(ttl)
    val nv =
      try startView(name, viewSql, deps, Some(ttl))
      catch {
        case e: Throwable =>
          persist(oldTtl.get)
          // The rollback restart can itself fail (the feed may be gone,
          // the checkpoint corrupt). That failure must not REPLACE the
          // original error, and the catalog must not keep advertising a
          // stopped query as live: attach it as suppressed and drop the
          // entry so the view reads as down, meta intact for recovery.
          scala.util.Try(startView(name, viewSql, deps, oldTtl)) match {
            case scala.util.Success(old) => views(name) = old
            case scala.util.Failure(e2)  => views.remove(name); e.addSuppressed(e2)
          }
          throw e
      }
    views(name) = nv
    nv
  }

  /** Every view transitively downstream of `name`, in topological order
    * (parents before their dependents) — the CASCADE rebuild order.
    */
  private def transitiveDependents(name: String): Seq[String] = {
    val all = topoOrder(views.map { case (n, v) => n -> v.deps }.toMap)
    val reached = mutable.Set(name)
    val out = mutable.ArrayBuffer.empty[String]
    all.foreach { n =>
      if (n != name && views(n).deps.exists(reached.contains)) {
        reached += n
        out += n
      }
    }
    out.toSeq
  }

  /** Columns `dep` references FROM `replaced` that `newCols` no longer
    * provides. Attribution in the stringly plan: an attribute QUALIFIED
    * with the replaced view's name (or an alias bound to it in FROM) is
    * definitively its; an unqualified attribute is attributed to the
    * replaced view only when no OTHER dependency can provide it —
    * another view's declared columns, or a source (whose payload schema
    * is open, so it can provide anything). Conservative by design: only
    * provable losses block the cascade; the maybe-provided ones are
    * returned separately (second element) so the caller can warn.
    */
  private def lostColumns(dep: NamedView, replaced: String,
      newCols: Set[String]): (Seq[String], Seq[String]) = {
    val stripped = IncrementalPlanner.stripPlannerSyntax(dep.sql)
    val plan = spark.sessionState.sqlParser.parsePlan(stripped)
    // alias → relation bindings from FROM clauses (SubqueryAlias over
    // UnresolvedRelation); the bare relation name binds itself
    val aliases = mutable.Map.empty[String, String]
    plan.foreach {
      case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        a.child match {
          case r: UnresolvedRelation => aliases(a.alias) = r.multipartIdentifier.last
          case _                     => ()
        }
      case r: UnresolvedRelation =>
        aliases.getOrElseUpdate(r.multipartIdentifier.last, r.multipartIdentifier.last): Unit
      case _ => ()
    }
    val attrs = plan.flatMap(_.expressions.flatMap(_.collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.nameParts
    }))
    val otherViewCols = dep.deps.filterNot(_ == replaced).filter(views.contains)
      .flatMap(d => views(d).cols).toSet
    val hasSourceDep = dep.deps.filterNot(_ == replaced).exists(sources.contains)
    val oldCols = views(replaced).cols.toSet
    val lost = attrs.collect {
      case parts if parts.length >= 2 &&
          aliases.getOrElse(parts(parts.length - 2), "") == replaced &&
          !newCols.contains(parts.last) =>
        parts.last
      case parts if parts.length == 1 && oldCols.contains(parts.head) &&
          !newCols.contains(parts.head) &&
          !otherViewCols.contains(parts.head) && !hasSourceDep =>
        parts.head
    }.distinct
    // unqualified, previously satisfied by the replaced view, no longer
    // emitted — but a co-dependency (other view's declared column or an
    // open-payload source) might provide it, so not PROVABLY lost
    val ambiguous = attrs.collect {
      case parts if parts.length == 1 && oldCols.contains(parts.head) &&
          !newCols.contains(parts.head) &&
          (otherViewCols.contains(parts.head) || hasSourceDep) =>
        parts.head
    }.distinct
    (lost, ambiguous)
  }

  /** Compact the view's sink: fold every committed batch so far into one
    * base partition and drop the superseded ones ([[FeedSink.compact]])
    * — the log-compaction bound on a long-running named view's disk
    * (live keys + post-horizon deltas instead of full change history).
    * Snapshot and dependents are unaffected: the base rows keep their
    * commit positions, so the LWW fold over later deltas is unchanged;
    * a dependent that has already tailed past the horizon never re-reads
    * it. Run as maintenance between batches (the standard
    * compaction/reader coordination caveat documented on FeedSink).
    */
  def compactView(name: String): Unit = compactView(name, keepLast = 0)

  /** Retention-bounded compaction — the time-travel retention policy
    * (`VACUUM … KEEP n`): fold history into the base but KEEP the
    * newest `keepLast` committed batches individually reconstructable,
    * so `snapshotAsOf`/`TIMESTAMP AS OF` still answer exactly inside
    * the retained window while disk stays bounded (base + n deltas).
    * `keepLast = 0` folds everything into the newest commit (the
    * maximal compaction above); `keepLast >=` the retained count is a
    * no-op. Asking below the base afterwards answers the base — the
    * standard compacted-log semantics ([[snapshotAsOf]]).
    */
  def compactView(name: String, keepLast: Int): Unit = {
    require(views.contains(name), s"no view named $name")
    require(keepLast >= 0, s"keepLast must be >= 0, got $keepLast")
    val committed = FeedSink.committedBatches(feedDir(name)).toSeq.sorted
    if (committed.length > keepLast + 1)
      FeedSink.compact(spark, feedDir(name), committed(committed.length - 1 - keepLast))
  }

  /** #338 `FORGET KEY k` — the right-to-be-forgotten verb across the
    * DERIVED graph: erase every at-rest trace of `key` from every
    * view's sink history (all committed batch partitions, not just the
    * head), from the caller's SCD2 history dirs, and from every
    * registered LIVE-INDEX store ([[registerIndexStore]] — ANN postings,
    * bitmap bits, positional postings, each family's locator sidecar
    * tombstones included), in one operation.
    *
    * Division of labor with the LIVE path — the purge REFUSES while any
    * view's sink still serves the key live (latest change an upsert):
    * the catalog cannot rewrite an external source feed, so the source
    * must first deliver a DELETE for the key. That delete retracts the
    * key through the running graph (aggregates give back its
    * contributions, row views tombstone); the in-STATE tombstone then
    * expires via the view's ttl (watermark-timed, the CdcStateProcessor
    * timers), and retained older state-store snapshots age out with the
    * checkpoint's `minBatchesToRetain` horizon. What never ages out by
    * itself is the SINK history — `snapshotAsOf` would resurrect the
    * key at any pre-delete batch forever — and that is what this verb
    * rewrites. [[keyTraces]] is the companion auditor proving absence.
    *
    * Mechanics per view: one pruned scan finds the batch partitions
    * mentioning the key (partition-pruned `IN` read), ONLY those are
    * rewritten minus the key's rows, through the index stores' staged
    * leaf swap ([[IndexStoreOps.overwriteLeaves]]; commit markers
    * untouched — the batch stays committed, possibly empty; an emptied
    * partition directory is removed, the PartitionedUpsert rule).
    * Dependents tail by batch id
    * ([[FeedSink.readChangeFeed]]), so a rewritten partition they have
    * already read is not delivered again: the erasure reaches a
    * dependent's own sink through this same sweep, not through its tail.
    * Cost ∝ partitions mentioning the key, never the feed.
    *
    * Returns the audit: one row per artifact touched
    * `(artifact, kind, partitions_rewritten, rows_dropped)`.
    */
  def forgetKey(key: Long, historyDirs: Seq[String] = Nil): DataFrame =
    forgetKeys(Seq(key), historyDirs)

  /** Batch `FORGET KEYS (k1, k2, …)` (#367, r16): the whole purge list
    * in ONE sweep — GDPR arrives as a daily list, and a per-key loop
    * re-reads and rewrites hot sink/store partitions up to |list|
    * times where one IN-pruned rewrite per touched partition does.
    * Each view's sink is rewritten once over the union of batch
    * partitions mentioning ANY listed key; each live-index store
    * purges the list through its family's own batched verb. Cost ∝
    * distinct touched partitions, never ∝ keys × partitions. Same
    * refusal contract as the single-key form, checked for EVERY key
    * up front (all-or-nothing: no partial purge on a half-live list),
    * together with every registered store's [[LocatorStore.guard]]
    * (an IVF store mid-retrain refuses), so a refused purge rewrites
    * nothing.
    */
  def forgetKeys(keys: Seq[Long], historyDirs: Seq[String] = Nil): DataFrame = {
    val keySet = keys.distinct
    require(keySet.nonEmpty, "FORGET KEYS requires at least one key")
    val audit = mutable.Buffer[(String, String, Long, Long)]()
    val feeds = views.keys.toSeq.sorted.map { n =>
      val fd = feedDir(n)
      (n, fd, FeedSink.atRest(spark, fd))
    }
    // refuse while ANY listed key is still live in ANY view's sink: the
    // running dataflow would simply re-emit it (and the rewritten
    // history would disagree with the state the graph still holds)
    feeds.foreach { case (n, _, feed) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(col("ts_us").desc, col("seq").desc)
      val live = feed.filter(col("key").isin(keySet: _*))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .filter(col("op") =!= "delete")
        .select("key").collect().map(_.getLong(0)).sorted
      require(live.isEmpty,
        s"key${if (live.length > 1) "s" else ""} ${live.mkString(", ")} " +
          s"still live in view $n — deliver a source delete " +
          "(retract it through the graph) before FORGET KEY")
    }
    indexStores.values.foreach { case (store, root, _) => store.guard(spark, root) }
    feeds.foreach { case (n, fd, feed) =>
      // rows to drop per batch partition, counted before the rewrite;
      // the rewrite is the index stores' staged leaf swap (one file per
      // surviving batch dir, emptied dirs removed, markers untouched)
      val hits = feed.filter(col("key").isin(keySet: _*))
        .groupBy("batch_id").count().collect()
      if (hits.nonEmpty) {
        val touched = hits.map(_.getLong(0)).sorted.toSeq
        IndexStoreOps.overwriteLeaves(feed.filter(col("batch_id").isin(touched: _*) &&
          !col("key").isin(keySet: _*)), "batch_id", fd, touched.map(_.toString))
        audit += ((n, "sink", touched.size.toLong, hits.map(_.getLong(1)).sum))
      }
    }
    historyDirs.foreach { hd =>
      val h =
        try spark.read.parquet(hd)
        catch { case _: org.apache.spark.sql.AnalysisException => null }
      if (h != null) {
        val n = h.filter(col("key").isin(keySet: _*)).count()
        if (n > 0) {
          val kept = h.filter(!col("key").isin(keySet: _*)).localCheckpoint(true)
          kept.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(hd)
        }
        // partitions_rewritten reports what was actually touched: 0 when
        // no listed key matched anything and no rewrite happened
        audit += ((hd, "history", if (n > 0) 1L else 0L, n))
      }
    }
    // the live-index tier: each registered store purges the WHOLE list
    // through its own locator-pruned batched discipline — posting/bit/
    // locator rows AND the delete tombstones all go in one rewrite per
    // touched partition
    indexStores.foreach { case (n, (store, root, _)) =>
      val (parts, dropped) = store.forgetKeys(spark, root, keySet)
      audit += ((n, s"index:${store.kind}", parts, dropped))
    }
    import spark.implicits._
    audit.toSeq.toDF("artifact", "kind", "partitions_rewritten", "rows_dropped")
  }

  /** The [[forgetKey]] auditor: every place `key` still appears across
    * the derived graph — each view's sink rows, each view's CURRENT
    * state-store entries (every stateful operator in its checkpoint,
    * matched on any integral field of the state key via the
    * [[StateInspect]] reader), and the given SCD2 history dirs. All
    * zeros = the key is forgotten. Older retained state snapshots age
    * out with the checkpoint's `minBatchesToRetain` horizon — sweep
    * again after that many batches for a fully cold audit.
    */
  def keyTraces(key: Long, historyDirs: Seq[String] = Nil): DataFrame = {
    val rows = mutable.Buffer[(String, String, Long)]()
    views.keys.toSeq.sorted.foreach { n =>
      val sinkRows = FeedSink.atRest(spark, feedDir(n)).filter(col("key") === key).count()
      rows += ((n, "sink", sinkRows))
      val stateRows =
        try {
          StateInspect.operators(spark, ckDir(n))
            .select("operatorId", "stateStoreName").distinct().collect().map { r =>
              val (opId, store) = (r.getLong(0), r.getString(1))
              try {
                val st = StateInspect.store(spark, ckDir(n), opId, store)
                val keyType = st.schema("key").dataType
                  .asInstanceOf[org.apache.spark.sql.types.StructType]
                keyType.fields.collect {
                  case f if f.dataType == org.apache.spark.sql.types.LongType ||
                    f.dataType == org.apache.spark.sql.types.IntegerType =>
                    col(s"key.${f.name}").cast("long") === key
                }.reduceOption(_ || _)
                  .map(p => st.filter(p).count()).getOrElse(0L)
              } catch { case _: Throwable => 0L }
            }.sum
        } catch { case _: Throwable => 0L }
      rows += ((n, "state", stateRows))
    }
    historyDirs.foreach { hd =>
      val h =
        try spark.read.parquet(hd).filter(col("key") === key).count()
        catch { case _: org.apache.spark.sql.AnalysisException => 0L }
      rows += ((hd, "history", h))
    }
    indexStores.foreach { case (n, (store, root, _)) =>
      rows += ((n, s"index:${store.kind}", store.keyTraces(spark, root, key)))
    }
    import spark.implicits._
    rows.toSeq.toDF("artifact", "kind", "trace_rows")
  }

  /** Batch auditor (#367's companion verb): at-rest traces of the WHOLE
    * purge list — one IN-pruned scan per artifact, not |list| sweeps.
    * Sinks, SCD2 histories, and every registered index store; all
    * zeros = the list is forgotten. (Per-key state-store introspection
    * stays on the single-key [[keyTraces]] — state audits are a drill-
    * down, not a compliance sweep.)
    */
  def keyTracesAll(keys: Seq[Long], historyDirs: Seq[String] = Nil): DataFrame = {
    val keySet = keys.distinct
    require(keySet.nonEmpty, "keyTracesAll requires at least one key")
    val rows = mutable.Buffer[(String, String, Long)]()
    views.keys.toSeq.sorted.foreach { n =>
      val sinkRows = FeedSink.atRest(spark, feedDir(n)).filter(col("key").isin(keySet: _*)).count()
      rows += ((n, "sink", sinkRows))
    }
    historyDirs.foreach { hd =>
      val h =
        try spark.read.parquet(hd).filter(col("key").isin(keySet: _*)).count()
        catch { case _: org.apache.spark.sql.AnalysisException => 0L }
      rows += ((hd, "history", h))
    }
    indexStores.foreach { case (n, (store, root, _)) =>
      rows += ((n, s"index:${store.kind}", store.keyTraces(spark, root, keySet)))
    }
    import spark.implicits._
    rows.toSeq.toDF("artifact", "kind", "trace_rows")
  }

  /** Per-leaf file census of a registered live-index store (#370):
    * `(store, dir, files, bytes, needs_compact)` — the measurement
    * that schedules compaction.
    */
  def storeFiles(name: String, maxFilesPerPart: Int = 8): DataFrame = {
    val (store, root, _) = indexStores.getOrElse(name,
      throw new IllegalArgumentException(s"no index store named $name (registerIndexStore first)"))
    import spark.implicits._
    IndexStoreOps.fileCensus(spark, store.kind, root, maxFilesPerPart)
      .map(c => (name, c.dir, c.files, c.bytes, c.flagged))
      .toDF("store", "dir", "files", "bytes", "needs_compact")
  }

  /** The self-scheduling OPTIMIZE sweep (#370): every registered store
    * whose census flags a leaf compacts; the rest are untouched. One
    * audit row per store `(store, kind, flagged_leaves, compacted,
    * files_before, files_after)` — an operator crons this exactly like
    * the IVF retrain policy runs itself inside [[IvfIndexView.maintain]].
    */
  def optimizeStores(maxFilesPerPart: Int = 8,
      targetBytes: Long = 64L << 20, smallBytes: Long = 16L << 20): DataFrame = {
    import spark.implicits._
    val rows = indexStores.toSeq.map { case (n, (store, root, _)) =>
      val kind = store.kind
      val before = IndexStoreOps.fileCensus(spark, kind, root, maxFilesPerPart)
      val (ran, _) = IndexStoreOps.compactIfNeeded(spark, kind, root,
        maxFilesPerPart, targetBytes, smallBytes)
      val after = IndexStoreOps.fileCensus(spark, kind, root, maxFilesPerPart)
      (n, kind, before.count(_.flagged).toLong, ran,
        before.map(_.files).sum, after.map(_.files).sum)
    }
    rows.toDF("store", "kind", "flagged_leaves", "compacted", "files_before", "files_after")
  }

  /** The ad-hoc SQL surface over the catalog: register every view's
    * CURRENT snapshot as a temp view under its own name, so
    * `spark.sql("SELECT … FROM <view> JOIN <view2> …")` works the way a
    * user of the reference DB expects. Snapshots are point-in-time (the
    * committed sink as of now) — re-call to refresh.
    */
  def registerSnapshots(): Unit =
    views.keys.foreach(n => snapshot(n).createOrReplaceTempView(n))

  /** `DROP MATERIALIZED VIEW name [CASCADE]`: stops the maintenance
    * query and deletes checkpoint, sink, and metadata. Refuses while
    * dependents exist (a dangling reader would tail a deleted
    * directory) — unless `cascade`, which drops the whole downstream
    * subgraph LEAVES-FIRST (a dependent is always gone before the sink
    * it tails), the teardown mirror of the CASCADE replace.
    */
  def dropView(name: String, cascade: Boolean = false): Unit = {
    val v = views.getOrElse(name, throw new IllegalArgumentException(s"no view named $name"))
    val downstream = transitiveDependents(name)
    require(cascade || downstream.isEmpty,
      s"view $name has dependents ${downstream.mkString(", ")}; " +
        "drop them first or DROP ... CASCADE")
    downstream.reverse.foreach { d =>
      views(d).query.stop()
      views -= d
      deleteRecursively(viewDir(d))
      Files.deleteIfExists(metaPath(d)): Unit
    }
    v.query.stop()
    views -= name
    deleteRecursively(viewDir(name))
    Files.deleteIfExists(metaPath(name)): Unit
  }

  /** The view's LIVE changefeed — the layering primitive, also usable by
    * any external consumer ([[CdcMaterializer]], [[JoinView]], a
    * `writeStream` of the caller's own).
    */
  def changes(name: String): Dataset[Change] = {
    require(views.contains(name), s"no view named $name")
    FeedSink.readChangeFeed(spark, feedDir(name))
  }

  /** Query the view BY NAME, batch: its current state folded from the
    * committed sink partitions ([[FeedSink.stateAsOf]]), projected to
    * the view's output columns. Values are strings — the Change wire
    * contract; cast at the query site where a numeric is needed.
    */
  def snapshot(name: String): DataFrame = snapshotAsOf(name, Long.MaxValue)

  /** TIME TRAVEL: the view's state AS OF a committed batch id — the
    * commit-markered sink doubles as the view's history log, so any
    * retained horizon reconstructs exactly (the LWW fold simply stops
    * at the bound). Retention is trimmed by [[compactView]]: asking
    * below the compaction base folds just the base (the oldest
    * reconstructable state), the standard compacted-log answer. An
    * as-of before the first commit is the empty view with its schema.
    */
  def snapshotAsOf(name: String, asOfBatch: Long): DataFrame = {
    val v = views.getOrElse(name, throw new IllegalArgumentException(s"no view named $name"))
    val committed = FeedSink.committedBatches(feedDir(name))
    // pre-history = before the view's FIRST-EVER commit (the floor
    // survives compaction); inside compacted-away history the BASE
    // answers — the oldest reconstructable state, the compacted-log rule
    val floorBatch = FeedSink.historyFloor(feedDir(name)).map(_._1)
      .orElse(committed.minOption).getOrElse(0L)
    if (committed.isEmpty || asOfBatch < floorBatch) {
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(v.cols.map(StructField(_, StringType))))
    } else {
      val bound = if (committed.exists(_ <= asOfBatch)) asOfBatch else committed.min
      FeedSink.stateAsOf(spark, feedDir(name), bound)
        .select(v.cols.map(n => element_at(col("payload"), n).as(n)): _*)
    }
  }

  /** The view's reconstructable history horizons: every committed batch
    * id still retained in the sink (compaction folds older ids into its
    * base). Each is a valid [[snapshotAsOf]] bound.
    */
  def versions(name: String): Seq[Long] = {
    require(views.contains(name), s"no view named $name")
    FeedSink.committedBatches(feedDir(name)).toSeq.sorted
  }

  /** [[versions]] with each batch's commit WALL-CLOCK (epoch millis) —
    * users think in timestamps, and the commit marker records when each
    * batch became visible ([[FeedSink.committedBatchTimes]]). Sorted by
    * batch id; this is the resolution table behind
    * [[snapshotAsOfTimestamp]].
    */
  def versionsWithTimestamps(name: String): Seq[(Long, Long)] = {
    require(views.contains(name), s"no view named $name")
    FeedSink.committedBatchTimes(feedDir(name)).toSeq.sortBy(_._1)
  }

  /** TIME TRAVEL by timestamp: the view's state as of wall-clock
    * `tsMillis` — resolved to the LATEST batch whose commit time is
    * `<= tsMillis` (between two commits the earlier one was the visible
    * state, which is what "as of then" means), then answered by
    * [[snapshotAsOf]]. Before the first commit (or first RETAINED commit
    * after compaction — older clocks fold into the base like older
    * batch ids do) the answer is the empty pre-history frame with the
    * view's schema.
    */
  def snapshotAsOfTimestamp(name: String, tsMillis: Long): DataFrame = {
    require(views.contains(name), s"no view named $name")
    val times = FeedSink.committedBatchTimes(feedDir(name))
    // clocks before the FIRST-EVER commit (floor survives compaction)
    // are pre-history → empty; clocks inside compacted-away history
    // fold the base, mirroring [[snapshotAsOf]]'s batch rule
    val floorClock = FeedSink.historyFloor(feedDir(name)).map(_._2)
      .orElse(times.values.minOption)
    val batch =
      if (times.isEmpty || floorClock.exists(tsMillis < _)) -1L
      else times.collect { case (b, t) if t <= tsMillis => b }
        .maxOption.getOrElse(times.keys.min)
    snapshotAsOf(name, batch)
  }

  /** Timestamp literal → epoch millis for the `TIMESTAMP AS OF` surface:
    * bare digits read as epoch millis; otherwise
    * `yyyy-MM-dd HH:mm:ss[.fff]` (and the date-only prefix) parse via
    * `java.sql.Timestamp.valueOf` in the JVM default zone — the same
    * clock [[FeedSink.commitMarker]] stamped.
    */
  private[streaming] def parseTsMillis(lit: String): Long = {
    val s = lit.trim
    if (s.matches("\\d+")) s.toLong
    else scala.util.Try(java.sql.Timestamp.valueOf(
        if (s.matches("\\d{4}-\\d{2}-\\d{2}")) s + " 00:00:00" else s))
      .map(_.getTime)
      .getOrElse(throw new IllegalArgumentException(
        s"cannot parse TIMESTAMP AS OF literal '$lit' " +
          "(epoch millis or yyyy-MM-dd[ HH:mm:ss[.fff]])"))
  }

  /** Restart every persisted view from its checkpoint — the whole named
    * graph, in dependency order. Call after re-registering the sources
    * in a fresh session. Returns the resumed names.
    */
  def resume(): Seq[String] = {
    val metaDir = Paths.get(root, "meta")
    if (!Files.isDirectory(metaDir)) return Nil
    val metas = Files.list(metaDir).iterator().asScala
      .filter(_.toString.endsWith(".properties"))
      .map(loadMeta).toSeq
    topoOrder(metas.map(m => m._1 -> m._3).toMap).map { name =>
      val (_, sql, deps, ttl) = metas.find(_._1 == name).get
      val v = startView(name, sql, deps, ttl)
      views(name) = v
      name
    }
  }

  /** SUSPEND one view's maintenance without forgetting it: the query
    * stops, the definition/meta/checkpoint/history all stay, `status`
    * shows it not-live, and its feed simply stops growing — dependents
    * keep running against the last committed state (they tail the feed
    * directory, not the query). The single-view half of the operational
    * pair the whole-catalog stopAll/resume already gives: pause ONE
    * expensive view during an incident without touching the graph.
    */
  def suspendView(name: String): Unit = {
    val v = views.getOrElse(name, throw new IllegalArgumentException(s"no view named $name"))
    v.query.stop()
  }

  /** Resume ONE suspended view from its checkpoint (exactly where
    * [[suspendView]] left it — the single-view [[resume]]). No-op call
    * order is the caller's concern: resuming a live view is rejected so
    * two maintenance queries can never race one checkpoint.
    */
  def resumeView(name: String): NamedView = {
    val v = views.getOrElse(name, throw new IllegalArgumentException(s"no view named $name"))
    require(!v.query.isActive, s"view $name is live — suspend it first")
    val (_, sql, deps, ttl) = loadMeta(metaPath(name))
    val nv = startView(name, sql, deps, ttl)
    views(name) = nv
    nv
  }

  /** Drain the whole graph deterministically (specs, batch-ish runs):
    * `processAllAvailable` on every view in dependency order, so a
    * layer's emissions land before its dependents drain. One pass
    * suffices for any depth — upstream always drains first.
    */
  def awaitAll(): Unit =
    topoOrder(views.map { case (n, v) => n -> v.deps }.toMap)
      .foreach(n => views(n).query.processAllAvailable())

  /** Stop every query without deleting anything (session shutdown; the
    * graph resumes via [[resume]]).
    */
  def stopAll(): Unit = views.values.foreach(_.query.stop())

  def viewNames: Seq[String]   = views.keys.toSeq
  def sourceNames: Seq[String] = sources.keys.toSeq
  def view(name: String): Option[NamedView] = views.get(name)

  /** `SHOW MATERIALIZED VIEWS` — one row per managed view with its
    * definition, dependencies, liveness, and maintenance progress: the
    * committed batch count and horizon from the SINK (durable truth,
    * meaningful even for a stopped view) and the last micro-batch's
    * input rate / duration from the running query's progress (0/absent
    * when idle). Driver-side metadata only — nothing here scans data.
    */
  def status(): Seq[ViewStatus] =
    views.values.toSeq.map { v =>
      val committed = FeedSink.committedBatches(feedDir(v.name))
      val p = Option(v.query.lastProgress)
      ViewStatus(
        name = v.name,
        sql = v.sql,
        deps = v.deps,
        cols = v.cols,
        live = v.query.isActive,
        batchesCommitted = committed.size.toLong,
        lastBatchId = if (committed.isEmpty) -1L else committed.max,
        lastInputRows = p.map(_.numInputRows).getOrElse(0L),
        lastBatchMs = p.map(_.batchDuration).getOrElse(0L))
    }

  /** [[status]] as a DataFrame, for the SQL-surface habit:
    * `cat.statusDF().show()` is the engine's SHOW VIEWS. */
  def statusDF(): DataFrame = {
    import spark.implicits._
    status().toDF()
  }

  /** `SHOW MATERIALIZED VIEW HISTORY name` — the per-batch maintenance
    * record the progress listener persisted beside the sink, one row
    * per completed micro-batch in batch order. Survives restart/resume
    * (the file rides the view directory); a crash-replayed batch id
    * resolves LAST-wins — the same rule the sink's dynamic partition
    * overwrite applies to the data. Driver-side file read; nothing
    * scans data.
    */
  def statusHistory(name: String): Seq[ViewBatchStatus] = {
    require(views.contains(name), s"no view named $name")
    if (!Files.exists(historyPath(name))) Seq.empty
    else {
      val parsed = Files.readAllLines(historyPath(name)).asScala.toSeq.flatMap { l =>
        val f = l.split("\t", -1)
        if (f.length >= 6)
          Some(ViewBatchStatus(name, f(0).toLong, f(1).toLong, f(2).toLong,
            f(3).toLong, f(4), f(5)))
        else None
      }
      parsed.groupBy(_.batchId).map(_._2.last).toSeq.sortBy(_.batchId)
    }
  }

  def statusHistoryDF(name: String): DataFrame = {
    import spark.implicits._
    statusHistory(name).toDF()
  }

  /** `EXPLAIN MATERIALIZED VIEW` — the lineage surface: the view's
    * upstream tree rendered transitively (each layer notes that it is
    * read via its dependency's SINK TAIL — the physical-sharing
    * boundary, so shared upstreams appear under every reader but run
    * once), plus the downstream dependents that tail THIS view.
    * Driver-side metadata only; nothing here scans data.
    */
  def explain(name: String): String = {
    require(views.contains(name), s"no view named $name")
    val sb = new StringBuilder
    def oneLine(sql: String) = sql.replaceAll("\\s+", " ").trim
    def walk(n: String, depth: Int): Unit = {
      val pad = "  " * depth
      if (sources.contains(n)) sb ++= s"$pad- source $n (runtime feed)\n"
      else {
        val v = views(n)
        val committed = FeedSink.committedBatches(feedDir(n))
        val liveness  = if (v.query.isActive) "live" else "stopped"
        val via = if (depth == 0) "" else " [read via sink tail]"
        sb ++= s"$pad- view $n ($liveness, ${committed.size} batches committed)$via\n"
        sb ++= s"$pad    ${oneLine(v.sql)}\n"
        v.deps.foreach(walk(_, depth + 1))
      }
    }
    walk(name, 0)
    val dependents = views.values.filter(_.deps.contains(name)).map(_.name).toSeq.sorted
    sb ++= (if (dependents.isEmpty) "dependents: none\n"
            else s"dependents (tail this view's sink): ${dependents.mkString(", ")}\n")
    sb.result()
  }

  /** `SHOW CREATE MATERIALIZED VIEW` — the view's definition as the
    * exact DDL that recreates it (including the WITH ttl clause when
    * one was set), read from the persisted metadata so it round-trips
    * across sessions. Feeding the returned statement back through
    * [[sql]] on a catalog with the same sources yields an equivalent
    * view.
    */
  def showCreate(name: String): String = {
    require(views.contains(name), s"no view named $name")
    val (_, viewSql, _, ttl) = loadMeta(metaPath(name))
    val ttlClause = ttl.map { case (delay, ms) =>
      s" WITH (ttl_delay='$delay', ttl_ms=$ms)" }.getOrElse("")
    s"CREATE MATERIALIZED VIEW $name$ttlClause AS ${viewSql.replaceAll("\\s+", " ").trim}"
  }

  private val CreateRe =
    ("(?is)^CREATE\\s+(OR\\s+REPLACE\\s+)?MATERIALIZED\\s+VIEW\\s+([A-Za-z_][A-Za-z0-9_]*)" +
      "(?:\\s+WITH\\s*\\(\\s*ttl_delay\\s*=\\s*'([^']+)'\\s*,\\s*ttl_ms\\s*=\\s*(\\d+)\\s*\\))?" +
      "(?:\\s+(CASCADE))?" +
      "\\s+AS\\s+(.+)$").r
  private val DropRe =
    "(?is)^DROP\\s+MATERIALIZED\\s+VIEW\\s+([A-Za-z_][A-Za-z0-9_]*)(\\s+CASCADE)?\\s*$".r
  private val ShowRe = "(?is)^SHOW\\s+MATERIALIZED\\s+VIEWS\\s*$".r
  private val ExplainRe =
    "(?is)^EXPLAIN\\s+MATERIALIZED\\s+VIEW\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
  private val ShowCreateRe =
    "(?is)^SHOW\\s+CREATE\\s+MATERIALIZED\\s+VIEW\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
  private val ShowHistoryRe =
    "(?is)^SHOW\\s+MATERIALIZED\\s+VIEW\\s+HISTORY\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*$".r
  private val VacuumRe =
    "(?is)^VACUUM\\s+MATERIALIZED\\s+VIEW\\s+([A-Za-z_][A-Za-z0-9_]*)(?:\\s+KEEP\\s+(\\d+))?\\s*$".r
  private val AlterTtlRe =
    ("(?is)^ALTER\\s+MATERIALIZED\\s+VIEW\\s+([A-Za-z_][A-Za-z0-9_]*)" +
      "\\s+SET\\s*\\(\\s*ttl_delay\\s*=\\s*'([^']+)'\\s*,\\s*ttl_ms\\s*=\\s*(\\d+)\\s*\\)\\s*$").r
  private val SuspendRe =
    "(?is)^ALTER\\s+MATERIALIZED\\s+VIEW\\s+([A-Za-z_][A-Za-z0-9_]*)\\s+(SUSPEND|RESUME)\\s*$".r
  private val ForgetRe =
    "(?is)^FORGET\\s+KEYS?\\s*\\(?\\s*(\\d+(?:\\s*,\\s*\\d+)*)\\s*\\)?\\s*$".r
  private val OptimizeRe =
    "(?is)^OPTIMIZE\\s+INDEX\\s+STORES(?:\\s+MAX_FILES\\s+(\\d+))?\\s*$".r

  /** The catalog as ONE SQL entry point — the literal front-door syntax
    * of a changefeed engine:
    *
    *  - `CREATE [OR REPLACE] MATERIALIZED VIEW v [WITH
    *    (ttl_delay='10 minutes', ttl_ms=60000)] [CASCADE] AS SELECT …` →
    *    [[createView]] / [[createOrReplaceView]]; CASCADE rebuilds the
    *    dependent subgraph (pre-flighted against the new schema) instead
    *    of refusing. Returns a 1-row (view, columns) confirmation frame.
    *  - `DROP MATERIALIZED VIEW v [CASCADE]` → [[dropView]] (CASCADE
    *    drops the dependent subgraph leaves-first); empty frame.
    *  - `SHOW MATERIALIZED VIEWS` → [[statusDF]].
    *  - `EXPLAIN MATERIALIZED VIEW v` → [[explain]] as a 1-column
    *    (plan) frame, one row per lineage line.
    *  - `SHOW CREATE MATERIALIZED VIEW v` → [[showCreate]]: the
    *    recreating DDL (ttl clause included) as a 1-row frame.
    *  - `SHOW MATERIALIZED VIEW HISTORY v` → [[statusHistoryDF]]: the
    *    persisted per-batch maintenance record (batch id, input rows,
    *    duration, state rows, watermark), one row per micro-batch.
    *  - `VACUUM MATERIALIZED VIEW v [KEEP n]` → [[compactView]] with
    *    retention: fold history into the base keeping the newest n
    *    commits time-travelable; returns (view, base_batch,
    *    versions_retained).
    *  - `ALTER MATERIALIZED VIEW v SET (ttl_delay='…', ttl_ms=…)` →
    *    [[alterViewTtl]]: retune a live expiring view's retention in
    *    place (state, checkpoint, history kept).
    *  - `ALTER MATERIALIZED VIEW v SUSPEND|RESUME` → [[suspendView]] /
    *    [[resumeView]]: pause one view's maintenance (definition,
    *    checkpoint, history kept; dependents keep tailing the last
    *    committed state) and pick it back up from its checkpoint.
    *  - anything else → ad-hoc query: every named view the statement
    *    references is registered as its CURRENT snapshot, then the
    *    statement runs through `spark.sql` (so views, sources-as-temp
    *    -views, and plain tables mix freely). `FROM v VERSION AS OF n`
    *    time-travels a named view to committed batch n
    *    ([[snapshotAsOf]]); `FROM v TIMESTAMP AS OF '<ts>'` resolves a
    *    wall-clock (string timestamp or epoch millis) to its floor
    *    commit ([[snapshotAsOfTimestamp]]). The LIVE-INDEX probes are
    *    table functions (r15): `PHRASE_SEARCH('store', 'phrase')`,
    *    `SIMILAR_TO('store', vec_id, k)`, `CELL_COUNTS('a', 'b')`,
    *    `INDEX_STALENESS('store')` — each served from the registered
    *    maintained store, partition-pruned, composable as a relation.
    *
    * DDL recognition is deliberately first-match-regex, not a parser
    * fork: the three managed forms are fixed shapes, and every other
    * statement belongs to Spark's own SQL surface unmodified.
    */
  def sql(stmt: String): DataFrame = {
    import spark.implicits._
    val s = stmt.trim.stripSuffix(";").trim
    s match {
      case CreateRe(orReplace, name, ttlDelay, ttlMs, cascadeKw, select) =>
        val ttl = Option(ttlDelay).map(d => (d, ttlMs.toLong))
        val v = if (orReplace != null)
                  createOrReplaceView(name, select.trim, ttl, cascade = cascadeKw != null)
                else createView(name, select.trim, ttl)
        Seq((v.name, v.cols.mkString(","))).toDF("view", "columns")
      case DropRe(name, cascadeKw) =>
        dropView(name, cascade = cascadeKw != null)
        spark.emptyDataFrame
      case ShowRe() => statusDF()
      case ExplainRe(name) =>
        explain(name).linesIterator.toSeq.toDF("plan")
      case ShowCreateRe(name) =>
        Seq(showCreate(name)).toDF("create_statement")
      case ShowHistoryRe(name) =>
        statusHistoryDF(name)
      case VacuumRe(name, keep) =>
        compactView(name, Option(keep).map(_.toInt).getOrElse(0))
        val vs = versions(name)
        Seq((name, vs.headOption.getOrElse(-1L), vs.length))
          .toDF("view", "base_batch", "versions_retained")
      case AlterTtlRe(name, ttlDelay, ttlMs) =>
        alterViewTtl(name, (ttlDelay, ttlMs.toLong))
        Seq((name, ttlDelay, ttlMs.toLong)).toDF("view", "ttl_delay", "ttl_ms")
      case SuspendRe(name, verb) =>
        if (verb.equalsIgnoreCase("SUSPEND")) suspendView(name) else resumeView(name)
        Seq((name, verb.toUpperCase)).toDF("view", "action")
      case ForgetRe(keysCsv) =>
        // `FORGET KEY 5` / `FORGET KEYS (1, 2, 3)` — the batched purge
        // verb (#367) from SQL; returns the audit frame
        forgetKeys(keysCsv.split(",").map(_.trim.toLong).toSeq)
      case OptimizeRe(maxFiles) =>
        // `OPTIMIZE INDEX STORES [MAX_FILES n]` — the self-scheduling
        // compaction sweep (#370); returns the per-store audit
        optimizeStores(Option(maxFiles).map(_.toInt).getOrElse(8))
      case _ =>
        // time-travel sugar: `FROM v VERSION AS OF 3` reads the named
        // view's snapshotAsOf(3), `FROM v TIMESTAMP AS OF '2026-08-14
        // 12:00:00'` (or epoch millis) resolves the commit clock to its
        // floor batch (Delta's syntax pair, scoped to catalog views) —
        // each occurrence registers under a mangled alias
        val VerRe = "(?i)\\b([A-Za-z_][A-Za-z0-9_]*)\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)".r
        val TsRe  = "(?i)\\b([A-Za-z_][A-Za-z0-9_]*)\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'".r
        // live-index TABLE FUNCTIONS (r15): the maintained stores'
        // probes reachable from SQL — each occurrence materializes the
        // (partition-pruned) probe under a mangled alias, so it
        // composes with joins/filters like any relation:
        //   PHRASE_SEARCH('store', 'spark stream')   (posting)
        //   PHRASE_SEARCH('store', TABLE phrases)    (posting, BATCH:
        //     one probe per row of <phrases>.phrase — the r15 SQL door
        //     took only a literal; the Scala probe always took a list)
        //   SIMILAR_TO('store', <vec_id>, <k>)       (ann | ivf | pq;
        //     the query embedding is the store's OWN row for vec_id —
        //     for pq, the registered vectors source's row, which also
        //     serves the exact rerank)
        //   SIMILAR_TO('store', TABLE ids, <k>)      (ann | ivf | pq, BATCH:
        //     one probe per row of <ids>.vec_id, still partition-pruned
        //     to queries × probe cells — the relation-valued form a
        //     retrieval join actually needs)
        //   CELL_COUNTS('storeA', 'storeB')           (bitmap pair)
        //   INDEX_STALENESS('store')                  (ivf drift log)
        val PhraseRe = "(?i)PHRASE_SEARCH\\(\\s*'([A-Za-z_][A-Za-z0-9_]*)'\\s*,\\s*'([^']+)'\\s*\\)".r
        val PhraseTblRe = "(?i)PHRASE_SEARCH\\(\\s*'([A-Za-z_][A-Za-z0-9_]*)'\\s*,\\s*TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s*\\)".r
        val SimilarRe = "(?i)SIMILAR_TO\\(\\s*'([A-Za-z_][A-Za-z0-9_]*)'\\s*,\\s*(\\d+)\\s*,\\s*(\\d+)\\s*\\)".r
        val SimilarTblRe = "(?i)SIMILAR_TO\\(\\s*'([A-Za-z_][A-Za-z0-9_]*)'\\s*,\\s*TABLE\\s+([A-Za-z_][A-Za-z0-9_.]*)\\s*,\\s*(\\d+)\\s*\\)".r
        val CellsRe = "(?i)CELL_COUNTS\\(\\s*'([A-Za-z_][A-Za-z0-9_]*)'\\s*,\\s*'([A-Za-z_][A-Za-z0-9_]*)'\\s*\\)".r
        val StaleRe = "(?i)INDEX_STALENESS\\(\\s*'([A-Za-z_][A-Za-z0-9_]*)'\\s*\\)".r
        def store(n: String, want: Seq[LocatorStore]): (LocatorStore, String, Map[String, Int]) = {
          val st = indexStores.getOrElse(n,
            throw new IllegalArgumentException(s"no index store named $n (registerIndexStore first)"))
          require(want.contains(st._1),
            s"index store $n has kind ${st._1.kind}; expected one of ${want.map(_.kind).mkString("/")}")
          st
        }
        // alias uniqueness is session-global (AtomicLong), not per-call:
        // two concurrent sql() calls must never clobber each other's
        // temp view between registration and plan resolution
        def fresh(prefix: String): String =
          s"__graft_${prefix}_${ViewCatalog.fnAliasSeq.incrementAndGet()}"
        // a TABLE argument resolves to a catalog view's current
        // snapshot when the name is a managed view, else to whatever
        // spark.table sees (temp view / registered table)
        def probeRelation(name: String): DataFrame =
          if (views.contains(name)) snapshot(name) else spark.table(name)
        val phraseTblDone = PhraseTblRe.replaceAllIn(s, m => {
          val (_, root, params) = store(m.group(1), Seq(PostingIndexView))
          val alias = fresh("phrase")
          // phrase probes are driver-enumerated by construction (the
          // Scala probe takes Seq[Seq[String]] — a probe list is small
          // by nature; the postings scan stays IN-pruned to the union
          // of the phrases' term buckets)
          val phrases = probeRelation(m.group(2)).select(col("phrase").cast("string"))
            .collect().map(_.getString(0).trim.split("\\s+").toSeq).toSeq.distinct
          require(phrases.nonEmpty, s"TABLE ${m.group(2)} holds no phrases")
          PostingIndexView.phraseSearch(spark, root, phrases,
              buckets = params.getOrElse("buckets", 64))
            .createOrReplaceTempView(alias)
          alias
        })
        val phraseDone = PhraseRe.replaceAllIn(phraseTblDone, m => {
          val (_, root, params) = store(m.group(1), Seq(PostingIndexView))
          val alias = fresh("phrase")
          PostingIndexView.phraseSearch(spark, root,
              Seq(m.group(2).trim.split("\\s+").toSeq),
              buckets = params.getOrElse("buckets", 64))
            .createOrReplaceTempView(alias)
          alias
        })
        // PQ stores hold codes: their query embeddings + exact rerank
        // come from the registered vectors source (#369's rerankWith)
        def pqVectors(n: String): DataFrame =
          indexVectors.getOrElse(n, throw new IllegalArgumentException(
            s"pq store $n has no registered vectors source — " +
              "registerIndexStore(…, vectors = Some(…)); a code store " +
              "cannot reconstruct query embeddings")).apply()
        // the relation of (vec_id, embedding) a SIMILAR_TO query draws
        // its query vectors from, per family
        val vectorStores = Seq(AnnIndexView, IvfIndexView, PqIndexView)
        def embSource(name: String, store: LocatorStore, root: String): DataFrame = store match {
          case AnnIndexView => AnnIndexView.readIndex(spark, root)
          case IvfIndexView => IvfIndexView.readIndex(spark, root)
          case PqIndexView  => pqVectors(name)
        }
        def similarProbe(name: String, store: LocatorStore, root: String,
            params: Map[String, Int], queries: DataFrame, k: Int): DataFrame = store match {
          case AnnIndexView =>
            AnnIndexView.similarTo(spark, root, queries, k,
              numPlanes = params.getOrElse("planes", 8))
          case IvfIndexView =>
            IvfIndexView.similarTo(spark, root, queries, k,
              nprobe = params.getOrElse("nprobe", 2))
          case PqIndexView =>
            PqIndexView.similarTo(spark, root, queries, k,
              m = params.getOrElse("m", 4),
              rerank = params.getOrElse("rerank", 60),
              rerankWith = Some(pqVectors(name)))
        }
        val simTblDone = SimilarTblRe.replaceAllIn(phraseDone, m => {
          val (st, root, params) = store(m.group(1), vectorStores)
          val k = m.group(3).toInt
          val alias = fresh("similar")
          // the whole id relation probes in ONE batch: ids join the
          // store's own embeddings (or the pq vectors source), then the
          // family's multi-query probe runs partition-pruned
          val queries = embSource(m.group(1), st, root).join(
              probeRelation(m.group(2)).select(col("vec_id").cast("long").as("vec_id")).distinct(),
              Seq("vec_id"))
            .select(col("vec_id").as("query_id"), col("embedding"))
          similarProbe(m.group(1), st, root, params, queries, k)
            .createOrReplaceTempView(alias)
          alias
        })
        val simDone = SimilarRe.replaceAllIn(simTblDone, m => {
          val (st, root, params) = store(m.group(1), vectorStores)
          val (id, k) = (m.group(2).toLong, m.group(3).toInt)
          val alias = fresh("similar")
          val queries = embSource(m.group(1), st, root)
            .filter(col("vec_id") === id)
            .select(col("vec_id").as("query_id"), col("embedding"))
          similarProbe(m.group(1), st, root, params, queries, k)
            .createOrReplaceTempView(alias)
          alias
        })
        val cellsDone = CellsRe.replaceAllIn(simDone, m => {
          val (_, rootA, _) = store(m.group(1), Seq(BitmapIndexView))
          val (_, rootB, _) = store(m.group(2), Seq(BitmapIndexView))
          val alias = fresh("cells")
          BitmapIndexView.cellCounts(spark, rootA, rootB).createOrReplaceTempView(alias)
          alias
        })
        val staleDone = StaleRe.replaceAllIn(cellsDone, m => {
          val (st, root, _) = store(m.group(1), Seq(IvfIndexView, PqIndexView))
          val alias = fresh("stale")
          val rep = if (st == IvfIndexView) IvfIndexView.stalenessReport(spark, root)
                    else PqIndexView.stalenessReport(spark, root)
          rep.createOrReplaceTempView(alias)
          alias
        })
        // INDEX_FILES('store') — the #370 census as a relation
        val FilesRe = "(?i)INDEX_FILES\\(\\s*'([A-Za-z_][A-Za-z0-9_]*)'\\s*\\)".r
        val filesDone = FilesRe.replaceAllIn(staleDone, m => {
          val alias = fresh("files")
          storeFiles(m.group(1)).createOrReplaceTempView(alias)
          alias
        })
        val verDone = VerRe.replaceAllIn(filesDone, m =>
          if (views.contains(m.group(1))) {
            val alias = s"${m.group(1)}__asof_${m.group(2)}"
            snapshotAsOf(m.group(1), m.group(2).toLong).createOrReplaceTempView(alias)
            alias
          } else m.matched)
        val rewritten = TsRe.replaceAllIn(verDone, m =>
          if (views.contains(m.group(1))) {
            val ms    = parseTsMillis(m.group(2))
            val alias = s"${m.group(1)}__tsof_$ms"
            snapshotAsOfTimestamp(m.group(1), ms).createOrReplaceTempView(alias)
            alias
          } else m.matched)
        val refs = referencedTables(spark.sessionState.sqlParser.parsePlan(
          IncrementalPlanner.stripPlannerSyntax(rewritten)))
        refs.filter(views.contains).foreach(n => snapshot(n).createOrReplaceTempView(n))
        spark.sql(rewritten)
    }
  }

  // ------------------------------------------------------------------

  private def startView(name: String, sql: String, deps: Seq[String],
      ttl: Option[(String, Long)]): NamedView = {
    val out = feedDir(name)
    Files.createDirectories(Paths.get(out))
    val feeds = deps.map { d =>
      d -> (if (sources.contains(d)) sources(d)()
            else FeedSink.readChangeFeed(spark, feedDir(d)))
    }.toMap
    val (changes, cols) = IncrementalPlanner.namedChanges(spark, sql, feeds, ttl)
    def begin() = changes.toDF().writeStream
      .outputMode("append")
      .option("checkpointLocation", ckDir(name))
      .foreachBatch { (batch: DataFrame, id: Long) => FeedSink.writeChangeBatch(batch, id, out) }
      .queryName(s"graft_view_$name")
      .start()
    // expiring dataflows chain a watermarked flatMapGroupsWithState into
    // further stateful stages — sound here (emitted deltas carry no
    // event-time column; see IncrementalView.withRelaxedWatermarkCheck),
    // so the opt-out scopes to this one query start
    val q = if (ttl.isDefined) IncrementalView.withRelaxedWatermarkCheck(spark)(begin())
            else begin()
    // attribute this query's progress events to the view (the listener
    // keys on run id, so another catalog's same-named view can't bleed
    // into this history). Progress fires only after a batch COMPLETES,
    // so registering right after start never loses batch 0.
    queryIds(q.id) = name
    NamedView(name, sql, deps, cols, q)
  }

  /** Every base-relation name the statement references, subqueries
    * included (derived tables alias inline plans, not relations, so they
    * never surface here).
    */
  private def referencedTables(plan: LogicalPlan): Set[String] = {
    val direct = plan.collect { case r: UnresolvedRelation => r.multipartIdentifier.last }
    val inSubq = plan.flatMap(_.expressions.flatMap(_.collect {
      case s: SubqueryExpression => referencedTables(s.plan)
    })).flatten
    (direct ++ inSubq).toSet
  }

  private def topoOrder(deps: Map[String, Seq[String]]): Seq[String] = {
    val order  = mutable.ArrayBuffer.empty[String]
    val placed = mutable.Set.empty[String]
    var remaining = deps
    while (remaining.nonEmpty) {
      val ready = remaining.collect {
        case (n, ds) if ds.forall(d => placed.contains(d) || !deps.contains(d)) => n
      }.toSeq.sorted
      require(ready.nonEmpty,
        s"dependency cycle among views ${remaining.keys.mkString(", ")}")
      order ++= ready
      placed ++= ready
      remaining = remaining.removedAll(ready)
    }
    order.toSeq
  }

  private def persistMeta(v: NamedView, ttl: Option[(String, Long)]): Unit = {
    val p = new java.util.Properties()
    p.setProperty("sql", v.sql)
    p.setProperty("deps", v.deps.mkString(","))
    p.setProperty("cols", v.cols.mkString(","))
    ttl.foreach { case (delay, ms) =>
      p.setProperty("ttlDelay", delay)
      p.setProperty("ttlMs", ms.toString)
    }
    Files.createDirectories(metaPath(v.name).getParent)
    val w = Files.newBufferedWriter(metaPath(v.name))
    try p.store(w, null) finally w.close()
  }

  private def loadMeta(path: java.nio.file.Path)
      : (String, String, Seq[String], Option[(String, Long)]) = {
    val p = new java.util.Properties()
    val r = Files.newBufferedReader(path)
    try p.load(r) finally r.close()
    val name = path.getFileName.toString.stripSuffix(".properties")
    val deps = Option(p.getProperty("deps")).map(_.split(",").filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val ttl  = Option(p.getProperty("ttlDelay")).map(d => (d, p.getProperty("ttlMs").toLong))
    (name, p.getProperty("sql"), deps, ttl)
  }

  private def requireValidName(name: String): Unit =
    require(NameRe.matches(name),
      s"invalid name $name (identifiers: [A-Za-z_][A-Za-z0-9_]{0,63})")

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.toSeq.foreach(deleteRecursively)
    Files.deleteIfExists(p): Unit
  }
}

object ViewCatalog {
  /** Session-global sequence behind the live-index table-function temp
    * view aliases — per-call counters reset to 0 let two concurrent
    * `sql()` calls clobber each other's `__graft_similar_1`.
    */
  private val fnAliasSeq = new java.util.concurrent.atomic.AtomicLong(0L)
}
