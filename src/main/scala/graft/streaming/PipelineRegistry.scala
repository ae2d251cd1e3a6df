package graft.streaming

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.cdc.Subscription
import graft.sinks.EsSink
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import java.io.File
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Config-driven pipeline registration — the reference's script
  * discovery (S1: ScriptContainer.java:35-58 lists a scripts dir and
  * registers each one; initCDC() declares db/table subscriptions)
  * re-expressed as data instead of code: one JSON file per pipeline in
  * a conf directory, its `"kind"` (default `lww`) picking the parser
  * from one kind table. Every kind builds a [[ServedPipeline]], so the
  * lifecycle below is kind-blind.
  *
  * Hot reload (S2) is deliberately restart-based, per SURVEY §2.2 S2:
  * streaming queries cannot swap their plan mid-flight, so the faithful
  * analog is [[changedSince]] → stop the affected queries → [[reload]]
  * → start again from the checkpoint (offsets preserve the cursor; the
  * 500 ms debounce machinery of WatchFile.java dissolves into whatever
  * schedules the restart).
  */
object PipelineRegistry {

  /** One registered conf: its pipeline (any kind), the conf file it was
    * read from (the registration and reload unit), the file's mtime at
    * that read, and — lww confs only — the conf-declared `"es"` serving
    * target (without one the runner's default url/auth apply, re-keyed
    * to the conf's idKey by [[CdcPipeline.startLive]]).
    */
  final case class Entry(pipeline: ServedPipeline, file: String, mtime: Long,
      target: Option[EsSink.Config] = None)

  /** Checkpoint directory key for a registered conf: derived from the
    * CONF FILE (the registration unit), not the pipeline name — two
    * confs that (mis)share a name must not share a checkpoint (two
    * concurrent queries on one checkpoint location corrupt the
    * offset/commit logs; Structured Streaming forbids it), and a conf
    * that renames its pipeline keeps its cursor. Conf basenames are
    * unique within the watched dir by construction.
    */
  def ckptKey(confFile: String): String =
    new File(confFile).getName.stripSuffix(".json")
      .replaceAll("[^A-Za-z0-9._-]", "_")

  private def confFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".json")).sortBy(_.getName).toSeq

  /** The kind table: one row per conf kind — its parser and, where the
    * kind's expectation dead letters cannot be re-driven by key
    * ([[ServedPipeline.replayExpectDeadLetters]]), why not. A sixth
    * kind is one row here plus its [[ServedPipeline]] class.
    */
  private final case class Kind(parse: Conf => Entry,
      keyedReplayRefusal: Option[String] = None)

  private val Kinds: ListMap[String, Kind] = ListMap(
    "lww" -> Kind(lww, Some("the lww kind's dead letters are wire-shaped " +
      "— re-inject them with Serve replay <expect|drift>")),
    "view" -> Kind(view),
    "ann" -> Kind(ann),
    "dedup" -> Kind(dedup),
    "search" -> Kind(search, Some("the search kind cannot feed-replay — " +
      "its additive store's drop verdicts are frozen for the store's " +
      "lifetime, so an enforcement-policy change rebuilds the store " +
      "under the evolved conf: Serve rebuild search <confDir> <name> " +
      "<workDir> <sourceDir>")))

  /** Recognized pipeline kinds. Anything else fails fast WITH the file
    * name (register-at-boot contract, S3): a typo'd `"kind": "veiw"`
    * must not make a production pipeline silently vanish from every
    * lifecycle.
    */
  private def kindOf(f: File, node: JsonNode): String = {
    val k = if (node.hasNonNull("kind")) node.get("kind").asText() else "lww"
    require(Kinds.contains(k),
      s"${f.getName}: unrecognized pipeline kind '$k' (expected one of ${Kinds.keys.mkString(", ")})")
    k
  }

  /** The kinds whose expectation dead letters replay by key. */
  def keyedReplayKinds: Seq[String] =
    Kinds.collect { case (k, v) if v.keyedReplayRefusal.isEmpty => k }.toSeq

  /** Why `kind` refuses the keyed replay verb, if it does (an unknown
    * kind included).
    */
  def keyedReplayRefusal(kind: String): Option[String] =
    Kinds.get(kind).fold(Option(s"unknown kind '$kind' (expected " +
      s"${keyedReplayKinds.mkString(", ")})"))(_.keyedReplayRefusal)

  /** Parse a conf's optional `"transform"` node into an
    * [[ExprTransform]] — the R12 data-declared per-event reshape:
    * {{{
    *   "transform": { "set": [ { "field": "v", "expr": "upper(row.v)" },
    *                           { "field": "src", "expr": "'cdc'" } ],
    *                  "drop": [ "internal_note" ] }
    * }}}
    * Construction parses every expression through Catalyst, so a
    * typo'd conf fails HERE — at registration — not in the first
    * micro-batch (S3).
    */
  private def parseTransform(f: File, node: JsonNode): Option[ExprTransform] =
    if (!node.hasNonNull("transform")) None
    else {
      val t = node.get("transform")
      val sets =
        if (!t.hasNonNull("set")) Nil
        else t.get("set").elements().asScala.map { s =>
          require(s.hasNonNull("field") && s.hasNonNull("expr"),
            s"${f.getName}: each transform set entry needs field and expr")
          (s.get("field").asText(), s.get("expr").asText())
        }.toSeq
      val drops =
        if (!t.hasNonNull("drop")) Nil
        else t.get("drop").elements().asScala.map(_.asText()).toSeq
      require(sets.nonEmpty || drops.nonEmpty,
        s"${f.getName}: transform declares neither set nor drop entries")
      try Some(ExprTransform(sets, drops))
      catch {
        case e: org.apache.spark.sql.catalyst.parser.ParseException =>
          throw new IllegalArgumentException(
            s"${f.getName}: invalid transform expression — ${e.getMessage}")
      }
    }

  /** Conf-declared per-pipeline metrics target, shared by all five
    * kinds:
    * {{{
    *   "metrics": { "url": "jdbc:derby:...", "table": "pipeline_metrics" }
    * }}}
    * The table is ENSURED at registration ([[PipelineMetrics.ensureTable]])
    * so an unreachable metrics store fails the conf at boot (S3), while
    * per-batch write failures at runtime only log (monitoring must not
    * take down the monitored — see [[PipelineMetrics.record]]).
    */
  private def parseMetrics(f: File, node: JsonNode): Option[PipelineMetrics.Target] =
    if (!node.hasNonNull("metrics")) None
    else {
      val m = node.get("metrics")
      require(m.hasNonNull("url") && m.hasNonNull("table"),
        s"${f.getName}: metrics needs url and table")
      val t = PipelineMetrics.Target(m.get("url").asText(),
        m.get("table").asText())
      try PipelineMetrics.ensureTable(t)
      catch {
        case e: java.sql.SQLException =>
          throw new IllegalArgumentException(
            s"${f.getName}: metrics store unreachable — ${e.getMessage}")
      }
      Some(t)
    }

  /** Conf-declared per-batch DATA-QUALITY EXPECTATIONS (q149's typed
    * rule engine riding the serving path):
    * {{{
    *   "expectations": [
    *     {"rule": "not_null", "name": "id_set",   "column": "o_orderkey"},
    *     {"rule": "unique",   "name": "id_unique","column": "o_orderkey"},
    *     {"rule": "in_range", "name": "price_ok", "column": "o_totalprice",
    *      "lo": 0, "hi": 300000, "budget": 5, "action": "drop"},
    *     {"rule": "ref_integrity", "name": "cust_known",
    *      "column": "o_custkey",
    *      "dim": {"path": "/data/customer.parquet",
    *              "keyColumn": "c_custkey"}}
    *   ]
    * }}}
    * Validation is REGISTRATION-TIME (the ExprTransform precedent): an
    * unknown rule kind, a missing field, or a column absent from the
    * pipeline's OUTGOING serving schema (the declared schema as
    * reshaped by the conf's transform — a transform that drops a
    * declared column must not leave an expectation that throws in every
    * micro-batch) fails the conf naming file + field — never the first
    * drained batch. Expectations also require a `metrics` target (the
    * verdict store); the pipeline ctors enforce that too.
    * `ref_integrity` declares its dimension as a parquet path + key
    * column, validated HERE (the path must read and carry the column).
    * `action` is what a breach does to the judged batch
    * ([[graft.ops.Profile.Action]]): `warn` (default) records only,
    * `drop` dead-letters violating rows before the serving write
    * (requires a conf-declared `deadLetterDir`), `halt` quarantines the
    * pipeline when violations exceed budget.
    */
  private def parseExpectations(f: File,
      node: JsonNode,
      schema: org.apache.spark.sql.types.StructType): Seq[graft.ops.Profile.Rule] =
    if (!node.hasNonNull("expectations")) Nil
    else node.get("expectations").elements().asScala.map { e =>
      def str(field: String): String = {
        require(e.hasNonNull(field),
          s"${f.getName}: expectation needs '$field'")
        e.get(field).asText()
      }
      val budget = if (e.hasNonNull("budget")) e.get("budget").asLong() else 0L
      val action =
        if (!e.hasNonNull("action")) graft.ops.Profile.Warn
        else e.get("action").asText() match {
          case "warn" => graft.ops.Profile.Warn
          case "drop" => graft.ops.Profile.Drop
          case "halt" => graft.ops.Profile.Halt
          case other => throw new IllegalArgumentException(
            s"${f.getName}: unknown expectation action '$other' " +
              "(expected warn, drop or halt)")
        }
      val column = str("column")
      require(schema.fieldNames.contains(column),
        s"${f.getName}: expectation column '$column' is not in the " +
          s"pipeline's serving schema (${schema.fieldNames.mkString(", ")})")
      str("rule") match {
        case "not_null" =>
          graft.ops.Profile.NotNull(str("name"), column, budget, action)
        case "unique" =>
          graft.ops.Profile.Unique(str("name"), column, budget, action)
        case "in_range" =>
          require(e.hasNonNull("lo") && e.hasNonNull("hi"),
            s"${f.getName}: in_range expectation needs lo and hi")
          graft.ops.Profile.InRange(str("name"), column,
            e.get("lo").asDouble(), e.get("hi").asDouble(), budget, action)
        case "ref_integrity" =>
          require(e.hasNonNull("dim"),
            s"${f.getName}: ref_integrity expectation needs a dim object")
          val d = e.get("dim")
          require(d.hasNonNull("path") && d.hasNonNull("keyColumn"),
            s"${f.getName}: ref_integrity dim needs path and keyColumn")
          val (path, keyCol) = (d.get("path").asText(), d.get("keyColumn").asText())
          // registration-time read of the dimension's schema: a typo'd
          // path or key column dies at boot naming file + field
          SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
            .foreach { sp =>
              val dimSchema =
                try sp.read.parquet(path).schema
                catch {
                  case ex: org.apache.spark.sql.AnalysisException =>
                    throw new IllegalArgumentException(
                      s"${f.getName}: ref_integrity dim path '$path' " +
                        s"does not read — ${ex.getMessage}")
                }
              require(dimSchema.fieldNames.contains(keyCol),
                s"${f.getName}: ref_integrity dim keyColumn '$keyCol' is " +
                  s"not in $path (have ${dimSchema.fieldNames.mkString(", ")})")
            }
          graft.ops.Profile.RefIntegrityPath(str("name"), column, path,
            keyCol, budget, action)
        case other => throw new IllegalArgumentException(
          s"${f.getName}: unknown expectation rule '$other'")
      }
    }.toSeq

  /** [[parseExpectations]] plus the store-side registration work every
    * kind shares: declared rules REQUIRE a metrics target (verdicts
    * without a store would vanish silently), a `drop` action REQUIRES a
    * dead-letter dir (withheld rows without a landing place would
    * vanish too — S6: failures are data), and the sibling verdict table
    * is ensured at load (register-at-boot, S3).
    */
  private def parseExpectationsWithStore(f: File,
      node: JsonNode,
      schema: org.apache.spark.sql.types.StructType,
      metricsTarget: Option[PipelineMetrics.Target],
      deadLetterDir: Option[String]): Seq[graft.ops.Profile.Rule] = {
    val rules = parseExpectations(f, node, schema)
    if (rules.nonEmpty) {
      require(metricsTarget.isDefined,
        s"${f.getName}: expectations need a metrics target to record into")
      require(rules.forall(_.action != graft.ops.Profile.Drop)
          || deadLetterDir.isDefined,
        s"${f.getName}: a drop-action expectation needs a deadLetterDir " +
          "for the withheld rows")
      metricsTarget.foreach(PipelineMetrics.ensureExpectTable)
    }
    rules
  }

  /** Conf-declared schema-drift monitoring/enforcement, shared by ALL
    * FIVE kinds (R7's streaming analog — r12 parsed it for lww only; a
    * drifting embeddings or fact/dim wire was invisible to the other
    * kinds' stores):
    * {{{
    *   "driftCheck": true,
    *   "driftPolicy": { "newColsBudget": 0, "badTypeRowsBudget": 0,
    *                    "action": "drop" }
    * }}}
    * Same invariants as expectations (register-at-boot, S3): a verdict
    * needs a metrics store, a Drop needs a deadLetterDir, and the
    * `_drift` verdict table is ensured at load.
    */
  private def parseDrift(f: File,
      node: JsonNode,
      dlDir: Option[String],
      metricsTarget: Option[PipelineMetrics.Target])
      : (Boolean, Option[CdcPipeline.DriftPolicy]) = {
    val drift = node.hasNonNull("driftCheck") &&
      node.get("driftCheck").asBoolean()
    val driftPol = if (!node.hasNonNull("driftPolicy")) None
      else Some(parseDriftPolicy(f, "driftPolicy",
        node.get("driftPolicy"), dlDir))
    if (drift || driftPol.isDefined) {
      require(metricsTarget.isDefined,
        s"${f.getName}: driftCheck needs a metrics target to record into")
      metricsTarget.foreach(PipelineMetrics.ensureDriftTable)
    }
    (drift, driftPol)
  }

  /** One declared drift policy object — shared between the conf-level
    * `"driftPolicy"` and the view kind's per-side
    * `"fact"/"dim".driftPolicy` overrides; `owner` names the declaring
    * key in error messages.
    */
  private def parseDriftPolicy(f: File, owner: String,
      p: JsonNode,
      dlDir: Option[String]): CdcPipeline.DriftPolicy = {
    val action =
      if (!p.hasNonNull("action")) graft.ops.Profile.Warn
      else p.get("action").asText() match {
        case "warn" => graft.ops.Profile.Warn
        case "drop" => graft.ops.Profile.Drop
        case "halt" => graft.ops.Profile.Halt
        case other => throw new IllegalArgumentException(
          s"${f.getName}: unknown $owner action '$other' " +
            "(expected warn, drop or halt)")
      }
    require(action != graft.ops.Profile.Drop || dlDir.isDefined,
      s"${f.getName}: a drop-action $owner needs a deadLetterDir")
    CdcPipeline.DriftPolicy(
      newColsBudget = if (p.hasNonNull("newColsBudget"))
        p.get("newColsBudget").asLong() else Long.MaxValue,
      badTypeRowsBudget = if (p.hasNonNull("badTypeRowsBudget"))
        p.get("badTypeRowsBudget").asLong() else Long.MaxValue,
      action = action)
  }

  /** A conf-declared duration in milliseconds, default 0, with the
    * fail-loud conf discipline: a sign typo or a "7d" string (asLong()
    * -> 0) must not register cleanly as "0" and silently mean something
    * else. Two fields use it:
    *  - `"deadLetterRetentionMs"` (all five kinds) ages out quarantined
    *    rows on the watcher's maintenance tick
    *    ([[PipelineMetrics.retireAgedDeadLetters]]); 0 keeps everything
    *    — failures are data, aging them out is opt-in;
    *  - `"retireAfterMs"` (search) is the grace window before an online
    *    rebuild's superseded store versions retire
    *    ([[SearchServingPipeline.rebuildStoreOnline]] step 5); 0
    *    retires at the flip (the single-process contract), a
    *    multi-driver deployment declares a window and the maintenance
    *    tick sweeps once it elapses.
    */
  private def parseMillis(f: File, node: JsonNode, field: String): Long =
    if (!node.hasNonNull(field)) 0L
    else {
      val v = node.get(field)
      require(v.isNumber && v.canConvertToLong && v.asLong() >= 0L,
        s"${f.getName}: $field must be a non-negative integer of " +
          s"milliseconds, got ${v.toString}")
      v.asLong()
    }

  /** Validate a conf's declared pipeline name at registration: the
    * name keys metrics rows, verdict rows, query names AND dead-letter
    * partition paths, so it must be the path-safe charset — otherwise
    * two names could sanitize onto one partition dir (silently
    * clobbering each other's dead letters) or diverge between the
    * stores that record raw vs sanitized values.
    */
  private def validName(f: File, node: JsonNode): String = {
    val n = node.get("name").asText()
    require(n.matches("[A-Za-z0-9._-]+"),
      s"${f.getName}: pipeline name '$n' must match [A-Za-z0-9._-]+ — it " +
        "keys checkpoints, metrics rows and dead-letter paths")
    n
  }

  /** Prefix a pipeline ctor failure (schema/transform validation) with
    * the conf FILE, the registration unit an operator edits — a
    * resolution error naming only the pipeline is unactionable when two
    * files carry the same name.
    */
  private def named[A](f: File)(build: => A): A =
    try build
    catch {
      case e: IllegalArgumentException =>
        throw new IllegalArgumentException(s"${f.getName}: ${e.getMessage}")
    }

  /** Per-file strictness gate shared by every load flavor: at BOOT a
    * malformed conf fails fast (register-at-boot, S3 — a typo must not
    * make a production pipeline silently vanish); during a WATCHER scan
    * (`strict = false`) the offending file is quarantined with a log
    * line and the remaining confs keep their lifecycle — one bad file
    * dropped into the dir mid-run must not stall reloads and removals
    * for every healthy pipeline.
    */
  private def perFile[A](f: File, strict: Boolean)(build: => Option[A]): Option[A] =
    if (strict) build
    else
      scala.util.Try(build).recover { case e =>
        System.err.println(
          s"[PipelineRegistry] quarantined ${f.getName}: ${e.getMessage}")
        None
      }.get

  /** One conf file under parse: the JSON node plus the fields every
    * kind reads the same way, each parsed at most once, on first use —
    * a kind checks its own required fields before touching them, so the
    * first failure names what the operator must fix.
    */
  private final class Conf(val f: File, val node: JsonNode, val kind: String,
      mtime: Long) {
    def has(field: String): Boolean = node.hasNonNull(field)
    def str(field: String): String = node.get(field).asText()
    def int(field: String, dflt: Int): Int =
      if (has(field)) node.get(field).asInt() else dflt
    def dbl(field: String, dflt: Double): Double =
      if (has(field)) node.get(field).asDouble() else dflt
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"${f.getName}: $msg")
    def need(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
    def strSet(field: String): Set[String] =
      if (node.has(field)) node.get(field).elements().asScala.map(_.asText()).toSet
      else Set.empty

    lazy val name: String = validName(f, node)
    /** `"databases"`: the subscribed source dbs. Absent subscribes to
      * EVERY db, for all kinds ([[graft.cdc.Subscription.route]] reads
      * an empty set as all).
      */
    lazy val databases: Set[String] = strSet("databases")
    lazy val deadLetterDir: Option[String] =
      if (has("deadLetterDir")) Some(str("deadLetterDir")) else None
    lazy val metrics: Option[PipelineMetrics.Target] = parseMetrics(f, node)
    lazy val drift: (Boolean, Option[CdcPipeline.DriftPolicy]) =
      parseDrift(f, node, deadLetterDir, metrics)
    lazy val deadLetterRetentionMs: Long =
      parseMillis(f, node, "deadLetterRetentionMs")
    def expectations(schema: StructType): Seq[graft.ops.Profile.Rule] =
      parseExpectationsWithStore(f, node, schema, metrics, deadLetterDir)

    /** `"es": { "url", "username", "password" }` — an Elasticsearch
      * serving target; auth is optional.
      */
    def es: Option[EsTarget] =
      if (!has("es")) None
      else {
        val es = node.get("es")
        need(es.hasNonNull("url"), "es needs url")
        def opt(field: String) =
          if (es.hasNonNull(field)) es.get(field).asText() else ""
        Some(EsTarget(es.get("url").asText(), opt("username"), opt("password")))
      }

    /** The jdbc-or-es sink half ([[ViewTarget]]): `"jdbc": { "url",
      * <tableField>, "stagingColumnTypes"? }`, else the `"es"` target.
      */
    def viewTarget(tableField: String): ViewTarget =
      if (has("jdbc")) {
        val jdbc = node.get("jdbc")
        need(jdbc.hasNonNull("url") && jdbc.hasNonNull(tableField),
          s"jdbc needs url and $tableField")
        JdbcTarget(jdbc.get("url").asText(), jdbc.get(tableField).asText(),
          if (jdbc.hasNonNull("stagingColumnTypes"))
            Some(jdbc.get("stagingColumnTypes").asText()) else None)
      } else es.getOrElse(fail(s"$kind confs need a jdbc or es target"))

    def entry(p: ServedPipeline, target: Option[EsSink.Config] = None): Entry =
      Entry(p, f.getAbsolutePath, mtime, target)
  }

  /** The registration-time serving schema, when a session exists to
    * compute it (expectations resolve against it).
    */
  private def servingSchema(of: SparkSession => StructType,
      dflt: => StructType): StructType =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(of).getOrElse(dflt)

  /** `lww` (or no `"kind"`): a single-table LWW pipeline.
    * {{{
    *   { "name": "orders",
    *     "databases": ["shop"], "tables": ["orders"],
    *     "idKey": "o_orderkey",
    *     "schema": "o_orderkey BIGINT, o_orderstatus STRING" }
    * }}}
    * plus an optional `"es": { "url", "username", "password" }` serving
    * target (the reference's per-script url/auth); its id key is ALWAYS
    * the conf's declared idKey.
    */
  private def lww(c: Conf): Entry = {
    c.need(c.has("name") && c.has("idKey") && c.has("schema"),
      "name, idKey and schema are required")
    val rowSchema = StructType.fromDDL(c.str("schema"))
    val metrics = c.metrics
    val (drift, driftPol) = c.drift
    // two-step build: the ctor validates the transform (file-named),
    // so the OUTGOING document schema — what expectations must resolve
    // against — is computable before the rules parse
    val p0 = named(c.f)(CdcPipeline(
      name = c.name,
      subscription = Subscription(c.databases, c.strSet("tables")),
      rowSchema = rowSchema,
      idKey = c.str("idKey"),
      deadLetterDir = c.deadLetterDir,
      exprTransform = parseTransform(c.f, c.node),
      metrics = metrics,
      driftCheck = drift,
      driftPolicy = driftPol,
      deadLetterRetentionMs = c.deadLetterRetentionMs))
    val rules = c.expectations(servingSchema(p0.outgoingRowSchema, rowSchema))
    val p = named(c.f)(p0.copy(expectations = rules))
    c.need(!c.has("es") || Seq("url", "username", "password")
        .forall(c.node.get("es").hasNonNull),
      "es target needs url, username and password")
    c.entry(p, c.es.map(_.config(p.idKey)))
  }

  /** `view`: the fact ⋈ dim denormalization flow ([[ViewPipeline]]).
    * {{{
    *   { "kind": "view", "name": "orders_enriched",
    *     "databases": ["shop"], "leftOuter": true,
    *     "fact": { "table": "orders", "idKey": "o_orderkey",
    *               "joinKey": "o_custkey",
    *               "schema": "o_orderkey BIGINT, o_custkey BIGINT, ..." },
    *     "dim":  { "table": "customer", "idKey": "c_custkey",
    *               "joinKey": "c_custkey",
    *               "schema": "c_custkey BIGINT, c_name STRING, ..." },
    *     "jdbc": { "url": "jdbc:derby:...", "table": "enriched",
    *               "stagingColumnTypes": "c_name VARCHAR(64), ..." } }
    * }}}
    * The sink half is a [[ViewTarget]]: `"jdbc"` as above, or `"es"`
    * for the reference's id-keyed Elasticsearch document serving. Each
    * side object may also declare its OWN `"driftPolicy"` (same shape as
    * the conf-level one, which it overrides for that side): the fact and
    * dim wires evolve on different clocks, so dim-side warn monitoring
    * can ride beside fact-side drop enforcement.
    */
  private def view(c: Conf): Entry = {
    c.need(c.has("name") && c.has("fact") && c.has("dim"),
      "view confs need name, fact and dim")
    def side(field: String) = {
      val s = c.node.get(field)
      c.need(s.hasNonNull("table") && s.hasNonNull("idKey")
          && s.hasNonNull("joinKey") && s.hasNonNull("schema"),
        s"$field needs table, idKey, joinKey and schema")
      (s.get("table").asText(), StructType.fromDDL(s.get("schema").asText()),
        s.get("idKey").asText(), s.get("joinKey").asText())
    }
    val (fTable, fSchema, fId, fJoin) = side("fact")
    val (dTable, dSchema, dId, dJoin) = side("dim")
    val metrics = c.metrics
    val tgt = c.viewTarget("table")
    def sideDriftPol(field: String): Option[CdcPipeline.DriftPolicy] = {
      val s = c.node.get(field)
      if (!s.hasNonNull("driftPolicy")) None
      else Some(parseDriftPolicy(c.f, s"$field.driftPolicy",
        s.get("driftPolicy"), c.deadLetterDir))
    }
    val (drift, driftPol) = c.drift
    val fDriftPol = sideDriftPol("fact")
    val dDriftPol = sideDriftPol("dim")
    if (fDriftPol.isDefined || dDriftPol.isDefined) {
      c.need(metrics.isDefined,
        "a per-side driftPolicy needs a metrics target to record into")
      metrics.foreach(PipelineMetrics.ensureDriftTable)
    }
    // two-step build (the lww precedent): ctor validates the transform,
    // then expectations resolve against the POST-TRANSFORM flattened
    // serving row a consumer reads
    val p0 = named(c.f)(ViewPipeline(
      name = c.name,
      databases = c.databases,
      factTable = fTable, factSchema = fSchema, factIdField = fId,
      factJoinField = fJoin,
      dimTable = dTable, dimSchema = dSchema, dimIdField = dId,
      dimJoinField = dJoin,
      leftOuter = c.node.has("leftOuter") && c.node.get("leftOuter").asBoolean(),
      target = tgt,
      deadLetterDir = c.deadLetterDir,
      exprTransform = parseTransform(c.f, c.node),
      metrics = metrics,
      driftCheck = drift, driftPolicy = driftPol,
      factDriftPolicy = fDriftPol, dimDriftPolicy = dDriftPol,
      deadLetterRetentionMs = c.deadLetterRetentionMs))
    val rules = c.expectations(servingSchema(p0.servingRowSchema,
      StructType(fSchema.fields ++ dSchema.fields)))
    c.entry(named(c.f)(p0.copy(expectations = rules)))
  }

  /** `ann`: the streaming ANN serving flow ([[AnnServingPipeline]]).
    * {{{
    *   { "kind": "ann", "name": "vecs",
    *     "databases": ["shop"], "table": "embeddings",
    *     "idKey": "vec_id", "vectorField": "embedding",
    *     "centroids": [[1.0, 0.0], [-1.0, 0.0]],
    *     "jdbc": { "url": "jdbc:derby:...", "postingsTable": "postings",
    *               "certTable": "ann_cert" },
    *     "k": 5, "nProbe": 4, "recallFloor": 0.6, "skewBound": 4.0 }
    * }}}
    * `centroids` is the BOOTSTRAP quantizer — an index artifact shipped
    * as conf data, seeding generation 0 only; retrain-and-swap evolves
    * it through the generation pointer without touching the conf.
    * Optional `"es"` adds the consumer-facing document MIRROR (one ES
    * document per served vector; jdbc stays the index's source of
    * truth), with optional `"deadLetterDir"` for undeliverable mirror
    * rows.
    */
  private def ann(c: Conf): Entry = {
    c.need(Seq("name", "table", "idKey", "vectorField", "centroids", "jdbc")
        .forall(c.has),
      "ann confs need name, table, idKey, vectorField, centroids and jdbc")
    val cents = c.node.get("centroids").elements().asScala.map(row =>
      row.elements().asScala.map(_.floatValue()).toArray).toArray
    c.need(cents.nonEmpty && cents.forall(_.length == cents.head.length),
      "centroids must be a non-empty rectangular array")
    val jdbc = c.node.get("jdbc")
    c.need(jdbc.hasNonNull("url") && jdbc.hasNonNull("postingsTable"),
      "jdbc needs url and postingsTable")
    val (drift, driftPol) = c.drift
    c.entry(AnnServingPipeline(
      name = c.name,
      databases = c.databases,
      table = c.str("table"),
      idField = c.str("idKey"),
      vectorField = c.str("vectorField"),
      cents = cents,
      jdbcUrl = jdbc.get("url").asText(),
      postingsTable = jdbc.get("postingsTable").asText(),
      certTable = if (jdbc.hasNonNull("certTable"))
        Some(jdbc.get("certTable").asText()) else None,
      k = c.int("k", 5), nProbe = c.int("nProbe", 4),
      recallFloor = c.dbl("recallFloor", 0.6),
      skewBound = c.dbl("skewBound", 4.0),
      autoRetrain = c.has("autoRetrain") && c.node.get("autoRetrain").asBoolean(),
      maxGenAgeMs = if (c.has("maxGenAgeMs")) c.node.get("maxGenAgeMs").asLong() else 0L,
      metrics = c.metrics,
      // expectation columns resolve against the posting ACTION row the
      // index store serves: the conf's id plus the advisory cell
      expectations = c.expectations(
        StructType.fromDDL(s"${c.str("idKey")} BIGINT, cell INT")),
      esMirror = c.es,
      deadLetterDir = c.deadLetterDir,
      driftCheck = drift, driftPolicy = driftPol,
      deadLetterRetentionMs = c.deadLetterRetentionMs))
  }

  /** `dedup`: the streaming dedup-cluster serving flow
    * ([[DedupClusterPipeline]]).
    * {{{
    *   { "kind": "dedup", "name": "docs",
    *     "databases": ["shop"], "table": "documents",
    *     "idKey": "doc_id", "textField": "text",
    *     "jdbc": { "url": "jdbc:derby:...", "clustersTable": "clusters" },
    *     "shingleN": 3, "bands": 16, "rows": 4, "maxBucket": 256 }
    * }}}
    * The sink half is a [[ViewTarget]] like view confs: `"jdbc"` as
    * above, or `"es"` for id-keyed cluster documents.
    */
  private def dedup(c: Conf): Entry = {
    c.need(Seq("name", "table", "idKey", "textField").forall(c.has),
      "dedup confs need name, table, idKey and textField")
    // the served cluster columns are fixed BIGINT/INT ids: a declared
    // staging type would have nothing to retype
    c.need(!(c.has("jdbc") && c.node.get("jdbc").has("stagingColumnTypes")),
      "jdbc.stagingColumnTypes is not a dedup field (the served cluster " +
        "columns are fixed BIGINT/INT ids)")
    val tgt = c.viewTarget("clustersTable")
    val (drift, driftPol) = c.drift
    c.entry(DedupClusterPipeline(
      name = c.name,
      databases = c.databases,
      table = c.str("table"),
      idField = c.str("idKey"),
      textField = c.str("textField"),
      target = tgt,
      shingleN = c.int("shingleN", 3), bands = c.int("bands", 16),
      rows = c.int("rows", 4), maxBucket = c.int("maxBucket", Int.MaxValue),
      deadLetterDir = c.deadLetterDir,
      verifyThreshold =
        if (c.has("verifyThreshold")) Some(c.node.get("verifyThreshold").asDouble())
        else None,
      metrics = c.metrics,
      // expectation columns resolve against the changed CLUSTER row a
      // serving consumer reads: conf id + cluster assignment
      expectations = c.expectations(StructType.fromDDL(
        s"${c.str("idKey")} BIGINT, cluster_id BIGINT, is_canonical BOOLEAN")),
      driftCheck = drift, driftPolicy = driftPol,
      deadLetterRetentionMs = c.deadLetterRetentionMs))
  }

  /** `search`: the streaming inverted-index/BM25 serving flow
    * ([[SearchServingPipeline]]).
    * {{{
    *   { "kind": "search", "name": "docs",
    *     "databases": ["shop"], "table": "documents",
    *     "idKey": "doc_id", "textField": "text",
    *     "jdbc": { "url": "jdbc:derby:...", "postingsTable": "postings",
    *               "lensTable": "doclens" } }
    * }}}
    */
  private def search(c: Conf): Entry = {
    c.need(Seq("name", "table", "idKey", "textField", "jdbc").forall(c.has),
      "search confs need name, table, idKey, textField and jdbc")
    val jdbc = c.node.get("jdbc")
    c.need(Seq("url", "postingsTable", "lensTable").forall(jdbc.hasNonNull),
      "jdbc needs url, postingsTable and lensTable")
    val (drift, driftPol) = c.drift
    c.entry(SearchServingPipeline(
      name = c.name,
      databases = c.databases,
      table = c.str("table"),
      idField = c.str("idKey"),
      textField = c.str("textField"),
      jdbcUrl = jdbc.get("url").asText(),
      postingsTable = jdbc.get("postingsTable").asText(),
      lensTable = jdbc.get("lensTable").asText(),
      k1 = c.dbl("k1", 1.2), b = c.dbl("b", 0.75),
      metrics = c.metrics,
      // expectation columns resolve against the batch's ± posting
      // contribution row the additive MERGE applies
      expectations = c.expectations(
        StructType.fromDDL("token STRING, doc_id BIGINT, tf BIGINT")),
      deadLetterDir = c.deadLetterDir,
      driftCheck = drift, driftPolicy = driftPol,
      deadLetterRetentionMs = c.deadLetterRetentionMs,
      retireAfterMs = parseMillis(c.f, c.node, "retireAfterMs")))
  }

  private def loadFiles(files: Seq[File], strict: Boolean): Seq[Entry] = {
    val mapper = new ObjectMapper()
    files.flatMap { f => perFile(f, strict) {
      // stamp BEFORE the read: an edit landing mid-parse then shows as
      // changed on the next scan instead of hiding behind a newer mtime
      val mtime = f.lastModified()
      val node = mapper.readTree(f)
      val kind = kindOf(f, node)
      Some(Kinds(kind).parse(new Conf(f, node, kind, mtime)))
    }}
  }

  /** Discover and build every pipeline defined in `dir`, whatever its
    * kind, in conf-file order. Fails fast on a malformed conf (the
    * reference's register-at-boot contract, S3) unless `strict = false`
    * (watcher scans — see [[perFile]]).
    */
  def load(dir: String, strict: Boolean = true): Seq[Entry] =
    loadFiles(confFiles(dir), strict)

  /** Re-read the named conf files leniently — the watcher's reload of
    * what [[changedSince]] flagged. A file that no longer parses is
    * quarantined (logged, left out), so its running pipeline keeps its
    * last good conf; that includes an edit that changes `"kind"` AND
    * breaks the conf.
    */
  def reload(files: Seq[String]): Seq[Entry] =
    loadFiles(files.map(new File(_)).filter(_.isFile), strict = false)

  /** Conf files added or modified since `known` was loaded — the
    * pipelines whose queries need a (re)start (S2 reload semantics).
    * Lists the dir and compares mtimes; parses nothing, so a scan costs
    * no JSON read for an unchanged conf. An edited `"kind"` is an edit
    * like any other: the reload stops the old kind's queries and starts
    * the new kind's against the same work dir.
    */
  def changedSince(known: Seq[Entry], dir: String): Seq[String] = {
    val stamps = known.map(e => e.file -> e.mtime).toMap
    confFiles(dir).filterNot(f =>
      stamps.get(f.getAbsolutePath).contains(f.lastModified()))
      .map(_.getAbsolutePath)
  }

  /** Known conf files deleted from the dir: the pipelines whose queries
    * must be STOPPED (deregistration, the delete half of the reference's
    * script-watcher lifecycle).
    */
  def removedSince(known: Seq[Entry]): Seq[String] =
    known.map(_.file).filterNot(f => new File(f).isFile)

  /** Start one registered pipeline live under `ckptRoot`, in its
    * conf-file-keyed work dir ([[ckptKey]]) — the one start path boot,
    * reload and [[startAll]] share.
    */
  def start(e: Entry, spark: SparkSession, sourceDir: String,
      ckptRoot: String, live: ServedPipeline.Live): Seq[StreamingQuery] =
    e.pipeline.startLive(spark, sourceDir, s"$ckptRoot/${ckptKey(e.file)}",
      e.target.fold(live)(t => live.copy(cfg = t)))

  /** Start every registered pipeline over one shared feed — the
    * reference's fan-out topology (R11): each query gets its own
    * checkpoint dir under `ckptRoot` (its named tailer), keyed by conf
    * file ([[ckptKey]]).
    */
  def startAll(entries: Seq[Entry], spark: SparkSession, sourceDir: String,
      ckptRoot: String, cfg: EsSink.Config,
      transport: EsSink.Transport): Seq[StreamingQuery] =
    entries.flatMap(start(_, spark, sourceDir, ckptRoot,
      ServedPipeline.Live(cfg, transport)))
}
